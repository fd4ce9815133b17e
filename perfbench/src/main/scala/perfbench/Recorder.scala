package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: a `SparkListener` for jobs, stages, tasks
  * and storage-block updates, and a `QueryExecutionListener` for every
  * Dataset action with its Catalyst phase times (`qe.tracker.phases`).
  * Events are kept in memory and rendered once, when the run ends. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val jobStarts = mutable.HashMap.empty[Int, (Long, Seq[Int])]
  private val stages = mutable.ArrayBuffer.empty[String]
  private val tasks = mutable.ArrayBuffer.empty[String]
  private val execs = mutable.ArrayBuffer.empty[String]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  private var cachedPeak = 0L

  spark.sparkContext.addSparkListener(this)
  attach(spark)

  /** Register the action listener on a session (each session has its
    * own listener manager). */
  def attach(s: SparkSession): Unit = s.listenerManager.register(Actions)

  private object Actions extends QueryExecutionListener {
    private def record(name: String, qe: QueryExecution, ok: Boolean): Unit = {
      val end = System.currentTimeMillis()
      val ph = qe.tracker.phases
      def phase(p: String): String =
        ph.get(p).map(s => s"[${s.startTimeMs},${s.endTimeMs}]").getOrElse("null")
      Recorder.this.synchronized {
        execs += s"""{"action":${Json.str(name)},"end_ms":$end,"ok":$ok,""" +
          s""""analysis":${phase("analysis")},"optimization":${phase("optimization")},""" +
          s""""planning":${phase("planning")}}"""
      }
    }
    override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
      record(name, qe, ok = true)
    override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
      record(name, qe, ok = false)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (start, stageIds) =>
      val ok = e.jobResult == JobSucceeded
      jobs += s"""{"id":${e.jobId},"start_ms":$start,"end_ms":${e.time},"ok":$ok,""" +
        s""""stages":${stageIds.mkString("[", ",", "]")}}"""
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages += s"""{"id":${s.stageId},"attempt":${s.attemptNumber()},"tasks":${s.numTasks},""" +
      s""""start_ms":${s.submissionTime.getOrElse(-1L)},"end_ms":${s.completionTime.getOrElse(-1L)}}"""
  }

  /** One task as a flat array, in the order of [[Recorder.TaskFields]]. */
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    val row =
      if (m == null) Seq(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else Seq(e.stageId, i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.executorDeserializeTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, if (i.successful) 1 else 0)
    tasks += row.mkString("[", ",", "]")
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += bytes - blocks.getOrElse(key, 0L)
      if (bytes == 0L) blocks.remove(key) else blocks(key) = bytes
      cachedPeak = math.max(cachedPeak, cachedBytes)
    }
  }

  /** Start the cached-bytes peak again from what is cached now. */
  def resetCachedPeak(): Unit = synchronized { cachedPeak = cachedBytes }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

  def writeTo(json: Json): Unit = synchronized {
    json.raw("trace", s"""{"task_fields":${Recorder.TaskFields.map(Json.str).mkString("[", ",", "]")},""" +
      s""""jobs":${jobs.mkString("[", ",", "]")},"stages":${stages.mkString("[", ",", "]")},""" +
      s""""tasks":${tasks.mkString("[", ",", "]")},"actions":${execs.mkString("[", ",", "]")},""" +
      s""""cached_peak_mb":${cachedPeak / 1e6}}""")
  }
}

object Recorder {
  val TaskFields: Seq[String] = Seq("stage", "launch_ms", "finish_ms", "run_ms", "cpu_ns",
    "gc_ms", "deser_ms", "input_bytes", "input_records", "shuffle_write_bytes",
    "shuffle_write_records", "shuffle_read_bytes", "shuffle_read_records",
    "fetch_wait_ms", "spill_bytes", "output_bytes", "ok")
}
