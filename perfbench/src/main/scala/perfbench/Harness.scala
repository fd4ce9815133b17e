package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, Row, SparkSession}

/** One benchmark run in a fresh JVM: set up a session several times,
  * then drive one workload closed-loop (each query or job starts after
  * the previous one finished) through the engine's public entry points
  * and write the raw timings, result digests and, when tracing, the
  * recorded spans to a JSON file. `perfbench/run.py` derives the
  * metrics from that file.
  *
  * Arguments are `key=value` pairs:
  *  - `workload` — `queries` (run the named registry queries) or
  *    `wordcount` (run `api.MapReduce.wordCount` and write its result);
  *  - `data` — the table directory, or the corpus directory;
  *  - `names` — comma-separated query names, in run order;
  *  - `passes` — timed passes over the workload;
  *  - `warm` — untimed passes run first: they absorb the JVM's one-time
  *    class loading, JIT and code-generation cost, which would
  *    otherwise land on whichever query the seed puts first;
  *  - `order` — `pass` (default: each pass runs every query once, and
  *    every pass after the first runs in a new session) or `query`
  *    (each query runs `warm + passes` times back to back, all in the
  *    first session, so its later runs reuse what its first one
  *    memoized; the JVM figures then cover the warm runs too);
  *  - `solo` — 1: in `pass` order, every timed query runs in a new
  *    session of its own, so it builds every memoized relation it uses;
  *  - `setups`, `cores`, `trace` (0 or 1);
  *  - `work` — scratch directory for Spark and the word-count output;
  *  - `out` — where the raw JSON goes.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val kv = a.split("=", 2); kv(0) -> kv(1) }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val cores = opt("cores").toInt
    val passes = opt("passes").toInt
    val warm = opt.getOrElse("warm", "0").toInt
    val setups = opt("setups").toInt
    val trace = opt("trace") == "1"
    val byQuery = opt.getOrElse("order", "pass") == "query"
    val solo = opt.getOrElse("solo", "0") == "1"
    val names = opt.get("names").map(_.split(",").toSeq.filter(_.nonEmpty)) match {
      case Some(Seq("ALL")) => graft.Registry.queries.map(_.name)
      case other => other.getOrElse(Nil)
    }
    require(workload == "queries" || workload == "wordcount", s"unknown workload $workload")
    require(!byQuery || workload == "queries", "order=query needs workload=queries")
    require(!solo || (workload == "queries" && !byQuery), "solo=1 needs workload=queries, order=pass")

    val json = new Json
    json.field("spark_cores", cores)
    json.field("java_version", System.getProperty("java.version"))

    // Set-up: session build plus first touch of the inputs (resolve
    // every table, or list the corpus), repeated so the reported figure
    // is a median rather than one cold JVM start.
    val setupTimes = ArrayBuffer.empty[(Double, Double)]
    var spark: SparkSession = null
    for (_ <- 1 to setups) {
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = newSession(cores, work)
      val t1 = System.nanoTime()
      if (workload == "queries")
        graft.Tables.all.foreach(t => graft.Tables.load(spark, data, t))
      else
        spark.read.option("wholetext", true).text(data).inputFiles.length
      val t2 = System.nanoTime()
      setupTimes += (((t2 - t0) / 1e9, (t2 - t1) / 1e9))
    }
    json.field("spark_version", spark.version)
    json.arr("setups", setupTimes.map { case (all, resolve) =>
      s"""{"total_s":$all,"resolve_s":$resolve}""" })

    val recorder = if (trace) Some(new Recorder(spark)) else None
    val clock = new Clock
    var gc0 = 0L
    var timedStart = 0.0

    val runs = ArrayBuffer.empty[String]
    val passSpans = ArrayBuffer.empty[String]
    val registry = graft.Registry.byName
    var session = spark

    def startTiming(): Unit = {
      recorder.foreach { r => r.drain(); r.resetCachedPeak() }
      gc0 = gcMillis()
      resetHeapPeaks()
      timedStart = clock.nowMs
    }

    // One query, closed loop: build the plan (`fn`), then collect every
    // row; the digest and the cache release come after the timed span.
    def runQuery(p: Int, timed: Boolean, name: String): Unit = {
      if (solo && timed) {
        session = spark.newSession()
        recorder.foreach(_.attach(session))
      }
      val start = clock.nowMs
      var fnEnd = start
      var rows: Array[Row] = null
      var err: String = null
      try {
        val df = registry(name).fn(session, data)
        fnEnd = clock.nowMs
        rows = df.collect()
      } catch { case e: Throwable => err = String.valueOf(e.getMessage).take(300) }
      val end = clock.nowMs
      if (fnEnd == start) fnEnd = end
      // untimed: release query-scoped caches, digest the rows
      spark.sharedState.cacheManager.clearCache()
      val digest = if (rows == null) "" else Digest.of(rows)
      val nRows = if (rows == null) -1 else rows.length
      runs += s"""{"pass":$p,"timed":$timed,"name":${Json.str(name)},"start_ms":$start,""" +
        s""""fn_end_ms":$fnEnd,"end_ms":$end,"rows":$nRows,"digest":"$digest","error":${Json.str(err)}}"""
    }

    def runWordCount(p: Int, timed: Boolean): Unit = {
      val outDir = s"$work/wordcount-out/pass-$p"
      val start = clock.nowMs
      var err: String = null
      try {
        graft.api.MapReduce.wordCount(session, data)
          .map(kv => s"${kv._1} : ${kv._2}")(Encoders.STRING)
          .write.mode("overwrite").text(outDir)
      } catch { case e: Throwable => err = String.valueOf(e.getMessage).take(300) }
      val end = clock.nowMs
      runs += s"""{"pass":$p,"timed":$timed,"name":"wordcount","start_ms":$start,"fn_end_ms":$start,""" +
        s""""end_ms":$end,"output":${Json.str(outDir)},"error":${Json.str(err)}}"""
    }

    if (byQuery) {
      startTiming()
      names.foreach(name => for (p <- 1 to warm + passes) runQuery(p, p > warm, name))
    } else {
      for (p <- 1 to warm + passes) {
        val timed = p > warm
        if (p > 1) {
          // every pass gets a new session over the same context: an empty
          // SessionMemo, and Tables.load resolves again, as in a first pass
          spark.sharedState.cacheManager.clearCache()
          session = spark.newSession()
          recorder.foreach(_.attach(session))
        }
        if (p == warm + 1) startTiming()
        val pStart = clock.nowMs
        if (workload == "queries") names.foreach(runQuery(p, timed, _))
        else runWordCount(p, timed)
        passSpans += s"""{"pass":$p,"timed":$timed,"start_ms":$pStart,"end_ms":${clock.nowMs}}"""
      }
    }
    json.field("timed_start_ms", timedStart)
    json.field("timed_end_ms", clock.nowMs)
    json.arr("passes", passSpans)
    json.arr("runs", runs)
    json.field("jvm_gc_s", (gcMillis() - gc0) / 1e3)
    json.field("heap_peak_mb", heapPeakBytes() / 1e6)
    recorder.foreach { r => r.drain(); r.writeTo(json) }
    json.field("vm_hwm_kb", vmHwmKb())
    json.field("jvm_uptime_s", ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    Files.write(Paths.get(opt("out")), json.render().getBytes(StandardCharsets.UTF_8))
    stopSession(spark)
  }

  /** The session configuration `graft.Bench` uses, at `local[cores]`,
    * with every scratch file kept under `work`. */
  def newSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  private def heapPeakBytes(): Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Peak resident set size of this JVM (`VmHWM`), or -1 off Linux. */
  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same axis as the scheduler's event timestamps. */
final class Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Minimal JSON object writer (values are pre-rendered). */
final class Json {
  private val fields = ArrayBuffer.empty[String]
  def field(k: String, v: Any): Unit = fields += s"${Json.str(k)}:${v match {
    case s: String => Json.str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }}"
  def raw(k: String, rendered: String): Unit = fields += s"${Json.str(k)}:$rendered"
  def arr(k: String, items: Iterable[String]): Unit = raw(k, items.mkString("[", ",", "]"))
  def render(): String = fields.mkString("{", ",", "}")
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
