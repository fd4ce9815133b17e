package org.apache.spark

/** Blocks until every event posted so far has reached the listeners;
  * the bus is private to Spark, hence the package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
