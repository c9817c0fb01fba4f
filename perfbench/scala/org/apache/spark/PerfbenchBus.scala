package org.apache.spark

/** Crosses the `private[spark]` boundary to drain the asynchronous listener
  * bus, so per-query counts are read only after every event of the query has
  * been delivered to the benchmark's listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
