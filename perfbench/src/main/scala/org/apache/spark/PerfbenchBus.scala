package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * benchmark can read listener-side counters for an op right after it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
