package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so task and progress counters read after an operation are complete.
  * The listener bus is package-private, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
