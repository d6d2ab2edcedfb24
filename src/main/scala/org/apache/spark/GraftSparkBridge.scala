package org.apache.spark

/** Bridge into `private[spark]` internals: the scheduler's listener bus,
  * which the benchmark's per-query task-metric accounting drains, and the
  * codegen metrics.
  */
object GraftSparkBridge {

  /** Block until every queued listener event has been delivered.
    * Listener delivery is asynchronous, so a per-query metric window
    * (reset counters → run → read counters) is only correct if the bus
    * is drained at both edges — otherwise a task-end event from query
    * N lands in query N+1's window.
    */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Generated classes compiled in this JVM so far (by the driver and, in
    * local mode, by tasks): the sample count of
    * `CodegenMetrics.METRIC_COMPILATION_TIME`, which `CodeGenerator`
    * updates on each compile-cache miss.
    */
  def codegenCompilations: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
