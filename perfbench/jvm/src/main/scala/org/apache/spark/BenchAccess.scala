package org.apache.spark

/** The Spark-internal readings the benchmark needs. */
object BenchAccess {
  /** Wait until every listener event posted so far has been delivered,
    * so per-op job and task counts are complete before the next op.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Generated classes compiled so far in this JVM (whole-stage codegen
    * and expression codegen; a cache hit compiles nothing).
    */
  def codegenCompiles: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
