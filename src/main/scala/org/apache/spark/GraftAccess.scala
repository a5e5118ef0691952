package org.apache.spark

/** The Spark-internal handles graft needs (`listenerBus` and
  * `AccumulatorContext` are `private[spark]`).
  */
object GraftAccess {
  /** Block until every listener event posted so far is delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drop an accumulator from the driver's accumulator registry. */
  def unregister(acc: org.apache.spark.util.AccumulatorV2[_, _]): Unit =
    org.apache.spark.util.AccumulatorContext.remove(acc.id)
}
