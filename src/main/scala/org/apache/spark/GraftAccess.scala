package org.apache.spark

/** The Spark-internal handle graft's tools need (`listenerBus` is
  * `private[spark]`).
  */
object GraftAccess {
  /** Block until every listener event posted so far is delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
