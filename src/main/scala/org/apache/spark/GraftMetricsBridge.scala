package org.apache.spark

/** Package-private access for the bench harness: listener events are
  * delivered asynchronously, so reading a metrics accumulator right
  * after an action undercounts unless the bus is drained first.
  * `listenerBus` is private[spark] — same bridge trick as
  * org.apache.spark.sql.GraftExpressionBridge. */
object GraftMetricsBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
