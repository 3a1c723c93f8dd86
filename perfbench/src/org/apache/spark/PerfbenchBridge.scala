package org.apache.spark

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before reading its counters. `listenerBus` is private[spark]. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
