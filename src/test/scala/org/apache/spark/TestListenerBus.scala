package org.apache.spark

/** The listener bus is asynchronous; a listener's counters are complete only
  * once every event posted before the measured call returned is delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
