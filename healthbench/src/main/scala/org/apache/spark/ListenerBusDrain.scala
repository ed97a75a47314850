package org.apache.spark

/** The listener bus is asynchronous; a span's counters are complete only
  * once every event posted before the span ended has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
