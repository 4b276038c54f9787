package org.apache.spark

/** Access to the `private[spark]` listener bus: the traced run reads its
  * listener's counters only after every posted event was delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
