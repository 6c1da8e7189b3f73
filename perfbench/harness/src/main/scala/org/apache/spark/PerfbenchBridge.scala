package org.apache.spark

/** Package-local access to the listener bus, so the harness can read its
  * listener's counters only after every posted event has been delivered —
  * no sleeping and hoping the bus has caught up. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
