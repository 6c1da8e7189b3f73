package org.apache.spark

/** Package-local access to the listener bus, so a test reads its
  * listener's counters only after every posted event has been delivered. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
