package org.apache.spark

/** Test access to the driver's listener bus, whose drain is
  * package-private: after `apply` returns, every event posted so far
  * has reached every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
