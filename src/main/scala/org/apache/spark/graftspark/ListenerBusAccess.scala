package org.apache.spark.graftspark

import org.apache.spark.SparkContext

/** Compile-checked accessor for the `private[spark]` listener bus.
  * Harnesses and specs that read SparkListener-accumulated metrics
  * (job counts, shuffle bytes) must drain the asynchronous bus before
  * reading, or a slow bus can deliver
  * SparkListenerStageCompleted events after the read — a fixed
  * Thread.sleep is a race (ADVICE r10). This lives under
  * org.apache.spark.* solely to satisfy the `private[spark]` scope; it
  * is the same access pattern Spark's own test utilities use. */
object ListenerBusAccess {
  /** Block until every queued listener event has been delivered, or the
    * timeout elapses (then throws TimeoutException — better a loud
    * failure than a silent under-count). */
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
