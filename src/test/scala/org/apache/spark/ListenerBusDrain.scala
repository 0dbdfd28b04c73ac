package org.apache.spark

/** Blocks until the listener bus has delivered every queued event —
  * the bus is `private[spark]`, hence this package. Specs that count
  * jobs call it before reading a listener's counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
