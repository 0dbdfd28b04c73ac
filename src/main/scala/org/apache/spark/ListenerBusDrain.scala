package org.apache.spark

/** Blocks until the listener bus has delivered every queued event —
  * the bus is `private[spark]`, hence this package.
  * [[graft.util.JobLog]] calls it around each recorded block. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
