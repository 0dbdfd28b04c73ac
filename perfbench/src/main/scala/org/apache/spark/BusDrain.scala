package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a trace never attributes jobs whose events are still queued. The
  * listener bus is package-private; this is its one use here. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
