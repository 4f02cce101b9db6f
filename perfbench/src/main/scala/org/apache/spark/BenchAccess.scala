package org.apache.spark

/** Waits until every queued listener event has been delivered, so a traced
  * window is complete before it is summed. The listener bus is private to
  * Spark; this accessor is the only reason the file sits in Spark's package.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
