package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's engine counters are complete before they are read. Lives
  * in this package because the listener bus is `private[spark]`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
