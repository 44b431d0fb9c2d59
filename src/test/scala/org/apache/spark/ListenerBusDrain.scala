package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * test's listener counts are complete. In Spark's package namespace
  * for the `private[spark]` listener bus only. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
