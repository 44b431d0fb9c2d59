package org.apache.spark

/** The one `private[spark]` call the benchmark's tracer needs: block
  * until every posted listener event has been delivered, so counts read
  * after a job are complete. Lives in Spark's package namespace for
  * that access only and holds no logic.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
