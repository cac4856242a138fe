package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * spec's listener has seen all jobs an action started. The bus is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
