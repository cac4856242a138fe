package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so the traced run reads complete job, stage and task records. The
  * bus is `private[spark]`, hence this one-line bridge in Spark's
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
