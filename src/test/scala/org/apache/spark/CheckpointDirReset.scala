package org.apache.spark

/** Clears the context's checkpoint dir, so a spec that set one hands
  * the shared session back on the localCheckpoint path. Spark has no
  * public unset and the field is `private[spark]`, hence this one-line
  * bridge in Spark's package. */
object CheckpointDirReset {
  def apply(sc: SparkContext): Unit = sc.checkpointDir = None
}
