package org.apache.spark

/** Spec access to the `private[spark]` checkpoint directory: there is no
  * public way to unset it, and a spec that sets one must hand the shared
  * context back in local-checkpoint mode. */
object CheckpointDirAccess {
  def reset(sc: SparkContext): Unit = sc.checkpointDir = None
}
