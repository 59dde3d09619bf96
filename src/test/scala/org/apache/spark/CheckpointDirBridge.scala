package org.apache.spark

/** Test-only write access to `SparkContext.checkpointDir`. Spark offers a
  * public setter but no way to clear the dir again, so a spec that sets one
  * on the shared session restores the previous value (usually `None`) here.
  */
object CheckpointDirBridge {
  def set(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
