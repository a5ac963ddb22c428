package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Sets a context's checkpoint dir exactly (`None` clears it). The public
  * `setCheckpointDir` always creates a fresh subdirectory, so it cannot
  * put back the dir a spec found.
  */
object CheckpointDir {
  def set(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
