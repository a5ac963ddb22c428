package graft.operators

import org.apache.spark.sql.DataFrame

/** The one lineage-truncation policy for iterative loops and frames that
  * several consumers re-read. Defaults to `localCheckpoint` (executor-local
  * blocks — fast, no infrastructure), which trades fault tolerance for
  * speed: blocks live only on executors, so losing one mid-loop fails the
  * job instead of recomputing. For fault-tolerant production runs, opt in
  * to reliable checkpointing by setting a checkpoint dir
  * (`spark.sparkContext.setCheckpointDir(...)`) — when one is set, every
  * pin checkpoints to that (replicated/DFS) location instead.
  */
object Pin {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
