package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D SKYLINE (Pareto front, maximize–maximize): the points no other
  * point dominates, where (x', y') dominates (x, y) iff x' ≥ x, y' ≥ y
  * and at least one is strict (Börzsönyi et al., "The Skyline
  * Operator"). The multi-objective "best customers / best configs"
  * readout a single ORDER BY can't express.
  *
  * Scale shape — NOT the textbook quadratic self-join and NOT a
  * single-task global window:
  *
  *  1. Per-x reduction: only (x, max y over x) can be on the front
  *     (anything below its x-group's max is dominated by that max) —
  *     one keyed aggregate, output ≤ distinct-x rows with DISTINCT x.
  *  2. Sweep: a candidate survives iff its y exceeds the running max of
  *     y over all STRICTLY larger x. The running max distributes by
  *     range-partitioning candidates on x DESC: per-partition maxima
  *     (one tiny nRanges-row frame) turn into exclusive per-partition
  *     prefixes via a bounded window (nRanges rows — the only
  *     "global" window, on a frame whose size the CALLER fixed), and
  *     each partition finishes with a partition-local running max. No
  *     task ever sees more than its range of candidates.
  *
  * The result is the DISTINCT front points (x, y); callers join rows
  * back on (x, y) equality to recover every input row sitting on the
  * front (equal points tie — neither dominates, both belong). Rows with
  * a null x or y carry no dominance meaning and are dropped. For
  * minimize dimensions, negate the column before calling.
  *
  * Exactness: the per-x reduction and the strict-sweep rule are both
  * necessary conditions of the dominance definition (proof in the
  * registered query's oracle, which IS the brute-force NOT EXISTS
  * formulation — the hash match certifies this plan equals it).
  */
object Skyline {

  def paretoFront2d(df: DataFrame, xCol: String, yCol: String,
      nRanges: Int = 32): DataFrame = {
    require(nRanges >= 1, s"need a positive range count, got $nRanges")
    val cand = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol)).agg(max(col(yCol)).as(yCol))
    // pin the range partitioning: spark_partition_id is recompute-
    // dependent (range bounds come from sampling), and the per-partition
    // max frame and the sweep must see the SAME assignment
    val parted = Pin(cand.repartitionByRange(nRanges, col(xCol).desc)
      .withColumn("__pid", spark_partition_id()))
    // exclusive prefix max across partitions: nRanges rows, bounded
    val byPid = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = parted.groupBy(col("__pid"))
      .agg(max(col(yCol)).as("__m"))
      .select(col("__pid"), max(col("__m")).over(byPid).as("__pre"))
    // partition-local running max; prior rows (this partition's earlier
    // ranks + all earlier partitions) hold strictly larger x because
    // candidates have distinct x and pid order follows x DESC
    val inPart = Window.partitionBy(col("__pid")).orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    parted.join(broadcast(prefix), Seq("__pid"), "left")
      .withColumn("__run",
        greatest(max(col(yCol)).over(inPart), col("__pre")))
      .filter(col("__run").isNull || col(yCol) > col("__run"))
      .select(col(xCol), col(yCol))
  }
}
