package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration: [[Bench]], [[Verify]], [[Debug]] and the
  * specs all build from [[builder]], so the plans that are verified and
  * spec-checked are the plans that are benched. Spark SQL plans depend
  * strongly on these settings (split sizes, shuffle width, AQE
  * coalescing), so they live in one place.
  */
object Session {

  /** The session settings at `cpus` local cores.
    *
    * Scan parallelism derives from the CORE COUNT, not a byte constant
    * (guide §6 / round-19 profiling): the harness tables are single
    * ~1-11 MB parquet files, and the default 4 MB openCostInBytes floor
    * packed e.g. lineitem's 600k rows into 3 scan tasks on a 32-core box —
    * every scan-bound query ran ≤ 10% utilized (q1's scan-agg stage wall
    * 2.4 s at 3 tasks). 512 KB / minPartitionNum=cpus splits lineitem ~21
    * ways while leaving the sub-MB dims at 1-2 splits (a first cut at
    * 256 KB / 2×cpus split everything ~42 ways and the M×R shuffle-block
    * inflation, guide §2.2, regressed the shuffle-heavy small queries).
    * minPartitionNum scales with the core count (a no-op at cluster scale,
    * where files vastly outnumber cores); the open cost is env-tunable
    * with a local-NVMe default — production object-store deployments keep
    * Spark's 4 MB via SPARK_GRAFT_OPEN_COST.
    */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.files.minPartitionNum" -> cpus.toString,
    "spark.sql.files.openCostInBytes" ->
      sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "524288"),
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "131072"),
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    // events.parquet stores INT64 nanosecond timestamps;
    // Tables.events converts the long back to a timestamp
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` builder carrying [[settings]]; `cpus` defaults to
    * SPARK_GRAFT_CPUS, else 32 (the bench host's core count).
    */
  def builder(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession.Builder =
    settings(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }
}
