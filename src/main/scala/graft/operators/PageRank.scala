package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank as a FIXED-POINT INTEGER iteration — link-analysis
  * authority scoring (the quality-weighting signal web-scale training-data
  * pipelines attach to sources) computed so that every engine and every
  * partitioning produces the IDENTICAL ranks.
  *
  * Ranks live in integer "ppm" units (node starts at `baseRank` =
  * 1 000 000) and each round applies the damped update
  *
  *   rank'(v) = teleport + (dampNum · Σ_{u→v} (rank(u)·w(u,v) div outW(u)))
  *              div dampDen
  *
  * with TRUNCATING integer division (`div` in Spark, `//` in an ANSI
  * oracle — both floor for the non-negative operands here). A float
  * formulation would drift across partial-aggregation orders; this one is
  * reproducible bit for bit, and the sub-ppm mass the truncation sheds is
  * far below any ranking decision threshold.
  *
  * Scale shape: each iteration is ONE equi-join of the edge list with the
  * (node, rank) frame plus ONE hash aggregate on the destination — the
  * canonical distributed PageRank step; nothing is collected, and the
  * rank frame stays node-sized. Dangling nodes (no out-edges) simply
  * contribute nothing, and nodes with no in-edges settle at the teleport
  * floor. The iteration count is a caller-fixed unroll; the weighted
  * edge list and node frame are localCheckpoint-materialized once so the
  * per-round joins read stored blocks instead of re-running the upstream
  * extraction (past ~10 rounds, checkpoint the rank frame per round too,
  * as [[Dedup.dupClusters]] does, to keep lineage O(1)).
  *
  * Input `edges`: (src, dst, w) with positive integral weights.
  * Output: (node, rank) — BIGINT ppm after `iters` rounds.
  */
object PageRank {

  def ranks(edges: DataFrame, iters: Int, baseRank: Long = 1000000L,
      dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    require(dampNum >= 0 && dampDen > dampNum,
      s"damping must satisfy 0 <= num < den, got $dampNum/$dampDen")
    val teleport = baseRank * (dampDen - dampNum) / dampDen
    // materialize the caller's edge list ONCE (localCheckpoint): outW, the
    // out-weight-joined e, and the node frame all re-reference it, and e is
    // then re-referenced by every round's join — without truncation the
    // upstream edge extraction re-plans and re-executes 4+ times (all these
    // frames are the vocabulary-bounded graph, tiny relative to the raw feed)
    val e0 = Pin(edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    val outW = e0.groupBy(col("src"))
      .agg(sum(col("w")).cast("long").as("outw"))
    val e = Pin(e0.join(outW, Seq("src")))
    val nodes = Pin(e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct())
    var rank = nodes.select(col("node"), lit(baseRank).as("rank"))
    for (_ <- 1 to iters) {
      val inbound = e.join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("(rank * w) div outw").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("sc"))
      rank = nodes.join(inbound, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"($dampNum * coalesce(sc, 0L)) div $dampDen")).as("rank"))
    }
    rank
  }

  /** PERSONALIZED PageRank — the same damped fixed-point-integer
    * iteration with the teleport mass restricted to a SEED set: rank
    * flows outward from the seeds along edges and restarts at them, so
    * the stationary scores read as "proximity to the seeds" — the
    * graph-similarity retrieval primitive (related-pages / related-
    * sources expansion; Jeh & Widom 2003). Seeds start at `baseRank`,
    * everything else at 0; per round, only seeds receive the teleport
    * term, and the damped inbound sum is the shared truncating lattice
    * of [[ranks]] — engine-exact, partitioning-independent.
    *
    * Scale shape: identical to [[ranks]] (one edge join + one hash
    * aggregate per round) plus a broadcast seed-flag join on the
    * node frame; the seed set must be small (it is broadcast).
    * Unreachable nodes settle at exactly 0 and seeds at ≥ teleport —
    * certifiable floors, which a float formulation can't promise.
    *
    * Input: `edges` (src, dst, w positive integral), `seeds` (node).
    * Output: (node, rank) BIGINT ppm after `iters` rounds.
    */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame, iters: Int,
      baseRank: Long = 1000000L, dampNum: Int = 85, dampDen: Int = 100)
      : DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    require(dampNum >= 0 && dampDen > dampNum,
      s"damping must satisfy 0 <= num < den, got $dampNum/$dampDen")
    val teleport = baseRank * (dampDen - dampNum) / dampDen
    val e0 = Pin(edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    val outW = e0.groupBy(col("src"))
      .agg(sum(col("w")).cast("long").as("outw"))
    val e = Pin(e0.join(outW, Seq("src")))
    val nodes = Pin(e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
      .join(broadcast(seeds.select(col("node")).distinct()
        .withColumn("__seed", lit(1))), Seq("node"), "left")
      .select(col("node"),
        when(col("__seed").isNotNull, lit(teleport)).otherwise(lit(0L))
          .as("tele"),
        when(col("__seed").isNotNull, lit(baseRank)).otherwise(lit(0L))
          .as("r0")))
    var rank = nodes.select(col("node"), col("r0").as("rank"))
    for (_ <- 1 to iters) {
      val inbound = e.join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("(rank * w) div outw").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("sc"))
      rank = nodes.join(inbound, Seq("node"), "left")
        .select(col("node"),
          (col("tele") +
            expr(s"($dampNum * coalesce(sc, 0L)) div $dampDen")).as("rank"))
    }
    rank
  }
}
