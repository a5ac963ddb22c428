package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** HITS (Kleinberg's hubs & authorities) as a FIXED-POINT INTEGER
  * iteration — the second link-analysis scorer next to [[PageRank]],
  * separating "points at good content" (hub) from "is good content"
  * (authority); on a training-data source graph the authority face is
  * the quality prior and the hub face the crawl-frontier prior.
  *
  * Scores live in integer ppm units: each round computes the raw mutual
  * update (auth(v) = Σ_{u→v} hub(u)·w, then hub(v) = Σ_{v→u} auth(u)·w
  * with the FRESH authorities — the textbook sequencing) and max-
  * normalizes back to ≤ `base` by `(raw · base) div max(raw)` with
  * TRUNCATING division, positive operands, so every engine and
  * partitioning reproduces the scores bit for bit — the same trade
  * [[PageRank]] makes. Raw accumulations and the normalize product ride
  * in DECIMAL(38,0): at web scale Σ hub·w exceeds int64 long before it
  * exceeds 38 digits.
  *
  * Scale shape per round: two edge⋈score equi-joins + two keyed
  * aggregates + two 1-row max frames (broadcast) — node/edge-sized
  * frames only, nothing collected. Nodes with no in-edges settle at
  * authority 0, no out-edges at hub 0.
  *
  * Input `edges`: (src, dst, w) with positive integral weights.
  * Output: (node, auth, hub) — BIGINT ppm after `iters` rounds.
  */
object Hits {

  def scores(edges: DataFrame, iters: Int, base: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    // Truncate lineage at the iteration boundaries: the unrolled tree
    // references `e`/`nodes` in every round's two joins and both
    // normalizes, and each round's frame embeds the previous round
    // TWICE (raw join + the 1-row max), so the logical plan grows
    // exponentially in `iters` — at 2 rounds the un-truncated tree
    // re-plans the upstream edge extraction 272 times (measured; zero
    // static exchange reuse). localCheckpoint materializes the
    // vocabulary-bounded frames once (node/edge-sized — the same bound
    // the Scale-shape note below relies on) and every later reference
    // reads the stored blocks; identical values, linear plan.
    val e = Pin(edges.select(col("src"), col("dst"), col("w").cast(LongType).as("w")))
    val nodes = Pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // raw → normalized: every node present (missing raw = 0), one 1-row
    // broadcast max frame, truncating integer division on positives
    def normalize(raw: DataFrame): DataFrame =
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(raw.agg(max(col("r")).as("m"))))
        .select(col("node"),
          coalesce(expr(s"(r * $base) div m"), lit(0L)).cast(LongType).as("s"))
    var hub = nodes.select(col("node"), lit(base).as("s"))
    var auth = hub
    for (_ <- 1 to iters) {
      auth = Pin(normalize(
        e.join(hub.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("s").cast("decimal(38,0)") * col("w")).as("r"))))
      hub = Pin(normalize(
        e.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node"))
          .agg(sum(col("s").cast("decimal(38,0)") * col("w")).as("r"))))
    }
    auth.withColumnRenamed("s", "auth")
      .join(hub.withColumnRenamed("s", "hub"), Seq("node"))
  }
}
