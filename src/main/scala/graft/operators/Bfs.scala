package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Bounded-hop BFS distance labels from a source node over an
  * undirected edge list — "what's within k clicks/links", the
  * neighborhood-expansion primitive behind contamination blast-radius
  * checks and graph-local sampling.
  *
  * The iteration is the MIN-PLUS relaxation (dist ← min(dist,
  * 1 + neighbor dist)), run `hops` rounds synchronously: each round is
  * one equi-join of the adjacency list with the reached-set frame plus
  * one min aggregate — all keyed, nothing collected, and the frame
  * never exceeds the reached node set. Exactly unrollable by a SQL
  * oracle (deterministic integers end to end). For large hop counts a
  * frontier form (expand only nodes discovered last round) saves
  * re-relaxing the interior; at the small k these readouts use,
  * min-plus keeps engine and oracle textually parallel.
  *
  * Input `und`: canonical undirected edges (u < v). Output:
  * (node, dist) for every node within `hops` of `source` — BIGINT,
  * dist 0 for the source; unreached nodes are absent.
  */
object Bfs {

  def hops(und: DataFrame, source: Long, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    // materialized once: each relaxation round re-references adj; the
    // truncation keeps the upstream edge derivation from re-executing
    // per round (vocabulary-bounded frame)
    val adj = Pin(und.select(col("u").as("c"), col("v").as("n"))
      .unionAll(und.select(col("v").as("c"), col("u").as("n"))))
    var dist = und.sparkSession.range(1)
      .select(lit(source).cast(LongType).as("node"), lit(0L).as("dist"))
    for (i <- 1 to rounds) {
      dist = dist
        .unionByName(adj
          .join(dist.withColumnRenamed("node", "n"), Seq("n"))
          .select(col("c").as("node"), (col("dist") + 1).cast(LongType).as("dist")))
        .groupBy(col("node")).agg(min(col("dist")).cast(LongType).as("dist"))
      if (i < rounds) dist = Pin(dist) // O(1) lineage per round
    }
    dist
  }
}
