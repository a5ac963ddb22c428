package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Community detection by SYNCHRONOUS label propagation (Raghavan et al.
  * 2007, made deterministic): every node starts labeled with its own id,
  * and each round relabels every node with the most frequent label among
  * its NEIGHBORS, ties broken by the smallest label. Densely connected
  * regions converge onto one label — the communities a curation pipeline
  * uses to cap per-community sampling or to split train/test by
  * community (leakage-free splits, like `split_by_cluster` but for
  * graphs).
  *
  * Determinism: the textbook algorithm visits nodes in random order and
  * breaks ties randomly; this form is a synchronous (Jacobi-style)
  * update with a total tie order (count DESC, label ASC), so every
  * engine, partitioning, and replay produces the identical labeling —
  * the same trade [[PageRank]] makes with integer rank units. The price
  * is the known 2-cycle oscillation risk on bipartite-ish regions;
  * callers pick a fixed round count (the readout query pins 3) rather
  * than iterating to convergence.
  *
  * Scale shape per round: ONE equi-join of the adjacency list with the
  * node-sized label frame (shuffle on the neighbor id) + ONE hash
  * aggregate on (node, label) + ONE argmax aggregate on node — all
  * keyed, nothing collected, label frame stays node-sized. max_by's
  * struct comparison makes the argmax a map-side-partial aggregate, not
  * a per-node sort. Isolated nodes never appear in an edge list, so the
  * caller's node universe IS the edge endpoints; every endpoint has a
  * neighbor, so the left join below never leaves a null label.
  *
  * Input `und`: canonical distinct undirected edges (u < v), as produced
  * by [[Triangles.undirected]]. Output: (node, label) after `rounds`
  * synchronous updates — both BIGINT.
  */
object LabelProp {

  def propagate(und: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    // materialized once: every round's vote join re-references adj, so
    // without truncation the upstream edge derivation re-executes per
    // round (vocabulary-bounded frame, same budget as the labels)
    val adj = Pin(und.select(col("u").as("c"), col("v").as("n"))
      .unionAll(und.select(col("v").as("c"), col("u").as("n"))))
    val nodes = adj.select(col("c").as("node")).distinct()
    var labels = nodes.select(col("node"), col("node").cast(LongType).as("label"))
    for (i <- 1 to rounds) {
      val votes = adj
        .join(labels.withColumnRenamed("node", "n"), Seq("n"))
        .groupBy(col("c"), col("label"))
        .agg(count(lit(1)).cast(LongType).as("cnt"))
      // argmax by (cnt DESC, label ASC): labels are non-negative node
      // ids, so -label orders ascending inside the struct max
      labels = votes
        .groupBy(col("c").as("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).cast(LongType).as("label"))
      // cut the per-round lineage growth exactly as the clustering loops
      // do (see Pin for the checkpoint tradeoff)
      if (i < rounds) labels = Pin(labels)
    }
    labels
  }
}
