package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Per-node triangle counting and local clustering coefficient on an
  * undirected graph — the community-density readout (how clique-like each
  * node's neighborhood is) that link-quality and spam-farm detection in a
  * web-scale corpus pipeline reads off the hyperlink graph.
  *
  * The enumeration is DEGREE-ORDERED (the standard distributed-triangle
  * trick): each undirected edge is oriented from its lower-(degree, id)
  * endpoint to the higher one, wedges are generated only at each apex's
  * oriented out-neighbors, and a wedge closes iff its third side exists.
  * Every triangle then has exactly ONE apex (its minimum-rank corner), so
  * no dedup shuffle is needed, and the wedge count is bounded by
  * Σ_v (outdeg(v) choose 2) with outdeg(v) = O(√m) on any graph — the
  * all-pairs blowup a naive neighbor self-join hits on hot nodes (a
  * celebrity node with 10M followers would otherwise generate 10M² wedge
  * rows) cannot happen. All three steps are plain equi-joins that shuffle
  * on a node key; nothing is collected, nothing is broadcast but what AQE
  * chooses to.
  *
  * Input `edges`: (a, b) node pairs, any orientation, duplicates and
  * self-loops tolerated (canonicalized and dropped here). Output one row
  * per node: (node, deg, tri, coeff) with `deg` the undirected distinct
  * degree, `tri` the number of triangles through the node, and `coeff`
  * the local clustering coefficient 2·tri/(deg·(deg−1)) as ONE pinned
  * left-to-right double expression (0.0 for deg < 2 — no neighbor pair
  * exists to close).
  */
object Triangles {

  /** Canonical distinct undirected edge list (u < v). */
  def undirected(edges: DataFrame): DataFrame = {
    val Seq(a, b) = edges.columns.toSeq.take(2).map(col)
    edges
      .select(least(a, b).as("u"), greatest(a, b).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Bounded-round k-core peeling — the dense-subgraph miner: repeat
    * `rounds` times "drop every node of undirected degree < k and the
    * edges touching it", and return the survivors with their residual
    * degree. The full k-core is this peel iterated to a fixed point;
    * bounding the rounds keeps the operator oracle-replayable (each
    * round is one degree aggregate + two semi-joins, CTE-unrollable)
    * and the round count is an explicit knob — on real graphs the peel
    * converges in a handful of rounds, and a caller wanting the fixed
    * point re-runs until the survivor count stops moving.
    *
    * Scale shape: per round one keyed degree aggregate over the edge
    * list and two node-key equi-joins back — no window, no collect;
    * each round's edge frame is checkpointed so the loop's lineage
    * stays flat. Returns (node, deg) of nodes with ≥ 1 surviving edge.
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    def degrees(und: DataFrame): DataFrame =
      und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy(col("node"))
        .agg(count(lit(1)).cast(LongType).as("deg"))
    var und = Pin(undirected(edges))
    for (_ <- 1 to rounds) {
      val keep = degrees(und).filter(col("deg") >= k).select(col("node"))
      und = Pin(und
        .join(keep.select(col("node").as("u")), Seq("u"))
        .join(keep.select(col("node").as("v")), Seq("v"))
        .select(col("u"), col("v")))
    }
    degrees(und)
  }

  /** Degree assortativity — the Pearson correlation of endpoint degrees
    * over every (directed-both-ways) edge: do high-degree nodes link to
    * high-degree nodes (social graphs, r > 0) or to leaves (hub-spoke /
    * spam-farm topologies, r < 0)? The one-number mixing profile next to
    * [[nodeTriangles]]' local density. Sufficient statistics accumulate
    * exactly (degree products in DECIMAL(38,0) — order-independent,
    * engine-exact); r is the one pinned double sequence, rounded to 12
    * (the > 2⁵³ decimal→double convention). A degree-regular graph has
    * zero variance → NULL r. Returns one row (n, r) with n the directed
    * edge-end count = 2·|edges|.
    *
    * Scale shape: one degree aggregate, two node-key joins back, one
    * global aggregate — no window, no collect.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val dec38 = "decimal(38,0)"
    val und = undirected(edges)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).cast(LongType).as("deg"))
    val j = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val e = j.select(col("du").as("x"), col("dv").as("y"))
      .unionAll(j.select(col("dv").as("x"), col("du").as("y")))
    val st = e.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum(col("x")).cast(LongType).as("sx"),
      sum(col("y")).cast(LongType).as("sy"),
      sum(col("x").cast(dec38) * col("y")).cast(dec38).as("sxy"),
      sum(col("x").cast(dec38) * col("x")).cast(dec38).as("sxx"),
      sum(col("y").cast(dec38) * col("y")).cast(dec38).as("syy"))
    val nD = col("n").cast("double")
    val covN = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val varX = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val varY = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    st.select(col("n"),
      when(varX > 0 && varY > 0,
        round(covN / (sqrt(varX) * sqrt(varY)), 12)).as("r"))
  }

  /** (node, deg, tri, coeff) per node of `edges` (raw pair list). */
  def nodeTriangles(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).cast(LongType).as("deg"))

    // Orient u→v iff (deg(u), u) < (deg(v), v): ranks are distinct, so the
    // orientation is total and every triangle keeps exactly one apex.
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val oriented = withDeg.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("src"), col("v").as("dst")))
        .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

    // Wedges at each apex: unordered out-neighbor pairs (x < y by node id),
    // closed by the canonical third side (least, greatest) in `und`.
    val o2 = oriented.select(col("src"), col("dst").as("dst2"))
    val wedges = oriented.join(o2, Seq("src"))
      .filter(col("dst") < col("dst2"))
    val triangles = wedges.join(
      und,
      col("u") === col("dst") && col("v") === col("dst2"))
      .select(col("src").as("n1"), col("dst").as("n2"), col("dst2").as("n3"))

    val triPerNode = triangles
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).cast(LongType).as("tri"))

    deg.join(triPerNode, Seq("node"), "left")
      .select(
        col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).cast(LongType).as("tri"))
      .withColumn("coeff",
        when(col("deg") >= 2,
          lit(2.0) * col("tri").cast("double") /
            (col("deg").cast("double") * (col("deg") - 1).cast("double")))
          .otherwise(lit(0.0)))
  }
}
