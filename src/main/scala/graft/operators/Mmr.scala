package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) — the
  * diversified-retrieval step between a nearest-neighbor candidate pool
  * and what a RAG pipeline actually feeds the model: greedily pick items
  * that are CLOSE to the query but FAR from what's already picked, so
  * near-duplicate top hits don't crowd out coverage. [[Coreset]] is the
  * query-free cousin (pure spread); MMR anchors the spread to a query.
  *
  * Geometry is squared euclidean (rational — exact in DECIMAL(38,18),
  * the [[Coreset]] convention), with λ = 1/2: the greedy argmax of
  * λ·(−d²(q,c)) − (1−λ)·max_{s∈S}(−d²(c,s)) is, scaled by 2, the argmax
  * of min_{s∈S} d²(c,s) − d²(q,c) — one exact decimal subtraction per
  * candidate, so every pick (ties to the lowest id) replays identically
  * in any engine; the registered query's oracle unrolls all rounds as
  * CTEs. The first pick has an empty diversity term and is the pure
  * relevance argmin.
  *
  * Scale shape: relevance d² to the query is ONE broadcast join of the
  * element stream against the query's elements + ONE keyed aggregate
  * (corpus-sized — the expensive stage); the pool cut is a
  * TakeOrdered(poolSize); the pool's pairwise d² matrix is
  * poolSize²-bounded (a pool-semi-joined element self-join); the greedy
  * loop runs on that bounded frame's collected rows — driver state is
  * O(poolSize²) decimals by construction, the same bounded-collect class
  * as the k-means seeding paths.
  *
  * Input `el`: the dense element stream (vec_id, i, x double) — every
  * vector carries the same index set, the element form of
  * [[Coreset.kCentersOf]]'s dense array contract. Output: one row per
  * pick in selection order — (rnk, vec_id, rel_d2, div_d2) where rel_d2
  * is the pick's d² to the query and div_d2 its min d² to the earlier
  * picks (NULL for the first), both round-12 doubles cast by the ENGINE.
  */
object Mmr {

  def rerank(el: DataFrame, queryId: Long, poolSize: Int, k: Int): DataFrame = {
    require(poolSize >= k && k >= 1,
      s"need poolSize >= k >= 1, got poolSize=$poolSize k=$k")
    val spark = el.sparkSession
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val decSchema = StructType(Seq(
      StructField("rnk", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("rel_d2", dec, nullable = true),
      StructField("div_d2", dec, nullable = true)))
    // round-12 BEFORE the double cast (the >2^53 unscaled-decimal
    // convention), and through the ENGINE's cast, not BigDecimal
    // .doubleValue (measured 1 ULP apart — the Coreset note)
    def present(df: DataFrame) = df.select(col("rnk"), col("vec_id"),
      round(col("rel_d2"), 12).cast(DoubleType).as("rel_d2"),
      round(col("div_d2"), 12).cast(DoubleType).as("div_d2"))
    def empty = present(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], decSchema))

    val qel = el.filter(col("vec_id") === queryId)
      .select(col("i"), col("x").as("qx"))
    val pool = el.filter(col("vec_id") =!= queryId)
      .join(broadcast(qel), Seq("i"))
      .groupBy(col("vec_id"))
      .agg(sum(((col("x") - col("qx")) * (col("x") - col("qx"))).cast(dec))
        .as("d2"))
      .orderBy(col("d2"), col("vec_id")).limit(poolSize)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    if (pool.isEmpty) return empty
    // pairwise d² inside the pool: bounded poolSize² output, the element
    // self-join is pool-semi-joined on BOTH sides before it fans out
    val poolIds = pool.keySet.toSeq
    val a = el.filter(col("vec_id").isInCollection(poolIds))
      .select(col("vec_id").as("va"), col("i"), col("x").as("xa"))
    val b = el.filter(col("vec_id").isInCollection(poolIds))
      .select(col("vec_id").as("vb"), col("i"), col("x").as("xb"))
    val pd = a.join(b, Seq("i"))
      .filter(col("va") < col("vb"))
      .groupBy(col("va"), col("vb"))
      .agg(sum(((col("xa") - col("xb")) * (col("xa") - col("xb"))).cast(dec))
        .as("d2"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDecimal(2)).toMap
    // dense contract: every pool pair has a pd row (a SUM of zero terms
    // still emits the 0 row). A ragged stream whose pair shares NO index
    // must fail LOUDLY here — the oracle's inner join would instead drop
    // the candidate, and a silent 0 fallback would diverge from it.
    def pairD2(x: Long, y: Long): java.math.BigDecimal =
      pd.getOrElse((math.min(x, y), math.max(x, y)),
        throw new IllegalArgumentException(
          s"pool pair ($x, $y) shares no element rows — Mmr.rerank " +
            "requires the dense element contract (every vector carries " +
            "the same indices)"))

    // greedy: pick 1 = pure relevance argmin; pick r = argmax over the
    // remaining pool of (min d² to selected) − (d² to query), ties to
    // the lowest id — exact BigDecimal comparisons throughout
    var selected = Vector.empty[(Long, Long, java.math.BigDecimal, java.math.BigDecimal)]
    var remaining = pool.keySet
    val first = remaining.minBy(id => (pool(id), id))(
      Ordering.Tuple2(Ordering.ordered[java.math.BigDecimal], Ordering.Long))
    selected :+= ((1L, first, pool(first), null))
    remaining -= first
    for (r <- 2L to k.toLong if remaining.nonEmpty) {
      val scored = remaining.toSeq.map { id =>
        val mind = selected.map(s => pairD2(id, s._2)).min
        (mind.subtract(pool(id)), id, mind)
      }
      val (_, pick, mind) = scored.maxBy { case (score, id, _) => (score, -id) }(
        Ordering.Tuple2(Ordering.ordered[java.math.BigDecimal], Ordering.Long))
      selected :+= ((r, pick, pool(pick), mind))
      remaining -= pick
    }
    present(spark.createDataFrame(
      spark.sparkContext.parallelize(selected.map { case (r, id, rel, div) =>
        Row(r, id, rel, div)
      }, 1), decSchema))
  }
}
