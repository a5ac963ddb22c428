package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}

import graft.plans.TopKPairs

/** Product quantization (PQ) for approximate nearest neighbor at memory
  * scale: each `dim`-float vector is compressed to `nSub` small integer
  * codes (one per contiguous subspace) by snapping every subvector to its
  * nearest of `nCent` codebook centroids, and query-to-vector distance is
  * then approximated WITHOUT touching the original floats — the
  * asymmetric distance computation (ADC) sums, per subspace, a
  * precomputed query→centroid distance table entry looked up by the
  * stored code. 64 floats (256 bytes) become 32 nibble codes (16 bytes
  * packed): the compressed corpus is ~16× smaller, which is the
  * difference between an index that fits executor memory at 100 TB and
  * one that doesn't. (Narrow 2-dim subspaces quantize this corpus far
  * better than wide ones at equal code budget — measured recall@3-in-
  * exact-top-10 is 13/15 at 32×16 vs 3/15 at 8×16.)
  *
  * Scale shape: the codebook is `nCent` strided corpus vectors
  * (deterministic, the same seed rule the IVF quantizer uses) collected
  * once — nCent×dim values, never the corpus; ENCODING is one map-side
  * projection (no join, no shuffle) whose O(nCent·dim) per-row distance
  * loop runs as higher-order array functions over a codebook literal —
  * loops, not unrolled terms, because an unrolled 32×16×2-term decimal
  * expression breaches Janino's 64 KB method limit and knocks the whole
  * stage out of codegen (measured 20-30 s vs ~2 s on 2000 rows). A
  * native `Expression` (the `DotProduct` pattern) is the drop-in upgrade
  * if encode ever dominates. The ADC join attaches the
  * (nQueries × nSub × nCent)-row table frame by broadcast and reduces
  * per (query, vector) with one grouped sum.
  *
  * Exactness contract: subspace distances accumulate (x−c)² terms in
  * DECIMAL(38,18) (order-independent, bit-replayable by an external
  * decimal SQL engine — the `embed_norm_stats` trick), argmin ties break
  * on the lower code, and the final ADC readout is one decimal sum cast
  * to DOUBLE rounded to 12 decimals (the decimal→double cast differs
  * between engines in the last ULP) — no float op anywhere whose result
  * depends on partial-aggregation order.
  */
object Pq {

  private val dec = DecimalType(38, 18)

  private def toDouble(c: Column): Column =
    transform(c, x => x.cast(DoubleType))

  /** Deterministic strided codebook: subvectors of the `nCent` corpus
    * vectors at ids 0, stride, 2·stride, … (stride = n/nCent, the
    * [[Similarity.stridedSeeds]] sample). Returns (code j, full centroid
    * vector) — nCent×dim doubles, the only thing that ever reaches the
    * driver.
    */
  def codebook(corpus: DataFrame, idCol: String, vecCol: String,
      nCent: Int, corpusSize: Option[Long] = None): Seq[(Int, Array[Double])] = {
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cvec"))
    val stride = Similarity.seedStride(corpusSize.getOrElse(c.count()), nCent)
    Similarity.stridedSeeds(c, "nid", stride, nCent)
      .select(col("cvec")).collect()
      .zipWithIndex
      .map { case (r, j) => (j, r.getSeq[Double](0).toArray) }.toSeq
  }

  /** The codebook as one array<array<double>> literal, code = position. */
  private def cbLit(cb: Seq[(Int, Array[Double])]): Column =
    typedLit(cb.sortBy(_._1).map(_._2.toSeq))

  /** Exact decimal squared distance between subspace `m` (a column) of
    * `vec` and of `cent`, accumulated element-by-element in
    * DECIMAL(38,18) (each partial re-cast to pin the scale).
    */
  private def sqDist(vec: Column, cent: Column, m: Column, sub: Int): Column =
    aggregate(
      sequence(lit(0), lit(sub - 1)),
      lit(java.math.BigDecimal.ZERO).cast(dec),
      (acc, i) => {
        val idx = (m * sub + i + 1).cast(IntegerType) // element_at is 1-based
        val d = element_at(vec, idx) - element_at(cent, idx)
        (acc + (d * d).cast(dec)).cast(dec)
      })

  /** Per-subspace nearest codes of `vec` as an nSub-long array: argmin
    * over the codebook of the decimal subspace distance, ties to the
    * lower code.
    */
  private def codesArray(vec: Column, cbL: Column, nSub: Int,
      sub: Int): Column =
    transform(sequence(lit(0), lit(nSub - 1)), m =>
      array_min(transform(cbL, (cent, j) =>
        struct(sqDist(vec, cent, m, sub).as("d"), j.as("j"))))
        .getField("j").cast(IntegerType))

  /** Encode the corpus: (nid, m, code) — one row per vector per subspace,
    * produced by a single map-side projection (codebook rides as a plan
    * literal; the corpus is neither joined nor shuffled here).
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      cb: Seq[(Int, Array[Double])], nSub: Int): DataFrame = {
    // empty corpus -> empty codebook -> no code rows (the expressions
    // below never evaluate; only the driver-side geometry needs a guard)
    val dim = cb.headOption.fold(0)(_._2.length)
    val sub = if (dim == 0) 1 else dim / nSub
    corpus
      .select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cvec"))
      .select(col("nid"), posexplode(codesArray(col("cvec"), cbLit(cb), nSub, sub)))
      .select(col("nid"), col("pos").cast(IntegerType).as("m"),
        col("col").as("code"))
  }

  /** The ADC table frame: per (query, subspace, code) the exact decimal
    * distance from the query's subvector to that centroid's subvector —
    * (qid, tm, tj, t), nQueries × nSub × nCent rows, broadcast-sized.
    */
  private def adcTables(queries: DataFrame, idCol: String, vecCol: String,
      cb: Seq[(Int, Array[Double])], nSub: Int): DataFrame = {
    val sub = if (cb.isEmpty) 1 else cb.head._2.length / nSub
    val cbL = cbLit(cb)
    queries
      .select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qvec"))
      .select(col("qid"), posexplode(flatten(
        transform(sequence(lit(0), lit(nSub - 1)), m =>
          transform(cbL, (cent, j) =>
            struct(m.cast(IntegerType).as("m"), j.cast(IntegerType).as("j"),
              sqDist(col("qvec"), cent, m, sub).as("t")))))))
      .select(col("qid"), col("col.m").as("tm"), col("col.j").as("tj"),
        col("col.t").as("t"))
  }

  /** The grouped ADC readout: each query's `k` nearest (qid, nid,
    * dist_est, rnk) from a (nid, m, code [, pqid]) frame joined to
    * broadcast tables — when the codes frame carries a per-pair `pqid`
    * (the IVF-PQ candidate restriction), each code row only meets its own
    * query's table rows. dist_est is rounded to 12 decimals: the
    * decimal→double cast differs between engines in the last ULP; 12
    * digits is far above that noise and far below any ranking decision.
    * The ranking is ascending, so the score is the negated distance.
    */
  private def adcRank(codes: DataFrame, table: DataFrame, k: Int): DataFrame = {
    val tbl = table.withColumnRenamed("qid", "tqid")
    val sameQuery =
      if (codes.columns.contains("pqid")) col("pqid") === col("tqid") else lit(true)
    val dist = codes
      .join(broadcast(tbl),
        sameQuery && col("m") === col("tm") && col("code") === col("tj"))
      .filter(col("nid") =!= col("tqid"))
      .groupBy(col("tqid").as("qid"), col("nid"))
      .agg(round(sum(col("t")).cast(DoubleType), 12).as("dist_est"))
    TopKPairs.perGroup(dist, col("qid"), -col("dist_est"), col("nid"), k)
      .select(col("qid"), col("id").as("nid"),
        (-col("score")).as("dist_est"), col("rank").as("rnk"))
  }

  /** The hot-path encode: same (nid, m, code) output as [[encode]], but
    * per-row codes come from the native fused-loop expression
    * ([[graft.plans.PqEncode]], whole-stage codegen, double arithmetic,
    * reads floats directly — no cast pass, no interpreted higher-order
    * closures). The decimal [[encode]] stays the portable reference;
    * PqSpec pins the two agree code-for-code.
    */
  def encodeNative(corpus: DataFrame, idCol: String, vecCol: String,
      cb: Seq[(Int, Array[Double])], nSub: Int): DataFrame =
    if (cb.isEmpty)
      // the native expression derives its geometry from the codebook
      // literal, so an empty-corpus codebook short-circuits to an empty
      // (nid, m, code) frame before the expression is ever constructed
      corpus.select(col(idCol).as("nid"),
        lit(0).cast(IntegerType).as("m"), lit(0).cast(IntegerType).as("code"))
        .limit(0)
    else
      corpus
        .select(col(idCol).as("nid"), posexplode(call_function("pq_encode",
          col(vecCol), typedLit(cb.sortBy(_._1).map(_._2.toSeq)), lit(nSub))))
        .select(col("nid"), col("pos").cast(IntegerType).as("m"),
          col("col").as("code"))

  /** ADC top-k: approximate k nearest corpus vectors per query by table
    * lookup over the codes. Queries must be broadcast-small (the table
    * frame is nQueries × nSub × nCent rows), and query ids must share
    * the corpus id space: a corpus vector whose id equals a query id is
    * treated as the query itself and excluded from that query's ranking
    * (every ANN entry point here draws queries from the corpus).
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nSub: Int, nCent: Int,
      corpusSize: Option[Long] = None): DataFrame = {
    val cb = codebook(corpus, idCol, vecCol, nCent, corpusSize)
    val codes = encode(corpus, idCol, vecCol, cb, nSub)
    adcRank(codes, adcTables(queries, idCol, vecCol, cb, nSub), k)
  }

  /** The IVF-PQ composition point: [[adcTopK]] restricted to a candidate
    * (qid, nid) pair frame (the coarse quantizer's probed inverted
    * lists). Only candidate codes join the tables — the fine stage never
    * touches raw vectors OR non-probed lists. Same shared-id-space
    * contract as [[adcTopK]].
    */
  def adcTopKForPairs(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, pairs: DataFrame, k: Int, nSub: Int, nCent: Int,
      corpusSize: Option[Long] = None): DataFrame = {
    val cb = codebook(corpus, idCol, vecCol, nCent, corpusSize)
    val codes = encode(corpus, idCol, vecCol, cb, nSub)
      .join(pairs.select(col("qid").as("pqid"), col("nid")), Seq("nid"))
    adcRank(codes, adcTables(queries, idCol, vecCol, cb, nSub), k)
  }
}
