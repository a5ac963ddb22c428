package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k via a broadcast of the query
  *    set — the correctness baseline. Linear in corpus size; the query set
  *    must be small enough to broadcast.
  *  - [[lshTopK]]: random-hyperplane LSH — vectors hash to sign-pattern
  *    buckets, candidates come from an equi-join on the bucket key, so the
  *    corpus is scanned once and never self-cross-joined. The scale path.
  *
  * Dot products use `zip_with` + `aggregate` (sequential fold, no UDF).
  * Both are `CodegenFallback` in Spark 4.1.2, so the fold runs interpreted
  * even inside a whole-stage-codegen stage; [[dotNative]] is the fused,
  * code-generated form.
  */
object Similarity {

  /** Sequential-fold dot product via built-ins (`zip_with` + `aggregate`).
    * Allocates an intermediate array per row — kept as the portable
    * reference implementation; hot paths use [[dotNative]].
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x * y),
      lit(0.0),
      (acc, v) => acc + v)

  /** Fused native dot product ([[graft.plans.DotProduct]], codegen'd, no
    * intermediate array, reads float arrays directly). The session must
    * load `graft.plans.GraftExtensions`. Identical arithmetic to [[dot]]
    * (sequential fold in index order).
    */
  def dotNative(a: Column, b: Column): Column =
    call_function("dot_productf", a, b)

  private def toDouble(c: Column): Column =
    transform(c, x => x.cast(DoubleType))

  def norm(a: Column): Column = sqrt(dotNative(a, a))

  /** Rank scored (qid, nid, cosine) candidates to top-k per query via the
    * bounded-heap `topk_pairs` aggregate ([[graft.plans.TopKPairs]]):
    * map-side partial top-k means only k rows per key per partition reach
    * the shuffle, where a window `row_number` formulation shuffles and
    * fully sorts every scored row. Ties break on lower nid, matching the
    * window ordering (cosine desc, nid asc).
    */
  private def heapTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(call_function("topk_pairs", col("cosine"), col("nid"), lit(k)).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(
        col("qid"), col("col.id").as("nid"), col("col.score").as("cosine"),
        (col("pos") + 1).cast(LongType).as("rank"))

  def cosine(a: Column, b: Column): Column =
    dotNative(a, b) / (norm(a) * norm(b))

  /** Hard cap on the broadcast query side. Every ANN entry point here
    * ships the query set to every executor; past ~this many rows the
    * broadcast is a driver/executor OOM waiting to happen, so the
    * contract is ENFORCED (fail fast with the fix) instead of advisory.
    */
  val MaxBroadcastQueryRows: Long = 1000000L

  /** Fail fast when the to-be-broadcast query side exceeds `cap` rows.
    * The probe is a `limit(cap + 1).count()` — bounded work (the scan
    * stops once cap + 1 rows surface), never a full count of a big input.
    */
  private[graft] def requireBroadcastable(queries: DataFrame, cap: Long,
      caller: String): Unit = {
    val probed = queries.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).count()
    require(probed <= cap,
      s"$caller broadcasts the query set to every executor, but it has " +
        s"more than $cap rows — flip the sides (query with the smaller " +
        "set) or batch the queries")
  }

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * (it is broadcast against the corpus scan — enforced, see
    * [[requireBroadcastable]]).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int,
      maxQueryRows: Long = MaxBroadcastQueryRows): DataFrame = {
    requireBroadcastable(queries, maxQueryRows, "bruteForceTopK")
    val c = corpus.select(
      col(idCol).as("nid"), toDouble(col(vecCol)).as("cvec"))
    val q = queries.select(
      col(idCol).as("qid"), toDouble(col(vecCol)).as("qvec"))
    val scored = c
      .join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("cvec")).as("cosine"))
    heapTopK(scored, k)
  }

  /** SPARSE-vector top-k: exact tf-idf cosine neighbors of a bounded
    * query-doc set over a tokenized corpus — retrieval over TEXT where
    * [[bruteForceTopK]] ranks dense embeddings. The inverted index IS
    * the join: corpus (doc, term, tf) rows meet the broadcast query
    * postings on the term key, so the corpus is scanned once and only
    * docs SHARING a term with a query are ever scored (true sparse
    * candidate generation — no all-pairs).
    *
    * ENGINE-EXACT scoring: idf is the rational N/df (no libm log), and
    * every accumulated quantity is the INTEGER
    * (tf_q · tf_d · 10¹²) div (df · df) — a term's contribution to
    * q·d/N² — summed exactly; the cosine emerges from one pinned double
    * expression over three exact integers. Ranking uses the bounded-heap
    * `topk_pairs` aggregate (k rows per query per partition reach the
    * shuffle). The intermediate product tf_q·tf_d·10¹² is computed in
    * DECIMAL(38,0) — two tf≈3000 sides (long repetitive docs) would wrap
    * a signed 64-bit product. The per-pair SUM of quotients must still
    * stay under 2⁶³ — high-tf shared RARE terms dominate; at 10¹² scale
    * that allows ~9M of tf=1 df=1 shared terms, far past real documents.
    *
    * `maxDf` (optional) drops terms in more than that many docs — the
    * stop-term cut that bounds hot-term fan-out at corpus scale (a term
    * in half the corpus contributes ~nothing to cosine but dominates
    * join cost).
    *
    * Returns (qid, nid, cosine, rank), rank 1..k per query.
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
      queryIds: Seq[Long], k: Int, maxDf: Option[Long] = None): DataFrame = {
    val Scale = 1000000000000L
    val tf = docs
      .select(col(idCol).as("doc"),
        explode(graft.functions.TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).cast(LongType).as("tf"))
    val dfc = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast(LongType).as("df"))
    val w0 = tf.join(dfc, Seq("term"))
    val w = maxDf.fold(w0)(cap => w0.filter(col("df") <= cap))
    val contrib =
      expr(s"(cast(tfq as decimal(38,0)) * tf * ${Scale}L) div (df * df)")
    val wq = w.filter(col("doc").isInCollection(queryIds))
      .select(col("term"), col("doc").as("qid"), col("tf").as("tfq"))
    val dots = w
      .join(broadcast(wq), Seq("term"))
      .filter(col("doc") =!= col("qid"))
      .groupBy(col("qid"), col("doc"))
      // The per-pair SUM stays signed 64-bit in BOTH engines, but their
      // failure modes past 2^63 differ: Spark's long sum wraps silently
      // while the oracle's CAST(SUM(...) AS BIGINT) raises out-of-range.
      // Unreachable under the ~9M-shared-rare-terms bound documented
      // above; if that bound ever tightens, sum in DECIMAL(38,0) here
      // too so both engines fail (or succeed) identically.
      .agg(sum(contrib).cast(LongType).as("dp"))
    val nrm = w
      .select(col("doc"),
        expr(s"(cast(tf as decimal(38,0)) * tf * ${Scale}L) div (df * df)")
          .as("c"))
      .groupBy(col("doc"))
      .agg(sum(col("c")).cast(LongType).as("nrm"))
    val scored = dots
      .join(nrm.withColumnRenamed("doc", "qid").withColumnRenamed("nrm", "nrm_q"), Seq("qid"))
      .join(nrm, Seq("doc"))
      .select(col("qid"), col("doc").as("nid"),
        (col("dp").cast("double") /
          sqrt(col("nrm_q").cast("double") * col("nrm").cast("double")))
          .as("cosine"))
    heapTopK(scored, k)
  }

  /** Deterministic ±1 random hyperplanes (seeded), as literal arrays. */
  private def planes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign-pattern LSH bucket key for a vector column. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int, seed: Long = 42L): Column =
    concat(
      planes(nPlanes, dim, seed).map { p =>
        when(dot(vec, lit(p)) >= 0, "1").otherwise("0")
      }: _*)

  /** Deterministic md5-derived ±1 hyperplanes: plane p's sign at (1-based)
    * dimension i is the high bit of md5("p|i")'s first hex char — the
    * family any engine with md5 can rederive, so bucket keys (and the
    * candidate sets they induce) are replayable by an external SQL oracle.
    * Same ±1 sign-pattern geometry as [[planes]]; only the source of
    * randomness differs.
    */
  private def planesMd5(nPlanes: Int, dim: Int,
      family: String = ""): Seq[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { i0 =>
        val b = md.digest(s"$family$p|${i0 + 1}".getBytes("UTF-8"))(0) & 0xFF
        if (b >= 0x80) 1.0 else -1.0
      }
    }
  }

  /** [[lshBucket]] with the md5-plane family. The sign rule is strictly
    * `> 0` (not `>= 0`) to match the portable SQL formulation `s_p > 0`
    * bit for bit.
    */
  def lshBucketMd5(vec: Column, nPlanes: Int, dim: Int): Column =
    concat(
      planesMd5(nPlanes, dim).map { p =>
        when(dot(vec, lit(p)) > 0, "1").otherwise("0")
      }: _*)

  /** IVF-style approximate top-k: a deterministic coarse quantizer (the
    * `nCentroids` lowest-id corpus vectors) partitions the corpus into
    * inverted lists; each query probes its `nProbe` nearest centroids and
    * ranks only those lists by exact cosine.
    *
    * Scale shape: assignment is a map-side broadcast of the centroid set
    * (n × nCentroids dot products, no shuffle of the corpus beyond the
    * final per-list grouping); queries never touch lists they don't probe.
    * A k-means-refined centroid set plugs in by swapping `centroids`.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
      corpusSize: Option[Long] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cvec"))
    // deterministic strided sample: one centroid every n/nCentroids ids,
    // spread across the id range ([[ivfTopKKmeans]] refines these).
    // Callers that know the corpus size pass it — otherwise deriving the
    // stride costs one COUNT scan of the corpus per invocation, a full
    // extra pass at 100 TB (cache the count, don't re-derive it).
    val stride = math.max(1L, corpusSize.getOrElse(c.count()) / nCentroids)
    val centroids = c.filter(pmod(col("nid"), lit(stride)) === 0)
      .orderBy(col("nid")).limit(nCentroids)
      .select(col("nid").as("cid"), col("cvec").as("centvec"))
    ivfTopKWith(corpus, queries, idCol, vecCol, k, nProbe, centroids)
  }

  /** The IVF probe stage against a given (cid, centvec) quantizer.
    *
    * Centroid assignment is the [[nearestCentroidIds]] aggregate shape —
    * NOT a `row_number` window over the id×k cross rows: the window
    * formulation exchanges all n×k rows (each dragging the dim-double
    * vector) keyed on the id before any reduction, which at a
    * corpus-scale n with a large quantizer shuffles k× the corpus. The
    * bounded-heap aggregate partial-reduces map-side, so one row per id
    * crosses the exchange and the vector is joined back batch-sized
    * after (the `StreamSemDedup` assignment contract).
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, centroids: DataFrame): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cvec"))
    val lists = nearestCentroidIds(c, "cvec", "nid", 1, centroids)
      .join(c, Seq("nid"))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qvec"))
    val probes = nearestCentroidIds(q, "qvec", "qid", nProbe, centroids)
      .join(q, Seq("qid"))
    val scored = lists
      .join(probes, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("cvec")).as("cosine"))
    heapTopK(scored, k)
  }

  /** Per-id `top` nearest centroid ids — (id, cid) rows, membership-equal
    * to `row_number().over(partitionBy(id).orderBy(csim desc, cid)) <=
    * top` but window-free: the vector is projected AWAY before a
    * `topk_pairs` bounded-heap aggregate, so the exchange carries one
    * partial heap per id instead of id×k scored rows. Tie/NaN parity
    * with the window ordering is exact: [[graft.plans.TopKPairs]] orders
    * by `java.lang.Double.compare` (NaN greatest — Spark's sort order
    * for double desc puts NaN first) then lower id.
    */
  def nearestCentroidIds(df: DataFrame, vecCol: String, idCol: String,
      top: Int, centroids: DataFrame): DataFrame =
    df.crossJoin(broadcast(centroids))
      .select(col(idCol), col("cid"),
        cosine(col(vecCol), col("centvec")).as("csim"))
      .groupBy(col(idCol))
      .agg(call_function("topk_pairs", col("csim"), col("cid"), lit(top)).as("t"))
      .select(col(idCol), explode(col("t")).as("e"))
      .select(col(idCol), col("e.id").as("cid"))

  /** Lloyd's k-means over the embedding column, for IVF centroid
    * refinement. Scale shape per iteration: assignment is map-side
    * (k cosines against literal centroid arrays — the centroid set is
    * tiny and ships with the plan), and the mean recompute is one
    * element-level aggregation; only k×dim averaged values ever reach the
    * driver (the corpus never does).
    *
    * The mean accumulates element sums in DECIMAL(38,18) and divides
    * once (the `embed_norm_stats` trick): decimal addition is exact and
    * order-independent, so the centroid evolution is deterministic under
    * Spark's partial aggregation AND replayable by an external decimal
    * engine — a double `avg` would drift with shuffle order.
    *
    * Returns (cid, centvec) with `k` rows, cids 0..k-1.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, corpusSize: Option[Long] = None): Seq[(Long, Array[Double])] = {
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cvec"))
    // deterministic strided seed spread across the id range (same sample
    // the plain IVF quantizer uses); a known corpusSize skips the COUNT
    // scan — see ivfTopK
    val stride = math.max(1L, corpusSize.getOrElse(c.count()) / k)
    var cents: Seq[(Long, Array[Double])] = c
      .filter(pmod(col("nid"), lit(stride)) === 0)
      .orderBy(col("nid")).limit(k)
      .select(col("nid"), col("cvec")).collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1).toArray) }.toSeq
    // an empty corpus seeds no centroids: return the empty quantizer
    // (consumers join against it and go empty) instead of building a
    // zero-column cosine array the analyzer rejects
    if (cents.isEmpty) return cents
    for (_ <- 0 until iters) {
      val cosines = array(cents.map { case (_, v) => cosine(col("cvec"), lit(v)) }: _*)
      val assigned = c
        .withColumn("cid", (array_position(cosines, array_max(cosines)) - 1).cast(LongType))
      val means = assigned
        .select(col("cid"), posexplode(col("cvec")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("col").cast(DecimalType(38, 18))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cid"), transform(col("ps"), p => p.getField("m")).as("centvec"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      // empty clusters keep their previous centroid
      val byId = means.map(m => m._1 -> m._2).toMap
      cents = cents.map { case (cid, v) => (cid, byId.getOrElse(cid, v)) }
    }
    cents
  }

  /** IVF top-k with a k-means-refined coarse quantizer — [[ivfTopK]]'s
    * scale shape (broadcast centroid assignment, probed inverted lists)
    * with proper Lloyd centroids instead of the strided id sample.
    */
  def ivfTopKKmeans(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
      iters: Int = 3, corpusSize: Option[Long] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCentroids, iters, corpusSize)
    val centroids = cents.toDF("cid", "centvec")
    ivfTopKWith(corpus, queries, idCol, vecCol, k, nProbe, centroids)
  }

  /** Approximate top-k: candidates share the query's LSH bucket; ranking
    * within the bucket is exact cosine. Recall is tuned by `nPlanes`
    * (fewer planes → bigger buckets → higher recall, more compute).
    * The query side is broadcast — enforced by [[requireBroadcastable]].
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int, dim: Int, seed: Long = 42L,
      maxQueryRows: Long = MaxBroadcastQueryRows): DataFrame =
    lshTopKBucketed(corpus, queries, idCol, vecCol, k, maxQueryRows,
      "lshTopK", lshBucket(_, nPlanes, dim, seed))

  /** [[lshTopK]] with the deterministic md5-plane family
    * ([[lshBucketMd5]]) — identical plan shape (bucket equi-join against
    * the broadcast query side, exact cosine within buckets), but every
    * bucket key is rederivable by an external SQL engine, so the whole
    * candidate pipeline is oracle-certifiable, not just recall-bounded.
    */
  def lshTopKMd5(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int, dim: Int,
      maxQueryRows: Long = MaxBroadcastQueryRows): DataFrame =
    lshTopKBucketed(corpus, queries, idCol, vecCol, k, maxQueryRows,
      "lshTopKMd5", lshBucketMd5(_, nPlanes, dim))

  /** Random-projection (Johnson–Lindenstrauss) screened top-k: score
    * every corpus vector against the broadcast query set in an
    * `nProj`-dim ±1-projected space (the Achlioptas sign matrix, same
    * md5 plane family as [[lshBucketMd5]] under the "rp" prefix), keep
    * each query's `nCand` best by projected cosine, then rerank those
    * exactly in full dimension. A third candidate geometry next to
    * bucket-equality LSH and list-probing IVF: the screen still touches
    * the whole corpus but at nProj/dim of the arithmetic, and only
    * nCand rows/query pay full-dim cost.
    *
    * Recall scales with the corpus's signal-to-JL-noise ratio: projected
    * cosines carry ~1/√nProj noise, so near-duplicate-style neighbors
    * (cosine ≫ background) survive the screen, while corpora whose
    * top neighbors sit barely above the background need nCand grown
    * with the corpus (the registered `embed_ann_rp` documents this on
    * the harness corpus; SimilaritySpec pins ≥0.8 on clustered data).
    */
  def rpTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProj: Int, nCand: Int, dim: Int,
      maxQueryRows: Long = MaxBroadcastQueryRows): DataFrame = {
    require(nCand >= k, s"screen width nCand=$nCand must be >= k=$k")
    requireBroadcastable(queries, maxQueryRows, "rpTopK")
    val planes = planesMd5(nProj, dim, family = "rp")
    def projected(vec: Column): Column =
      array(planes.map(p => dotNative(vec, lit(p))): _*)
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cvec"))
      .withColumn("pvec", projected(col("cvec")))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qvec"))
      .withColumn("pqvec", projected(col("qvec")))
    // the screen is all-pairs by design (same broadcast shape as
    // [[bruteForceTopK]], nProj/dim of its arithmetic); the registered
    // embed_ann_rp plans the equi-join-on-projection-index form instead
    val screened = c
      .join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosine(col("pqvec"), col("pvec")).as("cosine"))
    // bounded-heap screen, then exact rerank of the nCand survivors
    val cand = heapTopK(screened, nCand)
      .select(col("qid"), col("nid"))
    val rer = cand
      .join(c.select(col("nid"), col("cvec")), Seq("nid"))
      .join(broadcast(q.select(col("qid"), col("qvec"))), Seq("qid"))
      .select(col("qid"), col("nid"),
        cosine(col("qvec"), col("cvec")).as("cosine"))
    heapTopK(rer, k)
  }

  /** Top principal direction of the (uncentered) second moment by
    * `rounds` power-iteration steps — x ← XᵀXx, max-abs normalized —
    * over an element stream `el` = (vec_id, i, x double). Never
    * materializes the d×d Gram matrix: each round is two keyed
    * aggregates (row-space pass s(doc) = ⟨v_doc, x⟩ against the
    * broadcast d-row direction frame; dim-space pass
    * y(i) = Σ_doc s·v_doc[i]), so the plan scales with nnz(X) — the
    * classic distributed power iteration. Every accumulation is
    * DECIMAL(38,18) and every normalization a round-12 division, so the
    * whole iteration is replayable bit-for-bit by an external SQL
    * engine (the `embed_pca_power` oracle unrolls it as CTEs).
    *
    * Convergence is gap-dependent (error ∝ (λ₂/λ₁)^rounds): planted
    * dominant directions lock in within a few rounds, near-isotropic
    * corpora converge slowly — pick `rounds` for the spectrum you
    * expect. Output: (i, v, growth) — the round-12 direction with peak
    * coordinate ±1 and the final max-abs growth factor (the λ₁
    * estimate under max-abs normalization) on every row.
    */
  def powerIteration(el: DataFrame, rounds: Int): DataFrame =
    powerIterationOf(
      el.groupBy(col("vec_id"))
        .agg(array_sort(collect_list(struct(col("i"), col("x")))).as("__p"))
        .select(col("vec_id"), expr("transform(__p, e -> e.x)").as("xs")),
      rounds)

  /** Array-frame power iteration — `vecs` = (vec_id, xs array<double>),
    * DENSE contract (index = array position; [[powerIteration]] pivots
    * the element-stream form to this in index order). The row-space
    * pass s(doc) = ⟨v_doc, x⟩ is an IN-ROW `zip_with` + exact decimal
    * fold against the direction as an ARRAY LITERAL (d doubles of
    * driver state — the same bound as the k-means seeding paths), so a
    * round has no join and no corpus-keyed shuffle at all: the only
    * exchange is the dim-space aggregate y(i) = Σ_doc s·v_doc[i], whose
    * map-side partial reduces each task to d rows. The r19 formulation
    * broadcast-joined the direction frame, shuffled a corpus-row
    * aggregate for s, then shuffle-joined it back against the
    * corpus-element stream every round.
    *
    * Fold typing: terms and accumulator are DECIMAL(37,18) — at 38
    * Spark widens Add to (39,18) and rescales to (38,17) under
    * precision-loss, rounding the 18th digit per step; at 37 the Add
    * type is exactly (38,18) and every step is exact, so the fold
    * equals `SUM(CAST(x·v AS DECIMAL(38,18)))` bit for bit. The
    * direction re-enters as collected round-12 doubles — doubles
    * round-trip the driver exactly, and the division itself stays in
    * the engine (the proven-parity rounding).
    */
  def powerIterationOf(vecs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val dec37 = org.apache.spark.sql.types.DecimalType(37, 18)
    def fold(terms: Column): Column =
      aggregate(terms, lit(java.math.BigDecimal.ZERO).cast(dec37),
        (acc, t) => (acc + t).cast(dec37))
        .cast(dec).cast(org.apache.spark.sql.types.DoubleType)
    def ymul(sCol: Column) =
      vecs.select(sCol.as("s"), posexplode(col("xs")))
        .groupBy(col("pos").as("i"))
        .agg(sum((col("s") * col("col")).cast(dec))
          .cast(org.apache.spark.sql.types.DoubleType).as("y"))
    // round 1: x0 = all-ones, so the row-space pass is a plain sum
    var y = ymul(fold(transform(col("xs"), x => x.cast(dec37))))
    for (_ <- 2 to rounds) {
      val m = y.agg(max(abs(col("y"))).as("m"))
      val varr = y.crossJoin(broadcast(m))
        .select(col("i"), round(col("y") / col("m"), 12).as("v"))
        .orderBy(col("i")).collect()
        .map(r => r.getDouble(1)) // dense: row k carries index k
      y = ymul(fold(zip_with(col("xs"), lit(varr),
        (x, v) => (x * v).cast(dec37))))
    }
    val m = y.agg(max(abs(col("y"))).as("m"))
    y.crossJoin(broadcast(m))
      .select(col("i"), round(col("y") / col("m"), 12).as("v"),
        round(col("m"), 12).as("growth"))
  }

  /** Packed sign-bit signatures over an element stream
    * (vec_id, i 0-based, x double): one row per (vec_id, 32-dim half)
    * with the BIGINT word whose bit (i mod 32) is set iff x ≥ 0 — the
    * 1-bit quantization storage form, dim/8 bytes per vector (two words
    * per 64-dim vector; a single 64-bit word would wrap the signed bit).
    * Engine-portable: packing is integer shifts + a conditional sum.
    */
  def bqSignWords(el: DataFrame): DataFrame =
    el.groupBy(col("vec_id"), expr("CAST(i div 32 AS BIGINT)").as("half"))
      .agg(sum(when(col("x") >= 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(i % 32 AS INT))"))
        .otherwise(0L)).cast(LongType).as("w"))

  /** [[bqSignWords]] over an array frame (vec_id, xs array<double>),
    * DENSE contract (index = array position): the packing is an IN-ROW
    * integer fold per 32-dim half — no element rows, no per-vector
    * aggregate, no exchange. Bit-identical to the element form: for
    * i ∈ [32h, 32h+32) the slice-local index idx = i − 32h = i mod 32,
    * and a sum of distinct powers of two equals the element SUM exactly.
    */
  def bqSignWordsOf(vecs: DataFrame): DataFrame =
    vecs
      .select(col("vec_id"), explode(expr(
        """transform(sequence(0, CAST((size(xs) + 31) div 32 AS INT) - 1),
          |  h -> named_struct(
          |    'half', CAST(h AS BIGINT),
          |    'w', aggregate(
          |      transform(slice(xs, h * 32 + 1, 32),
          |        (x, idx) -> CASE WHEN x >= 0
          |          THEN shiftleft(CAST(1 AS BIGINT), idx)
          |          ELSE CAST(0 AS BIGINT) END),
          |      CAST(0 AS BIGINT), (acc, v) -> acc + v)))"""
          .stripMargin)).as("e"))
      .select(col("vec_id"), col("e.half").as("half"), col("e.w").as("w"))

  /** Binary-quantization candidate screen: each query's `nCand` nearest
    * corpus vectors by EXACT sign-bit Hamming distance (XOR + popcount
    * over the packed words, summed across halves), ties to the lower id
    * — ranked through the bounded heap, no window. `queryPred` selects
    * the query rows OUT OF the signature frame (they must be corpus
    * members, the harness convention). Returns (qid, nid) pairs for an
    * exact rerank stage.
    */
  def bqCandidates(el: DataFrame, queryPred: Column, nCand: Int): DataFrame =
    bqCandidatesFromSig(bqSignWords(el), queryPred, nCand)

  /** [[bqCandidates]] over an array frame ([[bqSignWordsOf]]'s input). */
  def bqCandidatesOf(vecs: DataFrame, queryPred: Column, nCand: Int): DataFrame =
    bqCandidatesFromSig(bqSignWordsOf(vecs), queryPred, nCand)

  private def bqCandidatesFromSig(sigRaw: DataFrame, queryPred: Column,
      nCand: Int): DataFrame = {
    // materialize the signature frame once: the broadcast query side and
    // the corpus probe side both consume it, and a broadcast consumer
    // does not reuse a shuffle consumer's exchange — without this the
    // corpus-sized signature build (the operator's dominant stage)
    // runs twice. The frame is 2 rows/vector of BIGINTs — the compressed
    // index itself, cheap to pin.
    val sig = sigRaw.localCheckpoint()
    val q = sig.filter(queryPred)
      .select(col("vec_id").as("qid"), col("half"), col("w").as("wq"))
    val ham = broadcast(q).join(
        sig.select(col("vec_id").as("nid"), col("half"), col("w").as("wc")),
        Seq("half"))
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(expr("bit_count(wq ^ wc)")).cast(LongType).as("ham"))
    // exact integer order through the heap: score -ham (integer-valued
    // doubles are exact), ties to the lower nid — the window parity
    ham.groupBy(col("qid"))
      .agg(call_function("topk_pairs",
        (-col("ham")).cast(DoubleType), col("nid"), lit(nCand)).as("t"))
      .select(col("qid"), explode(col("t")).as("e"))
      .select(col("qid"), col("e.id").as("nid"))
  }

  private def lshTopKBucketed(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, maxQueryRows: Long,
      caller: String, bucketOf: Column => Column): DataFrame = {
    requireBroadcastable(queries, maxQueryRows, caller)
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cvec"))
      .withColumn("bucket", bucketOf(col("cvec")))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qvec"))
      .withColumn("bucket", bucketOf(col("qvec")))
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("cvec")).as("cosine"))
    heapTopK(scored, k)
  }
}
