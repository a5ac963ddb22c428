package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.plans.TopKPairs

/** Similarity search over an embedding column (`array<float>`).
  *
  * Exact and hashed paths: [[bruteForceTopK]] (exact cosine against a
  * broadcast query set, the correctness baseline), [[lshTopKMd5]] and
  * [[rpTopK]] (md5-plane LSH buckets and a random-projection screen),
  * [[tfidfTopK]] (sparse text vectors) and the sign-bit screen
  * [[bqCandidatesOf]].
  *
  * The coarse quantizer behind every IVF, k-means and SemDeDup path has
  * one implementation of each step: [[stridedSeeds]] samples the seeds,
  * [[centroidScores]] scores vectors against a broadcast (cid, cv)
  * frame, [[nearestCentroid]] takes the argmax, and [[kmeans]] runs the
  * Lloyd loop over those two. Its arithmetic contract, which the oracles
  * replay: native dot ([[dotNative]]), the 12-digit cosine
  * ([[cosine12]]), max cs then the lower cid, and DECIMAL(38,18) element
  * means. [[ivfTopK]], [[ivfTopKKmeans]] and [[ivfTopKWith]] are built
  * on it.
  *
  * Every ranking ends in [[graft.plans.TopKPairs.perGroup]], and every
  * dot product is the fused, code-generated [[dotNative]]. [[dot]] is its
  * `zip_with` + `aggregate` reference: both are `CodegenFallback` in
  * Spark 4.1.2, so that fold runs interpreted.
  */
object Similarity {

  /** Sequential-fold dot product via built-ins (`zip_with` + `aggregate`).
    * Allocates an intermediate array per row — the reference
    * [[dotNative]] is pinned against; no query runs it.
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

  /** Term type of [[exactSum]]: callers cast each term to it. */
  val ExactTerm: DecimalType = DecimalType(37, 18)

  /** Exact in-row sum of an array of [[ExactTerm]] terms as
    * DECIMAL(38,18) — equals `SUM(CAST(term AS DECIMAL(38,18)))` over the
    * exploded rows bit for bit, with no explode, no per-vector aggregate
    * and no exchange. The one exact decimal fold of the vector family.
    *
    * Fold typing: terms and accumulator are DECIMAL(37,18) — at 38 Spark
    * widens Add to the unrepresentable (39,18) and rescales to (38,17)
    * under precision-loss, rounding the 18th digit per step; at 37 the
    * Add type is exactly (38,18) and every step is exact (decimal
    * addition is exact at matched scale). Headroom 10¹⁹ int digits, the
    * same overflow-to-NULL past it as the SUM had.
    */
  def exactSum(terms: Column): Column =
    aggregate(terms, lit(java.math.BigDecimal.ZERO).cast(ExactTerm),
      (acc, t) => (acc + t).cast(ExactTerm)).cast(DecimalType(38, 18))

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
    TopKPairs.perGroup(scored, col("qid"), col("cosine"), col("nid"), k)
      .toDF("qid", "nid", "cosine", "rank")
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
    * expression over three exact integers. Ranking is
    * [[TopKPairs.perGroup]]. The intermediate product tf_q·tf_d·10¹² is
    * computed in DECIMAL(38,0) — two tf≈3000 sides (long repetitive
    * docs) would wrap a signed 64-bit product. The per-pair SUM of quotients must still
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
    TopKPairs.perGroup(scored, col("qid"), col("cosine"), col("nid"), k)
      .toDF("qid", "nid", "cosine", "rank")
  }

  /** Deterministic md5-derived ±1 hyperplanes: plane p's sign at (1-based)
    * dimension i is the high bit of md5("p|i")'s first hex char — the
    * family any engine with md5 can rederive, so bucket keys (and the
    * candidate sets they induce) are replayable by an external SQL oracle.
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

  /** Sign-pattern LSH bucket key of a vector column over the md5-plane
    * family, one [[dotNative]] projection per plane. The sign rule is
    * strictly `> 0` to match the portable SQL formulation `s_p > 0` bit
    * for bit.
    */
  def lshBucketMd5(vec: Column, nPlanes: Int, dim: Int): Column =
    concat(
      planesMd5(nPlanes, dim).map { p =>
        when(dotNative(vec, lit(p)) > 0, "1").otherwise("0")
      }: _*)

  /** Stride of the seed sample that spreads `k` seeds over `n` ids. */
  def seedStride(n: Long, k: Int): Long = math.max(1L, n / k)

  /** The coarse quantizer's seed sample: the `limit` lowest-id rows of
    * `vecs` whose id is a multiple of `stride`, every column kept, in id
    * order — deterministic, spread across the id range, and replayable
    * by an external SQL engine (`WHERE id % s = 0 ORDER BY id LIMIT k`).
    */
  def stridedSeeds(vecs: DataFrame, idCol: String, stride: Long,
      limit: Int): DataFrame =
    vecs.filter(pmod(col(idCol), lit(stride)) === 0)
      .orderBy(col(idCol)).limit(limit)

  /** The family's 12-digit cosine: native dot over the product of the
    * square roots of the squared norms `na`, `nb`, rounded to 12 digits —
    * the value every engine that replays it with a sequential double dot
    * (DuckDB's `list_dot_product`) reads bit for bit.
    */
  def cosine12(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dotNative(a, b) / (sqrt(na) * sqrt(nb)), 12)

  /** [[cosine12]] of two vectors, norms computed in-row. */
  def cosine12(a: Column, b: Column): Column =
    cosine12(a, b, dotNative(a, a), dotNative(b, b))

  /** Scores (vec_id, cid, cs) of every vector of `vecs` (vec_id, v:
    * array<double>) against the broadcast centroid frame `centroids`
    * (cid, cv: array<double>), cs the [[cosine12]]. The quantizer's one
    * cross join: one codegen'd projection per vector × k centroids, no
    * element explode, and the vector is projected away before any
    * per-vector reduction.
    */
  def centroidScores(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cid"), col("cv"),
      dotNative(col("cv"), col("cv")).as("nc"))
    vecs.select(col("vec_id"), col("v"), dotNative(col("v"), col("v")).as("n2"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        cosine12(col("v"), col("cv"), col("n2"), col("nc")).as("cs"))
  }

  /** Each vector's nearest centroid (vec_id, cid) over a scores frame
    * (vec_id, cid, cs): max cs, then the LOWER cid — the order of
    * `row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) = 1`
    * and of [[TopKPairs.perGroup]]'s rank 1 (NaN greatest, 0.0 equal to
    * -0.0). One map-side-partial aggregate: n rows of (vec_id, cid) cross
    * the exchange, where a window would shuffle all n×k scored rows.
    */
  def nearestCentroid(scores: DataFrame): DataFrame =
    scores.groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cs"), (-col("cid")).as("nc")))
        .as("cid"))

  /** Lloyd's k-means over `vecs` (vec_id, v: array<double>) from `seeds`
    * (vec_id, v), labelled 0..k-1 in id order: `iters` rounds of
    * [[nearestCentroid]] over [[centroidScores]], then per-element means.
    * A mean accumulates in DECIMAL(38,18) and divides once (exact and
    * order-independent, so Spark's partial aggregation and an external
    * decimal engine evolve the same centroids); a cluster that lost
    * every member keeps its previous centroid. Only k×dim doubles reach
    * the driver. Returns the centroid frame (cid, cv).
    */
  def kmeans(vecs: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    var cents: Seq[(Long, Seq[Double])] = seeds.orderBy(col("vec_id"))
      .select(col("v")).collect().toSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }
    def centsDf = cents.toDF("cid", "cv")
    for (_ <- 0 until iters) {
      val assigned = nearestCentroid(centroidScores(vecs, centsDf))
      val means = vecs.join(assigned, Seq("vec_id"))
        .select(col("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("col").cast(DecimalType(38, 18))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("m"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
      cents = cents.map { case (cid, prev) =>
        cid -> prev.indices.map(j => means.getOrElse((cid, j), prev(j)))
      }
    }
    centsDf
  }

  /** (vec_id, v) frame of an (id, vector) input, the vector widened. */
  private def vectorsOf(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("v"))

  /** IVF-style approximate top-k over the strided quantizer: the
    * `nCentroids` [[stridedSeeds]] (cid = the seed's id) partition the
    * corpus into inverted lists, and each query ranks only the lists of
    * its `nProbe` nearest centroids. Callers that know the corpus size
    * pass it — otherwise the stride costs one COUNT scan of the corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
      corpusSize: Option[Long] = None): DataFrame = {
    val c = vectorsOf(corpus, idCol, vecCol)
    val stride = seedStride(corpusSize.getOrElse(c.count()), nCentroids)
    val centroids = stridedSeeds(c, "vec_id", stride, nCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    ivfTopKWith(corpus, queries, idCol, vecCol, k, nProbe, centroids)
  }

  /** The IVF probe stage against a given (cid, cv) quantizer: each corpus
    * vector is listed under its [[nearestCentroid]], each query probes its
    * `nProbe` best centroids ([[TopKPairs.perGroup]] over the same
    * scores), and the candidates rank by [[cosine12]], ties to the lower
    * id. Returns (qid, nid, cosine, rank).
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, centroids: DataFrame): DataFrame = {
    val c = vectorsOf(corpus, idCol, vecCol)
    val q = vectorsOf(queries, idCol, vecCol)
    val lists = nearestCentroid(centroidScores(c, centroids))
      .select(col("vec_id").as("nid"), col("cid"))
    val probes = TopKPairs.perGroup(centroidScores(q, centroids),
        col("vec_id"), col("cs"), col("cid"), nProbe)
      .select(col("vec_id").as("qid"), col("id").as("cid"))
    val scored = probes.join(lists, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .join(q.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
      .join(c.select(col("vec_id").as("nid"), col("v").as("cv")), Seq("nid"))
      .select(col("qid"), col("nid"), cosine12(col("qv"), col("cv")).as("cosine"))
    TopKPairs.perGroup(scored, col("qid"), col("cosine"), col("nid"), k)
      .toDF("qid", "nid", "cosine", "rank")
  }

  /** IVF top-k with a [[kmeans]]-refined quantizer: [[ivfTopK]]'s
    * strided seeds, `iters` Lloyd rounds, then the same probe stage.
    */
  def ivfTopKKmeans(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
      iters: Int = 3, corpusSize: Option[Long] = None): DataFrame = {
    val c = vectorsOf(corpus, idCol, vecCol)
    val stride = seedStride(corpusSize.getOrElse(c.count()), nCentroids)
    val centroids = kmeans(c, stridedSeeds(c, "vec_id", stride, nCentroids), iters)
    ivfTopKWith(corpus, queries, idCol, vecCol, k, nProbe, centroids)
  }

  /** Approximate top-k: candidates share the query's LSH bucket
    * ([[lshBucketMd5]]), an equi-join against the broadcast query side;
    * ranking within the bucket is exact cosine. Recall is tuned by
    * `nPlanes` (fewer planes → bigger buckets → higher recall, more
    * compute). Every bucket key is rederivable by an external SQL
    * engine, so the whole candidate pipeline is oracle-certifiable, not
    * just recall-bounded. The query side is broadcast — enforced by
    * [[requireBroadcastable]].
    */
  def lshTopKMd5(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int, dim: Int,
      maxQueryRows: Long = MaxBroadcastQueryRows): DataFrame = {
    requireBroadcastable(queries, maxQueryRows, "lshTopKMd5")
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cvec"))
      .withColumn("bucket", lshBucketMd5(col("cvec"), nPlanes, dim))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qvec"))
      .withColumn("bucket", lshBucketMd5(col("qvec"), nPlanes, dim))
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("cvec")).as("cosine"))
    TopKPairs.perGroup(scored, col("qid"), col("cosine"), col("nid"), k)
      .toDF("qid", "nid", "cosine", "rank")
  }

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
    val cand = TopKPairs.perGroup(screened, col("qid"), col("cosine"),
        col("nid"), nCand)
      .select(col("qid"), col("id").as("nid"))
    val rer = cand
      .join(c.select(col("nid"), col("cvec")), Seq("nid"))
      .join(broadcast(q.select(col("qid"), col("qvec"))), Seq("qid"))
      .select(col("qid"), col("nid"),
        cosine(col("qvec"), col("cvec")).as("cosine"))
    TopKPairs.perGroup(rer, col("qid"), col("cosine"), col("nid"), k)
      .toDF("qid", "nid", "cosine", "rank")
  }

  /** Top principal direction of the (uncentered) second moment by
    * `rounds` power-iteration steps — x ← XᵀXx, max-abs normalized —
    * over `vecs` = (vec_id, xs array<double>), DENSE contract (index =
    * array position). Never materializes the d×d Gram matrix. Every
    * accumulation is DECIMAL(38,18) and every normalization a round-12
    * division, so the whole iteration is replayable bit-for-bit by an
    * external SQL engine (the `embed_pca_power` oracle unrolls it as
    * CTEs).
    *
    * Convergence is gap-dependent (error ∝ (λ₂/λ₁)^rounds): planted
    * dominant directions lock in within a few rounds, near-isotropic
    * corpora converge slowly — pick `rounds` for the spectrum you
    * expect. Output: (i, v, growth) — the round-12 direction with peak
    * coordinate ±1 and the final max-abs growth factor (the λ₁
    * estimate under max-abs normalization) on every row.
    *
    * The row-space pass s(doc) = ⟨v_doc, x⟩ is an IN-ROW `zip_with` +
    * exact decimal fold against the direction as an ARRAY LITERAL (d
    * doubles of driver state — the same bound as the k-means seeding
    * paths), so a round has no join and no corpus-keyed shuffle at all: the only
    * exchange is the dim-space aggregate y(i) = Σ_doc s·v_doc[i], whose
    * map-side partial reduces each task to d rows. The r19 formulation
    * broadcast-joined the direction frame, shuffled a corpus-row
    * aggregate for s, then shuffle-joined it back against the
    * corpus-element stream every round.
    *
    * The row-space fold is [[exactSum]], so it equals
    * `SUM(CAST(x·v AS DECIMAL(38,18)))` bit for bit. The direction
    * re-enters as collected round-12 doubles — doubles
    * round-trip the driver exactly, and the division itself stays in
    * the engine (the proven-parity rounding).
    */
  def powerIterationOf(vecs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    def fold(terms: Column): Column = exactSum(terms).cast(DoubleType)
    def ymul(sCol: Column) =
      vecs.select(sCol.as("s"), posexplode(col("xs")))
        .groupBy(col("pos").as("i"))
        .agg(sum((col("s") * col("col")).cast(dec))
          .cast(org.apache.spark.sql.types.DoubleType).as("y"))
    // round 1: x0 = all-ones, so the row-space pass is a plain sum
    var y = ymul(fold(transform(col("xs"), x => x.cast(ExactTerm))))
    for (_ <- 2 to rounds) {
      val m = y.agg(max(abs(col("y"))).as("m"))
      val varr = y.crossJoin(broadcast(m))
        .select(col("i"), round(col("y") / col("m"), 12).as("v"))
        .orderBy(col("i")).collect()
        .map(r => r.getDouble(1)) // dense: row k carries index k
      y = ymul(fold(zip_with(col("xs"), lit(varr),
        (x, v) => (x * v).cast(ExactTerm))))
    }
    val m = y.agg(max(abs(col("y"))).as("m"))
    y.crossJoin(broadcast(m))
      .select(col("i"), round(col("y") / col("m"), 12).as("v"),
        round(col("m"), 12).as("growth"))
  }

  /** Packed sign-bit signatures over an array frame
    * (vec_id, xs array<double>), DENSE contract (index = array
    * position): one row per (vec_id, 32-dim half) with the BIGINT word
    * whose bit (i mod 32) is set iff x ≥ 0 — the 1-bit quantization
    * storage form, dim/8 bytes per vector (two words per 64-dim vector;
    * a single 64-bit word would wrap the signed bit). The packing is an
    * IN-ROW integer fold per 32-dim half — no element rows, no
    * per-vector aggregate, no exchange: for i ∈ [32h, 32h+32) the
    * slice-local index idx = i − 32h = i mod 32, and a sum of distinct
    * powers of two is engine-portable (integer shifts + a sum).
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

  /** Binary-quantization candidate screen over an array frame
    * ([[bqSignWordsOf]]'s input): each query's `nCand` nearest corpus
    * vectors by EXACT sign-bit Hamming distance (XOR + popcount over the
    * packed words, summed across halves), ties to the lower id — ranked
    * through the bounded heap, no window. `queryPred` selects the query
    * rows OUT OF the signature frame (they must be corpus members, the
    * harness convention). Returns (qid, nid) pairs for an exact rerank
    * stage.
    */
  def bqCandidatesOf(vecs: DataFrame, queryPred: Column, nCand: Int): DataFrame = {
    // materialize the signature frame once: the broadcast query side and
    // the corpus probe side both consume it, and a broadcast consumer
    // does not reuse a shuffle consumer's exchange — without this the
    // corpus-sized signature build (the operator's dominant stage)
    // runs twice. The frame is 2 rows/vector of BIGINTs — the compressed
    // index itself, cheap to pin.
    val sig = Pin(bqSignWordsOf(vecs))
    val q = sig.filter(queryPred)
      .select(col("vec_id").as("qid"), col("half"), col("w").as("wq"))
    val ham = broadcast(q).join(
        sig.select(col("vec_id").as("nid"), col("half"), col("w").as("wc")),
        Seq("half"))
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(expr("bit_count(wq ^ wc)")).cast(LongType).as("ham"))
    // ascending Hamming as score -ham: integer-valued doubles are exact
    TopKPairs.perGroup(ham, col("qid"), (-col("ham")).cast(DoubleType),
        col("nid"), nCand)
      .select(col("qid"), col("id").as("nid"))
  }
}
