package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.functions.Cleaning.lcount
import graft.operators.{Pin, Similarity}
import graft.plans.TopKPairs
import graft.sources.{Frames, Tables}
import graft.queries.Q.C

/** Embedding similarity-search queries over the `embeddings` table.
  *
  * The oracle-checked queries accumulate dot products / norms in
  * DECIMAL(38,18): decimal addition is exact and order-independent, so
  * Spark's partial aggregation and DuckDB's single-threaded sum produce
  * bit-identical doubles; sqrt and division on identical doubles are
  * IEEE-deterministic. That makes even floating-point cosine rankings
  * hash-comparable across engines.
  */
object LlmEmbed {

  private val dec = DecimalType(38, 18)

  /** Element stream: (vec_id, i, x) with x widened to double. The scan is
    * conditionally re-spread (Tables.spread — identity on big inputs) so a
    * single-row-group embeddings file can't serialize the dim× explode.
    */
  private def elements(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.spread(Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(
        col("vec_id"), col("label"), col("pos").as("i"),
        col("col").cast(DoubleType).as("x"))

  /** Array frame (vec_id, xs array<double>) straight off the scan — the
    * element stream as in-row state. `size > 0` pins the vector universe
    * to the exploded form's (a zero-dim vector yields no element rows
    * there), so operators converted from el-aggregates to array folds
    * see exactly the same vectors.
    */
  private def vecsOf(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.spread(Tables.embeddings(s, d))
      .filter(size(col("embedding")) > 0)
      .select(col("vec_id"),
        transform(col("embedding"), e => e.cast(DoubleType)).as("xs"))

  /** ⟨a, b⟩ as the exact decimal fold [[Similarity.exactSum]] (==
    * `SUM(CAST(aᵢ·bᵢ AS DECIMAL(38,18)))`, the in-row form of the pinned
    * element lattice), presented as the same DOUBLE the el-aggregate
    * form emitted.
    */
  private def dotDec(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    Similarity.exactSum(
      zip_with(a, b, (x, y) => (x * y).cast(Similarity.ExactTerm)))
      .cast(DoubleType)

  /** Per-vector squared norms (vec_id, n2) from the array frame — the
    * narrow form of `el GROUP BY vec_id: SUM(CAST(x·x AS DEC(38,18)))`.
    */
  private def nrmOf(vecs: org.apache.spark.sql.DataFrame) =
    vecs.select(col("vec_id"), dotDec(col("xs"), col("xs")).as("n2"))

  // the 4096 position cap is a physical constant of the embedding column
  // (model dimension), unlike text lengths, which are unbounded — the
  // text oracles use LATERAL ranges instead
  private val elCte =
    """el AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      |       FROM embeddings CROSS JOIN range(1, 4097) t(i)
      |       WHERE i <= len(embedding))""".stripMargin

  /** Shared tail of the portable ANN queries: rank bounded (qid, nid)
    * candidate pairs by exact-decimal cosine and keep each query's top 3.
    * `vecs` is the array frame ([[vecsOf]]), `nrm` its per-vector
    * squared norms. The dot is the in-row [[dotDec]] fold over the two
    * joined arrays — the element-stream form joined the candidate pairs
    * against el TWICE (dim× row inflation) and re-aggregated per pair.
    */
  private def rankTop3(vecs: org.apache.spark.sql.DataFrame,
      nrm: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dots = cand
      .join(vecs.select(col("vec_id").as("qid"), col("xs").as("xa")), Seq("qid"))
      .join(vecs.select(col("vec_id").as("nid"), col("xs").as("xb")), Seq("nid"))
      .select(col("qid"), col("nid"), dotDec(col("xa"), col("xb")).as("dot"))
    val cosd = dots
      .join(nrm.select(col("vec_id").as("qid"), col("n2").as("na")), Seq("qid"))
      .join(nrm.select(col("vec_id").as("nid"), col("n2").as("nb")), Seq("nid"))
      .select(
        col("qid"), col("nid"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 12).as("cosine"))
    TopKPairs.perGroup(cosd, col("qid"), col("cosine"), col("nid"), 3)
      .toDF("qid", "nid", "cosine", "rnk")
  }

  /** Per-label corpus stats over L2 norms. n² comes from the fused native
    * DotProduct(v,v) expression — a single per-row double fold with no
    * dim× row inflation (the earlier posexplode version multiplied the
    * rowcount by the embedding dimension before its partial aggregate).
    * DuckDB's `list_dot_product` is the same sequential double fold, so
    * the per-row values are bit-identical (proven by `embed_dot_native`);
    * the per-group sum then goes through DECIMAL(28,12) so accumulation
    * order can't diverge.
    */
  private val normStats = Q(
    "embed_norm_stats",
    s"""WITH norms AS (SELECT vec_id, label,
       |                 CAST(list_dot_product(
       |                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |                   list_transform(embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE) AS n2
       |               FROM embeddings)
       |SELECT CAST(label AS BIGINT) AS label, $C AS n,
       |       CAST(SUM(CAST(sqrt(n2) AS DECIMAL(28,12))) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS avg_norm
       |FROM norms GROUP BY 1""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"),
        Similarity.dotNative(col("embedding"), col("embedding")).as("n2"))
      .groupBy(col("label").cast(LongType).as("label"))
      .agg(
        lcount().as("n"),
        (sum(sqrt(col("n2")).cast(DecimalType(28, 12))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_norm"))
  }

  /** Brute-force exact cosine top-3 for query vectors vec_id < 5 — the
    * ANN correctness baseline.
    */
  private val bruteTopK = Q(
    "embed_brute_topk",
    s"""WITH $elCte,
       |nrm AS (SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS n2
       |        FROM el GROUP BY 1),
       |dots AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
       |                CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,18))) AS DOUBLE) AS dot
       |         FROM el a JOIN el b
       |           ON a.i = b.i AND a.vec_id < 5 AND b.vec_id <> a.vec_id
       |         GROUP BY 1, 2),
       |cosd AS (SELECT qid, nid,
       |                round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 12) AS cosine
       |         FROM dots
       |         JOIN nrm na ON na.vec_id = dots.qid
       |         JOIN nrm nb ON nb.vec_id = dots.nid)
       |SELECT qid, nid, cosine, rnk
       |FROM (SELECT qid, nid, cosine,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk
       |      FROM cosd)
       |WHERE rnk <= 3""".stripMargin) { (s, d) =>
    val vecs = vecsOf(s, d)
    val nrm = nrmOf(vecs)
    // the 5 query vectors are a fixed literal set — collect them (5×dim
    // doubles of driver state) and score the corpus with 5 IN-ROW
    // decimal folds instead of the element self-join that inflated the
    // corpus dim×5 and re-aggregated per pair
    val qArrs = vecs.filter(col("vec_id") < 5).orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val dots =
      if (qArrs.isEmpty)
        vecs.select(lit(0L).as("qid"), col("vec_id").as("nid"),
          lit(0.0).as("dot")).limit(0)
      else vecs
        .select(col("vec_id").as("nid"),
          explode(array(qArrs.map { case (q, arr) =>
            struct(lit(q).as("qid"), dotDec(col("xs"), lit(arr)).as("dot"))
          }: _*)).as("e"))
        .filter(col("e.qid") =!= col("nid"))
        .select(col("e.qid").as("qid"), col("nid"), col("e.dot").as("dot"))
    val cosd = dots
      .join(nrm.select(col("vec_id").as("qid"), col("n2").as("na")), Seq("qid"))
      .join(nrm.select(col("vec_id").as("nid"), col("n2").as("nb")), Seq("nid"))
      .select(
        col("qid"), col("nid"),
        // round to 12 decimals: the raw double differs between engines in
        // the last ULP or two (decimal-cast rounding of the inputs);
        // 12 digits is far above the noise and far below any real tie.
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 12).as("cosine"))
    TopKPairs.perGroup(cosd, col("qid"), col("cosine"), col("nid"), 3)
      .toDF("qid", "nid", "cosine", "rnk")
  }

  /** Approximate top-3 via the ENGINE-NATIVE LSH path
    * ([[Similarity.lshTopKMd5]]: packed float arrays, fused double-fold
    * dots, bounded-heap top-k) with the deterministic md5-plane family,
    * certified end to end against a from-scratch SQL oracle: the oracle
    * rederives planes, bucket keys, the candidate equi-join and the
    * per-query ranking, so a hash match proves the native bucket/rank
    * pipeline — not just its recall (the seeded-random-plane variant
    * keeps its recall bound in SimilaritySpec). The float-native cosine
    * VALUES are excluded from the readout (they differ from the oracle's
    * decimal accumulation in the last ULPs); the certified surface is
    * (qid, nid, rnk).
    */
  private val annLsh = Q(
    "embed_ann_lsh",
    s"SELECT qid, nid, rnk FROM (\n$lshPortableSql\n) certified") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopKMd5(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 3, nPlanes = 6, dim = 64)
      .select(col("qid"), col("nid"), col("rank").as("rnk"))
  }

  /** Approximate top-3 via DETERMINISTIC-plane LSH, oracle-checked end to
    * end: plane p's sign for dimension i is the high bit of
    * md5("p|i")'s first hex char — reproducible by any engine with md5 —
    * and the per-plane projections accumulate in DECIMAL(38,18), so the
    * bucket keys (and therefore the candidate set and the ranked cosines)
    * are bit-identical across engines. Same scale shape as the engine-
    * native LSH: one bucket equi-join, no all-pairs.
    */
  /** The portable-LSH oracle SQL, shared verbatim by
    * `embed_ann_lsh_portable` (full readout incl. decimal cosines) and —
    * projected to (qid, nid, rnk) — by the native `embed_ann_lsh`. A def:
    * consumed by query vals on both sides of this point.
    */
  private def lshPortableSql: String = {
    val nPlanes = 6
    val sums = (0 until nPlanes).map(p =>
      s"""SUM(CASE WHEN strpos('89abcdef', substr(md5('$p|' || CAST(i AS VARCHAR)), 1, 1)) > 0
         |              THEN CAST(x AS DECIMAL(38,18)) ELSE CAST(-x AS DECIMAL(38,18)) END) AS s$p"""
        .stripMargin.replaceAll("\n\\s*", " "))
      .mkString(",\n       ")
    val bucket = (0 until nPlanes).map(p =>
      s"(CASE WHEN s$p > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH $elCte,
       |bkt AS (SELECT vec_id,
       |       $sums
       |       FROM el GROUP BY 1),
       |bk AS (SELECT vec_id, CAST($bucket AS BIGINT) AS bucket FROM bkt),
       |nrm AS (SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS n2
       |        FROM el GROUP BY 1),
       |cand AS (SELECT q.vec_id AS qid, c.vec_id AS nid
       |         FROM bk q JOIN bk c ON q.bucket = c.bucket
       |         WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
       |dots AS (SELECT cand.qid, cand.nid,
       |                CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,18))) AS DOUBLE) AS dot
       |         FROM cand
       |         JOIN el a ON a.vec_id = cand.qid
       |         JOIN el b ON b.vec_id = cand.nid AND b.i = a.i
       |         GROUP BY 1, 2),
       |cosd AS (SELECT qid, nid,
       |                round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 12) AS cosine
       |         FROM dots
       |         JOIN nrm na ON na.vec_id = dots.qid
       |         JOIN nrm nb ON nb.vec_id = dots.nid)
       |SELECT qid, nid, cosine, rnk
       |FROM (SELECT qid, nid, cosine,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk
       |      FROM cosd)
       |WHERE rnk <= 3""".stripMargin
  }

  private val annLshPortable = Q(
    "embed_ann_lsh_portable", lshPortableSql) { (s, d) =>
    val nPlanes = 6
    // the same md5-derived ±1 planes, computed driver-side once (64-dim)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(p: Int, i: Int): Int = {
      val hex = md.digest(s"$p|$i".getBytes("UTF-8"))
        .take(1).map(b => f"$b%02x").mkString
      if ("89abcdef".contains(hex.charAt(0))) 1 else -1
    }
    val vecs = vecsOf(s, d)
    // bucket bits: nPlanes IN-ROW decimal folds against the md5-plane
    // sign arrays (array position = the element's 0-based index, so
    // signs(j) = sign(p, j+1) pairs exactly as element_at(…, i+1) did)
    val planeSums = (0 until nPlanes).map { p =>
      val signs = (1 to 64).map(i => sign(p, i)).toArray
      Similarity.exactSum(zip_with(col("xs"), lit(signs),
        (x, sg) => when(sg === 1, x.cast(Similarity.ExactTerm))
          .otherwise((-x).cast(Similarity.ExactTerm)))).as(s"s$p")
    }
    val bk = vecs
      .select(col("vec_id") +: planeSums: _*)
      .select(
        col("vec_id"),
        (0 until nPlanes)
          .map(p => when(col(s"s$p") > 0, lit(1L << p)).otherwise(0L))
          .reduce(_ + _).cast(LongType).as("bucket"))
    val nrm = nrmOf(vecs)
    val cand = bk.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("bucket"))
      .join(bk.select(col("vec_id").as("nid"), col("bucket")), Seq("bucket"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"))
    rankTop3(vecs, nrm, cand)
  }

  /** IVF-bucketed approximate top-3 through the ENGINE-NATIVE path
    * ([[Similarity.ivfTopK]]: packed float arrays, broadcast centroid
    * assignment, probed inverted lists, bounded-heap top-k), certified
    * end to end: the quantizer is the deterministic strided-id sample the
    * portable twin rederives in ANSI SQL, so centroid assignment, the
    * probed candidate set, and the ranking all hash-match the from-
    * scratch oracle. Float-native cosine values are excluded from the
    * readout (last-ULP noise vs decimal accumulation); the certified
    * surface is (qid, nid, rnk).
    */
  private val annIvf = Q(
    "embed_ann_ivf",
    s"SELECT qid, nid, rnk FROM (\n$ivfPortableSql\n) certified") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 3, nCentroids = 16, nProbe = 4,
      corpusSize = Some(Tables.rowCount(s, d, "embeddings")))
      .select(col("qid"), col("nid"), col("rank").as("rnk"))
  }

  /** The (qid, nid, rnk) projection of [[ivfKmeansTop3]], certified
    * against the same oracle; convergence and recall bounds stay in
    * SimilaritySpec.
    */
  private val annIvfKmeans = Q(
    "embed_ann_ivf_kmeans",
    s"SELECT qid, nid, rnk FROM (\n$ivfKmeansPortableSql\n) certified") { (s, d) =>
    ivfKmeansTop3(s, d).select(col("qid"), col("nid"), col("rnk"))
  }

  /** IVF approximate top-3, oracle-checked end to end: the coarse
    * quantizer is the deterministic strided-id sample [[Similarity.ivfTopK]]
    * uses (vec_id % max(1, n/16) = 0, lowest 16 ids) — reproducible in
    * ANSI SQL — and every cosine (assignment AND final ranking)
    * accumulates its dot in DECIMAL(38,18) and rounds to 12 decimals, so
    * centroid assignment, the probed candidate set, and the ranked output
    * are bit-identical across engines. Same scale shape as the native
    * path: assignment touches corpus × 16 centroid pairs (the centroid
    * element set is dimension-bounded and broadcastable), lists join
    * probes on the centroid id, and only probed lists are ranked.
    */
  /** The portable-IVF oracle SQL, shared by `embed_ann_ivf_portable` and
    * (projected to qid/nid/rnk) the native `embed_ann_ivf`. A def:
    * consumed by query vals on both sides of this point.
    */
  private def ivfPortableSql: String =
    s"""WITH $elCte,
       |str AS (SELECT greatest(1, CAST(floor(count(*) / 16.0) AS BIGINT)) AS s
       |        FROM embeddings),
       |cents AS (SELECT vec_id AS cid FROM embeddings, str
       |          WHERE vec_id % s = 0 ORDER BY vec_id LIMIT 16),
       |nrm AS (SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS n2
       |        FROM el GROUP BY 1),
       |ce AS (SELECT cid, i, x AS cx FROM el JOIN cents ON el.vec_id = cents.cid),
       |cdots AS (SELECT a.vec_id, ce.cid,
       |                 CAST(SUM(CAST(a.x * ce.cx AS DECIMAL(38,18))) AS DOUBLE) AS dot
       |          FROM el a JOIN ce ON ce.i = a.i GROUP BY 1, 2),
       |csim AS (SELECT cdots.vec_id, cid,
       |                round(dot / (sqrt(nv.n2) * sqrt(nc.n2)), 12) AS cs
       |         FROM cdots
       |         JOIN nrm nv ON nv.vec_id = cdots.vec_id
       |         JOIN nrm nc ON nc.vec_id = cdots.cid),
       |ranked AS (SELECT vec_id, cid,
       |                  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS cr
       |           FROM csim),
       |lists AS (SELECT vec_id AS nid, cid FROM ranked WHERE cr = 1),
       |probes AS (SELECT vec_id AS qid, cid FROM ranked WHERE cr <= 4 AND vec_id < 5),
       |cand AS (SELECT DISTINCT qid, nid
       |         FROM probes JOIN lists ON probes.cid = lists.cid
       |         WHERE nid <> qid),
       |dots AS (SELECT cand.qid, cand.nid,
       |                CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,18))) AS DOUBLE) AS dot
       |         FROM cand
       |         JOIN el a ON a.vec_id = cand.qid
       |         JOIN el b ON b.vec_id = cand.nid AND b.i = a.i
       |         GROUP BY 1, 2),
       |cosd AS (SELECT qid, nid,
       |                round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 12) AS cosine
       |         FROM dots
       |         JOIN nrm na ON na.vec_id = dots.qid
       |         JOIN nrm nb ON nb.vec_id = dots.nid)
       |SELECT qid, nid, cosine, rnk
       |FROM (SELECT qid, nid, cosine,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk
       |      FROM cosd)
       |WHERE rnk <= 3""".stripMargin

  private val annIvfPortable = Q(
    "embed_ann_ivf_portable", ivfPortableSql) { (s, d) =>
    val vecs = vecsOf(s, d)
    // the vector count sets the centroid stride — memoized per dir, so
    // re-invocations don't re-scan the corpus for one scalar. Centroid
    // IDS come from the unfiltered table (the oracle's cents CTE ranks
    // raw vec_ids); their ARRAYS are k×dim driver state — the same
    // bounded materialization the k-means twin performs.
    val centIds = Similarity.stridedSeeds(Tables.embeddings(s, d), "vec_id",
        Similarity.seedStride(Tables.rowCount(s, d, "embeddings"), 16), 16)
      .select(col("vec_id"))
    val centArrs = vecs.join(broadcast(centIds), Seq("vec_id"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val nrm = nrmOf(vecs)
    // assignment dots as 16 IN-ROW decimal folds against the centroid
    // array literals — the el-join form inflated the corpus dim×16 and
    // re-aggregated 2M element products per pass
    val cdots =
      if (centArrs.isEmpty)
        vecs.select(col("vec_id"), lit(0L).as("cid"), lit(0.0).as("dot"))
          .limit(0)
      else vecs
        .select(col("vec_id"), explode(array(centArrs.map { case (cid, arr) =>
          struct(lit(cid).as("cid"), dotDec(col("xs"), lit(arr)).as("dot"))
        }: _*)).as("e"))
        .select(col("vec_id"), col("e.cid").as("cid"), col("e.dot").as("dot"))
    val csim = cdots
      .join(nrm.select(col("vec_id"), col("n2").as("nv")), Seq("vec_id"))
      .join(nrm.select(col("vec_id").as("cid"), col("n2").as("nc")), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        round(col("dot") / (sqrt(col("nv")) * sqrt(col("nc"))), 12).as("cs"))
    // the quantizer's argmax and top-4 over the decimal scores
    val lists = Similarity.nearestCentroid(csim)
      .select(col("vec_id").as("nid"), col("cid"))
    val probes = TopKPairs.perGroup(csim.filter(col("vec_id") < 5),
        col("vec_id"), col("cs"), col("cid"), 4)
      .select(col("vec_id").as("qid"), col("id").as("cid"))
    val cand = probes.join(lists, Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid")).distinct()
    rankTop3(vecs, nrm, cand)
  }

  /** The portable k-means-IVF oracle SQL, shared by
    * `embed_ann_ivf_kmeans_portable` and (projected to qid/nid/rnk) the
    * native `embed_ann_ivf_kmeans`. A def: consumed by query vals on
    * both sides of this point.
    */
  private def ivfKmeansPortableSql: String =
      s"""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |             FROM embeddings),
         |str AS (SELECT greatest(1, CAST(floor(count(*) / 16.0) AS BIGINT)) AS s
         |        FROM embeddings),
         |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
         |          FROM (SELECT vec_id FROM embeddings, str WHERE vec_id % s = 0
         |                ORDER BY vec_id LIMIT 16)),
         |c0 AS (SELECT cid, v AS cv FROM emb JOIN seeds USING (vec_id)),
         |${lloydRoundCte(0)},
         |${lloydRoundCte(1)},
         |ncf AS (SELECT cid, CAST(list_dot_product(cv, cv) AS DOUBLE) AS nc FROM c2),
         |scf AS (SELECT emb.vec_id, c.cid,
         |               round(CAST(list_dot_product(emb.v, c.cv) AS DOUBLE)
         |                     / (sqrt(CAST(list_dot_product(emb.v, emb.v) AS DOUBLE)) * sqrt(ncf.nc)), 12) AS cs
         |        FROM emb CROSS JOIN c2 c JOIN ncf ON ncf.cid = c.cid),
         |ranked AS (SELECT vec_id, cid,
         |                  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS cr
         |           FROM scf),
         |lists AS (SELECT vec_id AS nid, cid FROM ranked WHERE cr = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM ranked WHERE cr <= 4 AND vec_id < 5),
         |cand AS (SELECT DISTINCT qid, nid
         |         FROM probes JOIN lists ON probes.cid = lists.cid
         |         WHERE nid <> qid)
         |SELECT qid, nid, cosine, rnk
         |FROM (SELECT qid, nid, cosine,
         |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk
         |      FROM (SELECT cand.qid, cand.nid,
         |                   round(CAST(list_dot_product(a.v, b.v) AS DOUBLE)
         |                         / (sqrt(CAST(list_dot_product(a.v, a.v) AS DOUBLE))
         |                            * sqrt(CAST(list_dot_product(b.v, b.v) AS DOUBLE))), 12) AS cosine
         |            FROM cand
         |            JOIN emb a ON a.vec_id = cand.qid
         |            JOIN emb b ON b.vec_id = cand.nid))
         |WHERE rnk <= 3""".stripMargin

  /** K-MEANS IVF top-3 (qid, nid, cosine, rnk), oracle-checked end to
    * end: [[Similarity.ivfTopKKmeans]]'s strided seeds, two Lloyd
    * rounds and probed-list search, every step replayed by the oracle.
    * Every DOT is the native [[graft.plans.DotProduct]] fold, which
    * `embed_dot_native` proves bit-identical to DuckDB's
    * `list_dot_product`, read as the 12-digit cosine; every MEAN is a
    * DECIMAL(38,18) sum divided once. So seeds, assignments (ties to the
    * lower cid), refined centroids, probes and the ranked output are
    * bit-identical across engines. `embed_ann_ivf_kmeans` certifies
    * (qid, nid, rnk) of it, `embed_ann_ivf_kmeans_portable` the cosines
    * too.
    */
  private def ivfKmeansTop3(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopKKmeans(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 3, nCentroids = 16, nProbe = 4, iters = 2,
      corpusSize = Some(Tables.rowCount(s, d, "embeddings")))
      .toDF("qid", "nid", "cosine", "rnk")
  }

  private val annIvfKmeansPortable = Q(
    "embed_ann_ivf_kmeans_portable", ivfKmeansPortableSql)(ivfKmeansTop3)

  /** INCREMENTAL ANN maintenance: a new embedding batch (vec_id % 40 == 7
    * — the arrivals) is searched against an index built from HISTORY only
    * (strided centroids + inverted lists over vec_id % 40 != 7), without
    * re-indexing: history is assigned once, the new batch probes its
    * top-4 centroids and ranks only the probed lists — the ANN mirror of
    * `dedup_incremental_pairs`. All dots are the native double fold
    * (= DuckDB `list_dot_product`), so assignment, probes, candidates,
    * and the ranked output hash-match end to end.
    *
    * It is [[Similarity.ivfTopKWith]] with history as the corpus (its
    * lists; in production that assignment IS the persisted index) and
    * the arrivals as the queries (their probes): a bucket equi-join on
    * the centroid id and a per-query top-k. Nothing rebuilds, and
    * nothing ever compares new × all-history.
    */
  private val annIncremental = Q(
    "embed_ann_incremental",
    """WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |             FROM embeddings),
      |hist AS (SELECT * FROM emb WHERE vec_id % 40 <> 7),
      |newb AS (SELECT * FROM emb WHERE vec_id % 40 = 7),
      |str AS (SELECT greatest(1, CAST(floor(count(*) / 16.0) AS BIGINT)) AS s FROM embeddings),
      |cents AS (SELECT vec_id AS cid, v AS cv FROM
      |            (SELECT vec_id, v FROM hist, str WHERE vec_id % s = 0
      |             ORDER BY vec_id LIMIT 16)),
      |nc AS (SELECT cid, CAST(list_dot_product(cv, cv) AS DOUBLE) AS n2 FROM cents),
      |hsim AS (SELECT hist.vec_id, cents.cid,
      |                round(CAST(list_dot_product(hist.v, cents.cv) AS DOUBLE)
      |                      / (sqrt(CAST(list_dot_product(hist.v, hist.v) AS DOUBLE)) * sqrt(nc.n2)), 12) AS cs
      |         FROM hist CROSS JOIN cents JOIN nc ON nc.cid = cents.cid),
      |lists AS (SELECT vec_id AS nid, cid FROM
      |            (SELECT vec_id, cid,
      |                    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS r
      |             FROM hsim) WHERE r = 1),
      |qsim AS (SELECT newb.vec_id, cents.cid,
      |                round(CAST(list_dot_product(newb.v, cents.cv) AS DOUBLE)
      |                      / (sqrt(CAST(list_dot_product(newb.v, newb.v) AS DOUBLE)) * sqrt(nc.n2)), 12) AS cs
      |         FROM newb CROSS JOIN cents JOIN nc ON nc.cid = cents.cid),
      |probes AS (SELECT vec_id AS qid, cid FROM
      |             (SELECT vec_id, cid,
      |                     row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS r
      |              FROM qsim) WHERE r <= 4),
      |cand AS (SELECT DISTINCT qid, nid FROM probes JOIN lists USING (cid))
      |SELECT qid, nid, cosine, rnk
      |FROM (SELECT qid, nid, cosine,
      |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk
      |      FROM (SELECT cand.qid, cand.nid,
      |                   round(CAST(list_dot_product(a.v, b.v) AS DOUBLE)
      |                         / (sqrt(CAST(list_dot_product(a.v, a.v) AS DOUBLE))
      |                            * sqrt(CAST(list_dot_product(b.v, b.v) AS DOUBLE))), 12) AS cosine
      |            FROM cand
      |            JOIN emb a ON a.vec_id = cand.qid
      |            JOIN emb b ON b.vec_id = cand.nid))
      |WHERE rnk <= 3""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val hist = emb.filter(pmod(col("vec_id"), lit(40)) =!= 7)
    // stride from the memoized TOTAL corpus count (one cached scalar);
    // the seed set itself is restricted to history
    val cents = Similarity.stridedSeeds(hist, "vec_id",
        Similarity.seedStride(Tables.rowCount(s, d, "embeddings"), 16), 16)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("cv"))
    Similarity.ivfTopKWith(hist, emb.filter(pmod(col("vec_id"), lit(40)) === 7),
        "vec_id", "embedding", k = 3, nProbe = 4, cents)
      .toDF("qid", "nid", "cosine", "rnk")
  }

  /** Shared oracle CTEs: exact-decimal cosine near-dup pairs (vec_id < 100,
    * cosine >= 0.35). Prefix with `WITH $elCte,` in the consuming query.
    */
  private val cosinePairsCte =
    """nrm AS (SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS n2
      |        FROM el GROUP BY 1),
      |dots AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |                CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,18))) AS DOUBLE) AS dot
      |         FROM el a JOIN el b
      |           ON a.i = b.i AND a.vec_id < b.vec_id
      |          AND a.vec_id < 100 AND b.vec_id < 100
      |         GROUP BY 1, 2),
      |pr AS (SELECT vec_a, vec_b,
      |              round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 12) AS cosine
      |       FROM dots
      |       JOIN nrm na ON na.vec_id = dots.vec_a
      |       JOIN nrm nb ON nb.vec_id = dots.vec_b
      |       WHERE round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 12) >= 0.35)""".stripMargin

  /** Spark plan matching [[cosinePairsCte]]: (vec_a, vec_b, cosine).
    * The pair set is the literal-bounded vec_id < 100 sample, so the
    * self-join is a ≤100×100 broadcast nested loop (whitelisted in
    * PlanSpec — bounded by the predicate, not the corpus) and each
    * pair's dot is one in-row [[dotDec]] fold; the element form joined
    * two dim×100 element streams on i and re-aggregated 640 k products.
    */
  private def cosinePairsDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    val v100 = vecsOf(s, d).filter(col("vec_id") < 100)
    val nrm = nrmOf(v100)
    val dots = v100.select(col("vec_id").as("vec_a"), col("xs").as("xa"))
      .join(broadcast(v100.select(col("vec_id").as("vec_b"), col("xs").as("xb"))),
        col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), dotDec(col("xa"), col("xb")).as("dot"))
    dots
      .join(nrm.select(col("vec_id").as("vec_a"), col("n2").as("na")), Seq("vec_a"))
      .join(nrm.select(col("vec_id").as("vec_b"), col("n2").as("nb")), Seq("vec_b"))
      .select(
        col("vec_a"), col("vec_b"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 12).as("cosine"))
      .filter(col("cosine") >= 0.35)
  }

  /** Embedding-cosine near-duplicate pairs over a bounded sample —
    * exact-decimal dots so the pair set and scores hash-match the oracle.
    * (The embeddings table has no true duplicates; 0.35 captures its
    * closest-pair tail.)
    */
  private val cosineDups = Q(
    "embed_cosine_dups",
    s"""WITH $elCte,
       |$cosinePairsCte
       |SELECT vec_a, vec_b, cosine FROM pr""".stripMargin) { (s, d) =>
    cosinePairsDf(s, d)
  }

  /** Embedding-cosine duplicate CLUSTERS: connected components over the
    * cosine near-dup pairs (graft.operators.Dedup.dupClusters — the same
    * connected-components loop the MinHash clusters use), so a cluster of
    * mutually-similar embeddings collapses to its min vec_id. The oracle
    * takes the transitive closure with a recursive CTE.
    */
  private val cosineClusters = Q(
    "embed_dedup_clusters",
    s"""WITH RECURSIVE $elCte,
       |$cosinePairsCte,
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pr
       |          UNION SELECT vec_b, vec_a FROM pr),
       |reach AS (SELECT src, dst FROM edges
       |          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT src AS vec_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster
       |FROM reach GROUP BY 1""".stripMargin) { (s, d) =>
    graft.operators.Dedup.dupClusters(
        cosinePairsDf(s, d)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster"))
  }

  /** The same clusters as a star graph (each member → its component's
    * min vec_id), from the same loop (graft.operators.Dedup.dupClusters).
    * Identical recursive-CTE oracle, its own CORRECTNESS row.
    */
  private val cosineClustersStar = Q(
    "dedup_clusters_star",
    s"""WITH RECURSIVE $elCte,
       |$cosinePairsCte,
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pr
       |          UNION SELECT vec_b, vec_a FROM pr),
       |reach AS (SELECT src, dst FROM edges
       |          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT src AS vec_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster
       |FROM reach GROUP BY 1""".stripMargin) { (s, d) =>
    graft.operators.Dedup.dupClusters(
        cosinePairsDf(s, d)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster"))
  }

  /** The native fused DotProduct expression (graft.plans.DotProduct,
    * registered via GraftExtensions) against an ANSI list_dot_product
    * oracle: same sequential fold, same doubles — checked per row.
    * (Self-dot is ≡1 on these unit vectors, so dot against the reversed
    * vector keeps the value informative.)
    */
  private val dotNativeQ = Q(
    "embed_dot_native",
    """SELECT vec_id,
      |       round(CAST(list_dot_product(
      |                list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                list_reverse(list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS DOUBLE),
      |             6) AS rev_dot
      |FROM embeddings""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d).select(
      col("vec_id"),
      round(
        graft.operators.Similarity.dotNative(
          col("embedding"), reverse(col("embedding"))), 6).as("rev_dot"))
  }

  /** Cross-modal join — embeddings to their source documents (vec_id ==
    * doc_id in the harness corpus), aggregating exact-decimal L2 norms
    * per language: the language-conditioned embedding health check a
    * curation pipeline runs before training. Both sides are corpus-sized,
    * so this is a plain shuffled equi-join on the id — neither side is
    * broadcastable at 100 TB, and none is needed.
    */
  private val langNorms = Q(
    "embed_lang_norms",
    s"""WITH norms AS (SELECT vec_id,
       |                 CAST(list_dot_product(
       |                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |                   list_transform(embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE) AS n2
       |               FROM embeddings)
       |SELECT lang, $C AS n,
       |       CAST(SUM(CAST(sqrt(n2) AS DECIMAL(28,12))) AS DOUBLE) AS sum_norm
       |FROM norms JOIN documents ON doc_id = vec_id
       |GROUP BY 1""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        Similarity.dotNative(col("embedding"), col("embedding")).as("n2"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("doc_id") === col("vec_id"))
      .groupBy(col("lang"))
      .agg(
        lcount().as("n"),
        sum(sqrt(col("n2")).cast(DecimalType(28, 12))).cast(DoubleType)
          .as("sum_norm"))
  }

  /** Product-quantization ANN ([[graft.operators.Pq]]): 64 floats become
    * 32 nibble codes (16-centroid codebook per 2-dim subspace, strided
    * deterministic codebook — 16× compression, measured recall 13/15
    * vs the exact top-10), and each query ranks the corpus by the ADC
    * table-lookup distance — the compressed-index path that fits executor
    * memory when the raw vectors don't. Encoding is ONE map-side
    * projection against codebook literals (no join/shuffle); the ADC
    * table (5 queries × 32 subspaces × 16 codes) attaches by broadcast.
    * Every subspace distance accumulates (x−c)² in DECIMAL(38,18) and the
    * final estimate is one decimal sum cast to double, so codes, tables,
    * and rankings are bit-replayed by the oracle (which encodes
    * relationally — same arithmetic, shuffled shape DuckDB can afford at
    * test SF).
    */
  private val pqTopK = Q(
    "embed_pq_topk",
    s"""WITH $elCte,
       |n16 AS (SELECT greatest(1, CAST(count(*) // 16 AS BIGINT)) AS stride FROM embeddings),
       |cbv AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j
       |        FROM embeddings CROSS JOIN n16
       |        WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),
       |cbe AS (SELECT cbv.j, CAST((el.i - 1) // 2 AS BIGINT) AS m, el.i, el.x AS c
       |        FROM cbv JOIN el ON el.vec_id = cbv.vec_id),
       |enc0 AS (SELECT el.vec_id AS nid, cbe.m, cbe.j,
       |                SUM(CAST((el.x - cbe.c) * (el.x - cbe.c) AS DECIMAL(38,18))) AS d2
       |         FROM el JOIN cbe ON cbe.i = el.i GROUP BY 1, 2, 3),
       |enc AS (SELECT nid, m, j AS code
       |        FROM (SELECT nid, m, j,
       |                     row_number() OVER (PARTITION BY nid, m ORDER BY d2, j) AS r
       |              FROM enc0)
       |        WHERE r = 1),
       |qt AS (SELECT nid AS qid, m, j, d2 AS t FROM enc0 WHERE nid < 5),
       |dist AS (SELECT qt.qid, enc.nid, round(CAST(SUM(qt.t) AS DOUBLE), 12) AS dist_est
       |         FROM enc JOIN qt ON qt.m = enc.m AND qt.j = enc.code
       |         WHERE enc.nid <> qt.qid
       |         GROUP BY 1, 2)
       |SELECT qid, nid, dist_est, rnk
       |FROM (SELECT qid, nid, dist_est,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist_est, nid) AS BIGINT) AS rnk
       |      FROM dist)
       |WHERE rnk <= 3""".stripMargin) { (s, d) =>
    val corpus = Tables.spread(Tables.embeddings(s, d))
    graft.operators.Pq.adcTopK(
      corpus, corpus.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 3, nSub = 32, nCent = 16,
      corpusSize = Some(Tables.rowCount(s, d, "embeddings")))
  }

  /** IVF-PQ — the standard production ANN index, composed from the two
    * certified stages: the strided coarse quantizer assigns every corpus
    * vector to its nearest-by-L2 centroid (inverted lists), each query
    * probes its 4 nearest lists, and ONLY the probed candidates are
    * ranked — by PQ ADC table lookup over the compressed codes, never by
    * touching raw vectors. At 100 TB that means the fine stage reads
    * 16 bytes/vector from ~4/16ths of the corpus. Every distance in both
    * stages is a DECIMAL(38,18) accumulation rounded to 12 at the double
    * readout, so list assignment, probes, codes, tables, and the final
    * ranking all bit-replay in the oracle.
    */
  private val annIvfPq = Q(
    "embed_ann_ivfpq",
    s"""WITH $elCte,
       |str AS (SELECT greatest(1, CAST(floor(count(*) / 16.0) AS BIGINT)) AS s
       |        FROM embeddings),
       |cents AS (SELECT vec_id AS cid FROM embeddings, str
       |          WHERE vec_id % s = 0 ORDER BY vec_id LIMIT 16),
       |ce AS (SELECT cid, i, x AS cx FROM el JOIN cents ON el.vec_id = cents.cid),
       |cd AS (SELECT a.vec_id, ce.cid,
       |              round(CAST(SUM(CAST((a.x - ce.cx) * (a.x - ce.cx) AS DECIMAL(38,18))) AS DOUBLE), 12) AS d2
       |       FROM el a JOIN ce ON ce.i = a.i GROUP BY 1, 2),
       |ranked AS (SELECT vec_id, cid,
       |                  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS cr
       |           FROM cd),
       |lists AS (SELECT vec_id AS nid, cid FROM ranked WHERE cr = 1),
       |probes AS (SELECT vec_id AS qid, cid FROM ranked WHERE cr <= 4 AND vec_id < 5),
       |cand AS (SELECT DISTINCT qid, nid
       |         FROM probes JOIN lists ON probes.cid = lists.cid
       |         WHERE nid <> qid),
       |cbv AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j
       |        FROM embeddings CROSS JOIN str
       |        WHERE vec_id % s = 0 ORDER BY vec_id LIMIT 16),
       |cbe AS (SELECT cbv.j, CAST((el.i - 1) // 2 AS BIGINT) AS m, el.i, el.x AS c
       |        FROM cbv JOIN el ON el.vec_id = cbv.vec_id),
       |enc0 AS (SELECT el.vec_id AS nid, cbe.m, cbe.j,
       |                SUM(CAST((el.x - cbe.c) * (el.x - cbe.c) AS DECIMAL(38,18))) AS d2
       |         FROM el JOIN cbe ON cbe.i = el.i GROUP BY 1, 2, 3),
       |enc AS (SELECT nid, m, j AS code
       |        FROM (SELECT nid, m, j,
       |                     row_number() OVER (PARTITION BY nid, m ORDER BY d2, j) AS r
       |              FROM enc0)
       |        WHERE r = 1),
       |qt AS (SELECT nid AS qid, m, j, d2 AS t FROM enc0 WHERE nid < 5),
       |dist AS (SELECT cand.qid, cand.nid,
       |                round(CAST(SUM(qt.t) AS DOUBLE), 12) AS dist_est
       |         FROM cand
       |         JOIN enc ON enc.nid = cand.nid
       |         JOIN qt ON qt.qid = cand.qid AND qt.m = enc.m AND qt.j = enc.code
       |         GROUP BY 1, 2)
       |SELECT qid, nid, dist_est, rnk
       |FROM (SELECT qid, nid, dist_est,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist_est, nid) AS BIGINT) AS rnk
       |      FROM dist)
       |WHERE rnk <= 3""".stripMargin) { (s, d) =>
    val emb = Tables.spread(Tables.embeddings(s, d))
    val vecs = vecsOf(s, d)
    // centroid IDS from the unfiltered table (the oracle ranks raw
    // vec_ids); their arrays are k×dim driver state, and the coarse d²
    // is 16 IN-ROW decimal folds — the el-join form inflated the corpus
    // dim×16 and re-aggregated 2M element products
    val centIds = Similarity.stridedSeeds(Tables.embeddings(s, d), "vec_id",
        Similarity.seedStride(Tables.rowCount(s, d, "embeddings"), 16), 16)
      .select(col("vec_id"))
    val centArrs = vecs.join(broadcast(centIds), Seq("vec_id"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val cd =
      if (centArrs.isEmpty)
        vecs.select(col("vec_id"), lit(0L).as("cid"), lit(0.0).as("d2"))
          .limit(0)
      else vecs
        .select(col("vec_id"), explode(array(centArrs.map { case (cid, arr) =>
          struct(lit(cid).as("cid"),
            round(Similarity.exactSum(zip_with(col("xs"), lit(arr),
              (x, c) => ((x - c) * (x - c)).cast(Similarity.ExactTerm)))
              .cast(DoubleType), 12).as("d2"))
        }: _*)).as("e"))
        .select(col("vec_id"), col("e.cid").as("cid"), col("e.d2").as("d2"))
    // nearest-centroid argmin / top-4 as map-side-partial aggregates,
    // not a row_number window over the n×k distance rows (see
    // Similarity.nearestCentroid). min_by's struct order (lowest d2,
    // then lowest cid) replays the window's (d2 asc, cid asc); the probe ranks -d2, so
    // distance ascending — d2 is a sum of squares, so no NaN enters
    // either ordering.
    val lists = cd.groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))
      .select(col("vec_id").as("nid"), col("cid"))
    val probes = TopKPairs.perGroup(cd.filter(col("vec_id") < 5),
        col("vec_id"), -col("d2"), col("cid"), 4)
      .select(col("vec_id").as("qid"), col("id").as("cid"))
    val cand = probes.join(lists, Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid")).distinct()
    graft.operators.Pq.adcTopKForPairs(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", cand,
      k = 3, nSub = 32, nCent = 16,
      corpusSize = Some(Tables.rowCount(s, d, "embeddings")))
  }

  /** The native fused-loop PQ encoder ([[graft.plans.PqEncode]] — the
    * codegen'd hot path) certified END-TO-END: all 32 codes of every
    * corpus vector, against an oracle that replays the double-arithmetic
    * argmin exactly — with 2-dim subspaces each candidate distance is
    * the PINNED expression (x1−c1)² + (x2−c2)², no float aggregation
    * order anywhere, so even the fast path is bit-replayable. (The
    * decimal [[graft.operators.Pq.encode]] path keeps `embed_pq_topk`;
    * PqSpec additionally pins native == decimal code-for-code.)
    */
  private val pqCodesNative = Q(
    "embed_pq_codes_native",
    s"""WITH $elCte,
       |n16 AS (SELECT greatest(1, CAST(count(*) // 16 AS BIGINT)) AS stride FROM embeddings),
       |cbv AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j
       |        FROM embeddings CROSS JOIN n16
       |        WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),
       |cbe AS (SELECT cbv.j, CAST((el.i - 1) // 2 AS BIGINT) AS m, el.i, el.x AS c
       |        FROM cbv JOIN el ON el.vec_id = cbv.vec_id),
       |cb2 AS (SELECT j, m,
       |               MAX(CASE WHEN (i - 1) % 2 = 0 THEN c END) AS c1,
       |               MAX(CASE WHEN (i - 1) % 2 = 1 THEN c END) AS c2
       |        FROM cbe GROUP BY 1, 2),
       |ve2 AS (SELECT vec_id AS nid, CAST((i - 1) // 2 AS BIGINT) AS m,
       |               MAX(CASE WHEN (i - 1) % 2 = 0 THEN x END) AS v1,
       |               MAX(CASE WHEN (i - 1) % 2 = 1 THEN x END) AS v2
       |        FROM el GROUP BY 1, 2),
       |d AS (SELECT ve2.nid, ve2.m, cb2.j,
       |             (ve2.v1 - cb2.c1) * (ve2.v1 - cb2.c1)
       |               + (ve2.v2 - cb2.c2) * (ve2.v2 - cb2.c2) AS d2
       |      FROM ve2 JOIN cb2 ON cb2.m = ve2.m)
       |SELECT nid, CAST(m AS INT) AS m, CAST(j AS INT) AS code
       |FROM (SELECT nid, m, j,
       |             row_number() OVER (PARTITION BY nid, m ORDER BY d2, j) AS r
       |      FROM d)
       |WHERE r = 1""".stripMargin) { (s, d) =>
    val corpus = Tables.spread(Tables.embeddings(s, d))
    val cb = graft.operators.Pq.codebook(corpus, "vec_id", "embedding", 16,
      corpusSize = Some(Tables.rowCount(s, d, "embeddings")))
    graft.operators.Pq.encodeNative(corpus, "vec_id", "embedding", cb, 32)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk / CCMatrix): a bounded
    * batch of "source-language" vectors (label 0, vec_id < 320 — the
    * batched shape real mining runs, a query chunk against a target
    * pool) is scored against the full label-1 pool with the RATIO margin
    *
    *   margin(x, y) = cos(x, y) / ((Σ top-4 cos(x, ·) + Σ top-4 cos(·, y)) / 8)
    *
    * which suppresses hub vectors that are near everything — the reason
    * raw-cosine mining yields junk pairs at scale. Each source keeps its
    * best-margin target when the margin clears the standard ≈1.05
    * acceptance ratio. Arithmetic: exact-decimal dots and norms, 12-digit
    * pinned cosines, EXACT decimal top-4 sums (a double Σ would be
    * order-sensitive), one pinned double division for the readout — the
    * oracle replays every step. Scale shape: batch × pool cosine matrix
    * (bounded rows × linear pool, never pool²) computed once and reused
    * for both normalization sides; per-q/per-t windows only — the ANN
    * candidate generators above slot in as the pool-side prefilter at
    * the 100 TB point.
    */
  private val bitextMargin = Q(
    "embed_bitext_margin",
    s"""WITH $elCte,
       |nrm AS (SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS n2
       |        FROM el GROUP BY 1),
       |q AS (SELECT vec_id AS qid FROM embeddings WHERE label = 0 AND vec_id < 320),
       |t AS (SELECT vec_id AS tid FROM embeddings WHERE label = 1),
       |dots AS (SELECT a.vec_id AS qid, b.vec_id AS tid,
       |                CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,18))) AS DOUBLE) AS dot
       |         FROM el a JOIN q ON a.vec_id = q.qid
       |         JOIN el b ON a.i = b.i
       |         JOIN t ON b.vec_id = t.tid
       |         GROUP BY 1, 2),
       |cosd AS (SELECT qid, tid, round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 12) AS c
       |         FROM dots
       |         JOIN nrm na ON na.vec_id = dots.qid
       |         JOIN nrm nb ON nb.vec_id = dots.tid),
       |rk AS (SELECT qid, tid, c,
       |              row_number() OVER (PARTITION BY qid ORDER BY c DESC, tid) AS rq,
       |              row_number() OVER (PARTITION BY tid ORDER BY c DESC, qid) AS rt
       |       FROM cosd),
       |sq AS (SELECT qid, SUM(CAST(c AS DECIMAL(16,12))) AS sq FROM rk WHERE rq <= 4 GROUP BY 1),
       |st AS (SELECT tid, SUM(CAST(c AS DECIMAL(16,12))) AS st FROM rk WHERE rt <= 4 GROUP BY 1),
       |m AS (SELECT cosd.qid, cosd.tid, cosd.c,
       |             round(cosd.c * 8.0 / CAST(sq.sq + st.st AS DOUBLE), 12) AS margin
       |      FROM cosd JOIN sq ON sq.qid = cosd.qid JOIN st ON st.tid = cosd.tid),
       |b AS (SELECT qid, tid, c, margin,
       |             row_number() OVER (PARTITION BY qid ORDER BY margin DESC, tid) AS rb
       |      FROM m)
       |SELECT qid AS src_id, tid AS tgt_id, c AS cosine, margin
       |FROM b WHERE rb = 1 AND margin > 1.05""".stripMargin) { (s, d) =>
    // filter BEFORE the element explode: only the two mined "languages"
    // are touched, so the other labels' vectors are never exploded (the
    // whole-corpus `elements` frame cost three full-corpus explodes here)
    def elemsOf(df: org.apache.spark.sql.DataFrame) =
      graft.sources.Tables.spread(df)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").as("i"),
          col("col").cast(DoubleType).as("x"))
    val emb = Tables.embeddings(s, d)
    val srcEl = elemsOf(emb.filter(col("label") === 0 && col("vec_id") < 320))
    val tgtEl = elemsOf(emb.filter(col("label") === 1))
    def norms(el: org.apache.spark.sql.DataFrame) = el.groupBy(col("vec_id"))
      .agg(sum((col("x") * col("x")).cast(dec)).cast(DoubleType).as("n2"))
    val a = srcEl.select(col("vec_id").as("qid"), col("i"), col("x").as("xa"))
    val b = tgtEl.select(col("vec_id").as("tid"), col("i"), col("x").as("xb"))
    val dots = a.join(b, Seq("i"))
      .groupBy(col("qid"), col("tid"))
      .agg(sum((col("xa") * col("xb")).cast(dec)).cast(DoubleType).as("dot"))
    // materialize the cosine matrix ONCE: four consumers (both top-4
    // normalization branches, the margin join, the final ranking) would
    // otherwise each re-run the element join. The pinned data is
    // batch × pool rows (bounded × linear), never pool².
    val cosd = Pin(dots
      .join(norms(srcEl).select(col("vec_id").as("qid"), col("n2").as("na")), Seq("qid"))
      .join(norms(tgtEl).select(col("vec_id").as("tid"), col("n2").as("nb")), Seq("tid"))
      .select(col("qid"), col("tid"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 12).as("c")))
    // Both top-4 normalization terms and the final argmax are
    // TopKPairs.perGroup / max_by aggregates, not row_number windows:
    // cosd is |src|×|tgt| rows, and partitioning it by qid funnels the
    // whole target pool through one partition per query (and vice versa
    // for tid). perGroup selects each window's (c desc, id asc) rows, so
    // the decimal sums are over the same 4 rows.
    def top4Sum(keyCol: String, idCol: String, out: String) =
      TopKPairs.perGroup(cosd, col(keyCol), col("c"), col(idCol), 4)
        .groupBy(col(keyCol))
        .agg(sum(col("score").cast(DecimalType(16, 12))).as(out))
    val sq = top4Sum("qid", "tid", "sq")
    val st = top4Sum("tid", "qid", "st")
    val margins = cosd.join(sq, Seq("qid")).join(st, Seq("tid"))
      .select(col("qid"), col("tid"), col("c"),
        round(col("c") * lit(8.0) / (col("sq") + col("st")).cast(DoubleType), 12)
          .as("margin"))
    // per-query argmax margin (ties to lower tid) — max_by's struct
    // order (margin, -tid) replays the window's (margin desc, tid asc)
    margins.groupBy(col("qid"))
      .agg(max_by(struct(col("tid"), col("c"), col("margin")),
        struct(col("margin"), (-col("tid")).as("nt"))).as("m"))
      .filter(col("m.margin") > 1.05)
      .select(col("qid").as("src_id"), col("m.tid").as("tgt_id"),
        col("m.c").as("cosine"), col("m.margin").as("margin"))
  }

  // ---- SemDeDup: k-means-cluster-local semantic dedup (Abbas et al.
  // 2023, "SemDeDup: Data-efficient learning at web-scale through
  // semantic deduplication") ------------------------------------------

  /** Target cluster population for the SemDeDup quantizer: seeds are
    * every `SemStride`-th vec_id, so k grows with the corpus and the
    * per-cluster pairwise work stays O(SemStride) per row — the paper's
    * own scaling rule (k ∝ n keeps within-cluster comparisons linear in
    * corpus size; their LAION run used k = 50 000 for the same reason).
    * k is CAPPED at [[SemMaxK]], so the broadcast centroid frame and the
    * driver-side k×dim materialization (the standard k-means centroid
    * table) stay bounded no matter the corpus; past the cap, cluster
    * population grows instead — the paper's own regime, where the
    * within-cluster quadratic is accepted and sharded.
    */
  private val SemStride = 125L

  /** Hard ceiling on the SemDeDup quantizer's k: 65 536 × dim doubles is
    * a ~32 MB broadcast at dim 64 — the bound that keeps `embed_semdedup`
    * off the unscalable-join list at ANY corpus size. The EFFECTIVE cap
    * is additionally dim-aware (see [[CentroidBudgetBytes]]): k × dim × 8
    * bytes must fit the broadcast budget, so at dim 512 the cap tightens
    * to 32 768 instead of shipping a ~270 MB frame to every executor.
    */
  private val SemMaxK = 65536

  /** Broadcast budget for the SemDeDup centroid frame. Arithmetic: the
    * frame is k rows × dim doubles = k·dim·8 bytes — 65 536 × 64 × 8 =
    * 32 MB (fine), but 65 536 × 512 × 8 = 268 MB: under Spark's 8 GB
    * broadcast hard cap yet far past sane executor memory overhead when
    * every executor pins a deserialized copy. 128 MB caps the effective
    * k at `budget / (dim·8)` — past it, cluster population grows instead
    * (the paper's sharded-quadratic regime, same behavior as the SemMaxK
    * cap itself). The oracle computes the SAME dim-aware LIMIT
    * (least(SemMaxK, budget // (8·max(len(v))))), so parity holds even
    * when the cap binds — not just at harness dims.
    */
  private val CentroidBudgetBytes = 128L << 20

  /** SemDeDup near-duplicate threshold — the same 0.35 tail that
    * `embed_cosine_dups` pins as this corpus's closest-pair band.
    */
  private val SemTau = 0.35

  /** Final stride-seeded k-means assignment (vec_id, cid, v): the same
    * two-round exact-arithmetic Lloyd loop `embed_ann_ivf_kmeans` uses
    * (native-dot assignment cosines, DECIMAL(38,18) centroid means,
    * empty clusters keep their previous centroid), but seeded on a FIXED
    * stride instead of a fixed k, so cluster population — and with it the
    * within-cluster pairwise cost both consumers pay — is constant as the
    * corpus grows. Shared: both SemDeDup and the kNN-density score
    * consume the identical frame.
    */
  /** Shared frame whose bytes also live in [[graft.sources.BuildCache]]
    * ([[Frames.sharedParquet]] — same contract as LlmText's
    * cachedFrame); the digest extras cover the classes that compute
    * these frames, so a code edit rebuilds instead of serving stale
    * bytes.
    */
  private def cachedFrame(s: org.apache.spark.sql.SparkSession, d: String,
      kind: String)(build: => org.apache.spark.sql.DataFrame) =
    Frames.sharedParquet(s, kind, d, "v1",
      Seq("graft/queries/LlmEmbed",
        "graft/operators/Similarity", "graft/plans/"))(build)

  private def semAssign(s: org.apache.spark.sql.SparkSession, d: String) =
    cachedFrame(s, d, "semdedup-assign") {
      val embD = Tables.embeddings(s, d)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      // dim-aware k cap: k ≤ budget/(dim·8) so the centroid broadcast
      // never exceeds CentroidBudgetBytes. dim is the MAX embedding size
      // (a deterministic aggregate — a first-row probe would be
      // plan-order-dependent), and the ORACLE computes the identical
      // least(SemMaxK, budget // (8·max(len(v)))) LIMIT, so engine and
      // certification agree at ANY dim, not just ones where the cap
      // never binds. An EMPTY/all-null table aggregates to null → dim 1
      // (no seeds exist anyway, the cap is vacuous there).
      val dimRow = Tables.embeddings(s, d)
        .agg(max(size(col("embedding")))).head
      val dim = if (dimRow.isNullAt(0)) 1 else math.max(1, dimRow.getInt(0))
      val effK = math.min(SemMaxK.toLong,
        CentroidBudgetBytes / (dim.toLong * 8)).toInt
      require(effK >= 1,
        s"embedding dim $dim needs ${dim.toLong * 8} B per centroid — over " +
          s"the $CentroidBudgetBytes B broadcast budget even at k = 1")
      val cents = Similarity.kmeans(embD,
        Similarity.stridedSeeds(embD, "vec_id", SemStride, effK), 2)
      // No zero-norm filter: a zero-norm vector's cosines are all NaN,
      // which the argmax ranks greatest, so it lands on the lowest cid —
      // as under the oracle's row_number (NaN last in ORDER BY DESC).
      // The streaming maintainer filters n2 > 0 only because a
      // directionless vector must not become a dedup WITNESS there; the
      // batch contract is assign-everything. n2 rides along: every pair
      // consumer divides by sqrt(na)·sqrt(nb), and recomputing the
      // self-dots inside the quadratic pair join would triple its flops.
      Similarity.nearestCentroid(Similarity.centroidScores(embD, cents))
        .join(embD.withColumn("n2", Similarity.dotNative(col("v"), col("v"))),
          Seq("vec_id"))
        .select(col("vec_id"), col("cid"), col("v"), col("n2"))
    }

  /** All within-cluster cosine pairs (cid, va < vb, c): an equi-join on
    * the cluster id, never corpus × corpus — the bound SemDeDup buys by
    * clustering first. Native-dot cosines, rounded to the certified 12
    * digits. Shared by `embed_semdedup` (τ filter) and
    * `embed_knn_density` (top-k mean).
    */
  private def semPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    cachedFrame(s, d, "semdedup-pairs") {
      val asg = semAssign(s, d)
      val a = asg.select(col("cid"), col("vec_id").as("va"),
        col("v").as("xa"), col("n2").as("na"))
      val b = asg.select(col("cid"), col("vec_id").as("vb"),
        col("v").as("xb"), col("n2").as("nb"))
      a.join(b, Seq("cid")).filter(col("va") < col("vb"))
        .select(col("cid"), col("va"), col("vb"),
          Similarity.cosine12(col("xa"), col("xb"), col("na"), col("nb")).as("c"))
    }

  /** One Lloyd round as oracle CTEs, c{i} -> n/s/a/m/ce{i} -> c{i+1}:
    * the [[Similarity.kmeans]] round replayed — `list_dot_product`
    * cosines rounded to 12 digits, row_number argmax (cs DESC, cid),
    * DECIMAL(38,18) element means, empty-cluster carry-forward. Shared
    * by the k-means IVF and SemDeDup oracles.
    */
  private def lloydRoundCte(i: Int): String =
    s"""n$i AS (SELECT cid, CAST(list_dot_product(cv, cv) AS DOUBLE) AS nc FROM c$i),
       |s$i AS (SELECT emb.vec_id, c.cid,
       |               round(CAST(list_dot_product(emb.v, c.cv) AS DOUBLE)
       |                     / (sqrt(CAST(list_dot_product(emb.v, emb.v) AS DOUBLE)) * sqrt(n$i.nc)), 12) AS cs
       |        FROM emb CROSS JOIN c$i c JOIN n$i ON n$i.cid = c.cid),
       |a$i AS (SELECT vec_id, cid FROM (
       |          SELECT vec_id, cid,
       |                 row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS r
       |          FROM s$i) WHERE r = 1),
       |m$i AS (SELECT a$i.cid, t.i,
       |               CAST(SUM(CAST(emb.v[i] AS DECIMAL(38,18))) AS DOUBLE)
       |                 / CAST(count(*) AS DOUBLE) AS mx
       |        FROM emb JOIN a$i USING (vec_id)
       |        CROSS JOIN LATERAL (SELECT unnest(range(1, len(emb.v) + 1)) AS i) t
       |        GROUP BY 1, 2),
       |ce$i AS (SELECT cid, t.i, cv[i] AS cx
       |         FROM c$i CROSS JOIN LATERAL (SELECT unnest(range(1, len(cv) + 1)) AS i) t),
       |c${i + 1} AS (SELECT cid, list(coalesce(m$i.mx, ce$i.cx) ORDER BY i) AS cv
       |       FROM ce$i LEFT JOIN m$i USING (cid, i) GROUP BY 1)""".stripMargin

  /** Shared oracle prefix: stride-seeded two-round Lloyd → final
    * assignment `asg` → within-cluster cosine pairs `pairs`.
    */
  private def semdedupCtes: String =
    s"""emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |             FROM embeddings),
       |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
       |          FROM (SELECT vec_id FROM emb WHERE vec_id % $SemStride = 0
       |                ORDER BY vec_id
       |                LIMIT (SELECT CAST(least($SemMaxK, $CentroidBudgetBytes // (8 * coalesce(max(len(v)), 1))) AS BIGINT) FROM emb))),
       |c0 AS (SELECT cid, v AS cv FROM emb JOIN seeds USING (vec_id)),
       |${lloydRoundCte(0)},
       |${lloydRoundCte(1)},
       |ncf AS (SELECT cid, CAST(list_dot_product(cv, cv) AS DOUBLE) AS nc FROM c2),
       |scf AS (SELECT emb.vec_id, c.cid,
       |               round(CAST(list_dot_product(emb.v, c.cv) AS DOUBLE)
       |                     / (sqrt(CAST(list_dot_product(emb.v, emb.v) AS DOUBLE)) * sqrt(ncf.nc)), 12) AS cs
       |        FROM emb CROSS JOIN c2 c JOIN ncf ON ncf.cid = c.cid),
       |asg AS (SELECT vec_id, cid FROM (
       |          SELECT vec_id, cid,
       |                 row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS r
       |          FROM scf) WHERE r = 1),
       |pairs AS (SELECT a.cid, a.vec_id AS va, b.vec_id AS vb,
       |                 round(CAST(list_dot_product(ea.v, eb.v) AS DOUBLE)
       |                       / (sqrt(CAST(list_dot_product(ea.v, ea.v) AS DOUBLE))
       |                          * sqrt(CAST(list_dot_product(eb.v, eb.v) AS DOUBLE))), 12) AS c
       |          FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |          JOIN emb ea ON ea.vec_id = a.vec_id
       |          JOIN emb eb ON eb.vec_id = b.vec_id)""".stripMargin

  /** SemDeDup: within each k-means cluster, drop every vector that has a
    * LOWER-id within-cluster neighbor at cosine ≥ τ (the deterministic
    * keep-lowest-id instance of the paper's keep-one-per-duplicate-group
    * rule — the greedy the released implementation applies modulo its
    * arbitrary ordering). Output is the full corpus with its cluster id
    * and kept flag, so the curation layer can gate on `kept = 1`.
    * Everything — seeds, both Lloyd rounds, the final assignment, every
    * pairwise cosine — is replayed by the oracle.
    */
  private val semDedup = Q(
    "embed_semdedup",
    s"""WITH $semdedupCtes,
       |drp AS (SELECT DISTINCT vb FROM pairs WHERE c >= $SemTau)
       |SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cid,
       |       CAST(CASE WHEN drp.vb IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM asg LEFT JOIN drp ON drp.vb = asg.vec_id""".stripMargin) { (s, d) =>
    val drp = semPairs(s, d).filter(col("c") >= SemTau)
      .select(col("vb").as("vec_id")).distinct()
      .withColumn("d", lit(0L))
    semAssign(s, d).select(col("vec_id"), col("cid"))
      .join(drp, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("d"), lit(1L)).as("kept"))
  }

  /** Oracle CTEs for the kNN-density score over `pairs` → relation
    * dens(vec_id, density). ONE definition (the ccCte rule) so the top-8
    * window and the decimal-exact mean can never drift between
    * `embed_knn_density` and `embed_curation_pipeline`.
    */
  private def densityCtes: String =
    """e AS (SELECT va AS q, vb AS n, c FROM pairs
      |      UNION ALL SELECT vb, va, c FROM pairs),
      |rk AS (SELECT q, n, c, row_number() OVER (PARTITION BY q ORDER BY c DESC, n) AS r
      |       FROM e),
      |dens AS (SELECT q AS vec_id,
      |                CAST(SUM(CAST(c AS DECIMAL(16,12))) AS DOUBLE)
      |                  / CAST(count(*) AS DOUBLE) AS density
      |         FROM rk WHERE r <= 8 GROUP BY 1)""".stripMargin

  /** Spark twin of [[densityCtes]]: (vec_id, density) over the shared
    * pair frame — vectors alone in their cluster have no pairs and no
    * row here; consumers LEFT-join and treat the density as undefined.
    */
  private def densityDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    val p = semPairs(s, d)
    val e = p.select(col("va").as("q"), col("vb").as("n"), col("c"))
      .unionAll(p.select(col("vb").as("q"), col("va").as("n"), col("c")))
    // top-8 neighbor selection as TopKPairs.perGroup, not a row_number
    // window: per-q population is the cluster size, which grows once the
    // k-cap binds; the window's (c desc, n asc) 8 rows per q feed the
    // same decimal mean
    TopKPairs.perGroup(e, col("q"), col("c"), col("n"), 8)
      .groupBy(col("q"))
      .agg((sum(col("score").cast(DecimalType(16, 12))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("density"))
      .select(col("q").as("vec_id"), col("density"))
  }

  /** Oracle CTEs for benchmark contamination over `emb` → relation
    * bsc(vec_id, max_bench_cosine) for every non-benchmark vector.
    * Shared by `embed_decontamination` and `embed_curation_pipeline`.
    */
  private def benchCosineCtes: String =
    """bench AS (SELECT vec_id AS bid, v AS bv FROM emb WHERE vec_id < 20),
      |bsc AS (SELECT corp.vec_id,
      |               max(round(CAST(list_dot_product(corp.v, bench.bv) AS DOUBLE)
      |                   / (sqrt(CAST(list_dot_product(corp.v, corp.v) AS DOUBLE))
      |                      * sqrt(CAST(list_dot_product(bench.bv, bench.bv) AS DOUBLE))), 12))
      |                 AS max_bench_cosine
      |        FROM (SELECT vec_id, v FROM emb WHERE vec_id >= 20) corp
      |        CROSS JOIN bench
      |        GROUP BY 1)""".stripMargin

  /** Spark twin of [[benchCosineCtes]]: (vec_id, max_bench_cosine). */
  private def benchCosinesDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    val embD = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val bench = embD.filter(col("vec_id") < 20)
      .select(col("vec_id").as("bid"), col("v").as("bv"))
    embD.filter(col("vec_id") >= 20)
      .crossJoin(broadcast(bench))
      .select(col("vec_id"),
        Similarity.cosine12(col("v"), col("bv")).as("c"))
      .groupBy(col("vec_id"))
      .agg(max(col("c")).as("max_bench_cosine"))
  }

  /** kNN-density score (the DataComp/SemDeDup-family pruning signal):
    * each vector's mean cosine to its 8 nearest WITHIN-CLUSTER neighbors
    * — high density marks semantically redundant regions, low density
    * marks outliers; curation prunes from either end. Total over the
    * corpus: a vector alone in its cluster has no neighbors and reads a
    * NULL density. Decimal-exact mean: the DECIMAL(16,12) sum of the
    * already-rounded cosines is exact and order-independent, and the
    * final value is ONE double division of identical operands — no
    * trailing round(), whose half-boundary at the 12th digit the two
    * engines resolve differently.
    */
  private val knnDensity = Q(
    "embed_knn_density",
    s"""WITH $semdedupCtes,
       |$densityCtes
       |SELECT emb.vec_id, dens.density
       |FROM emb LEFT JOIN dens ON dens.vec_id = emb.vec_id""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(densityDf(s, d), Seq("vec_id"), "left")
      .select(col("vec_id"), col("density"))
  }

  /** Semantic decontamination (the embedding-space twin of
    * `dedup_contamination`'s n-gram rule — the eval-leakage cut the
    * Phi/LLaMA data reports run): every corpus vector scored by its MAX
    * cosine against a FIXED small benchmark set (vec_id < 20 — benchmark
    * suites are constant-size, so the broadcast side never grows with
    * the corpus), flagged at the certified 0.35 near-dup band. One
    * corpus scan × a 20-row broadcast, map-side partial max — no
    * shuffle of the corpus beyond the final per-vector aggregate.
    */
  private val decontam = Q(
    "embed_decontamination",
    s"""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |             FROM embeddings),
       |$benchCosineCtes
       |SELECT vec_id, max_bench_cosine,
       |       CAST(CASE WHEN max_bench_cosine >= $SemTau THEN 1 ELSE 0 END AS BIGINT)
       |         AS contaminated
       |FROM bsc""".stripMargin) { (s, d) =>
    benchCosinesDf(s, d)
      .select(col("vec_id"), col("max_bench_cosine"),
        when(col("max_bench_cosine") >= SemTau, lit(1L)).otherwise(lit(0L))
          .as("contaminated"))
  }

  /** Int8 scalar quantization (the faiss-SQ8 storage path — 4× smaller
    * than float32, the standard disk format for trillion-vector stores;
    * complements PQ, which compresses further but lossier): per-DIMENSION
    * global min/max train the quantizer (one partial aggregate down to
    * dim rows), each element maps to round((x−min)·255/(max−min)), and
    * the readout certifies both the codes (an exact position-weighted
    * BIGINT checksum) and the per-vector reconstruction quality as the
    * MAX absolute element error — a max over bit-identical doubles needs
    * no accumulation, where an MSE's ~1e-14 error-square terms would die
    * in the engines' differing double→decimal cast ulps. Constant dims
    * quantize to 0 and reconstruct exactly.
    */
  private val sq8 = Q(
    "embed_sq8",
    s"""WITH $elCte,
       |rng AS (SELECT i, min(x) AS mn, max(x) AS mx FROM el GROUP BY 1),
       |q AS (SELECT vec_id, el.i, x, mn, mx,
       |             CASE WHEN mx = mn THEN 0
       |                  ELSE round((x - mn) * 255 / (mx - mn)) END AS qc
       |      FROM el JOIN rng USING (i)),
       |r AS (SELECT vec_id, i, qc,
       |             CASE WHEN mx = mn THEN mn
       |                  ELSE mn + qc * (mx - mn) / 255 END - x AS err
       |      FROM q)
       |SELECT vec_id,
       |       CAST(SUM(CAST(qc AS BIGINT) * i) AS BIGINT) AS code_sum,
       |       max(abs(err)) AS max_abs_err
       |FROM r GROUP BY 1""".stripMargin) { (s, d) =>
    val vecs = vecsOf(s, d)
    // train the quantizer: ONE dim-space partial aggregate (posexplode
    // reduces map-side to dim rows per task) pivoted to a 1-row frame
    // of index-ordered min/max ARRAYS, crossed in as a dim-bounded
    // broadcast (whitelisted in PlanSpec — the qa_histogram shape); the
    // quantize + rollup is then an IN-ROW transform + fold per vector —
    // the el-join form re-joined every element against the range frame
    // and re-aggregated the corpus per vector
    val rng = vecs.select(posexplode(col("xs")))
      .groupBy(col("pos"))
      .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("__r"))
      .select(expr("transform(__r, e -> e.mn)").as("__mns"),
        expr("transform(__r, e -> e.mx)").as("__mxs"))
    val mnL = (i: org.apache.spark.sql.Column) => element_at(col("__mns"), i + 1)
    val mxL = (i: org.apache.spark.sql.Column) => element_at(col("__mxs"), i + 1)
    def qcAt(x: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      when(mxL(i) === mnL(i), lit(0.0))
        .otherwise(round((x - mnL(i)) * 255 / (mxL(i) - mnL(i)), 0))
    def errAt(x: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      when(mxL(i) === mnL(i), mnL(i))
        .otherwise(mnL(i) + qcAt(x, i) * (mxL(i) - mnL(i)) / 255) - x
    vecs.crossJoin(broadcast(rng)).select(col("vec_id"),
      // elements() is 0-based, the oracle's el CTE 1-based: weight by i+1
      aggregate(
        transform(col("xs"),
          (x, i) => qcAt(x, i).cast(LongType) * (i + 1).cast(LongType)),
        lit(0L), (acc, v) => acc + v).cast(LongType).as("code_sum"),
      array_max(transform(col("xs"), (x, i) => abs(errAt(x, i))))
        .as("max_abs_err"))
  }

  /** End-to-end embedding-side curation (the DataComp recipe: SemDeDup ∧
    * decontaminate ∧ density-prune, accounted per label): every
    * non-benchmark vector is gated by its SemDeDup kept flag, its max
    * benchmark cosine, and its kNN-density band, and the readout is the
    * per-label funnel — total, dropped-by-each-gate, surviving pool.
    * Composition-certified: the oracle replays all three gates from
    * scratch, so a hash match proves the gates COMPOSE correctly, not
    * just that each works alone. Spark-side cost beyond the shared
    * SemDeDup frames: the 20-row benchmark cross and three small joins.
    */
  private val curationPipeline = Q(
    "embed_curation_pipeline",
    s"""WITH $semdedupCtes,
       |drp AS (SELECT DISTINCT vb AS vec_id FROM pairs WHERE c >= $SemTau),
       |$densityCtes,
       |$benchCosineCtes,
       |base AS (SELECT e.vec_id, e.label,
       |                CASE WHEN drp.vec_id IS NULL THEN 0 ELSE 1 END AS f_dup,
       |                CASE WHEN coalesce(bsc.max_bench_cosine, 0) >= $SemTau
       |                     THEN 1 ELSE 0 END AS f_con,
       |                CASE WHEN coalesce(dens.density, 0) > 0.5 THEN 1 ELSE 0 END AS f_den
       |         FROM embeddings e
       |         LEFT JOIN drp ON drp.vec_id = e.vec_id
       |         LEFT JOIN bsc ON bsc.vec_id = e.vec_id
       |         LEFT JOIN dens ON dens.vec_id = e.vec_id
       |         WHERE e.vec_id >= 20)
       |SELECT label, $C AS n_total,
       |       CAST(SUM(f_dup) AS BIGINT) AS n_semdup,
       |       CAST(SUM(f_con) AS BIGINT) AS n_contam,
       |       CAST(SUM(f_den) AS BIGINT) AS n_dense,
       |       CAST(SUM(CASE WHEN f_dup = 0 AND f_con = 0 AND f_den = 0
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pool
       |FROM base GROUP BY 1""".stripMargin) { (s, d) =>
    val drp = semPairs(s, d).filter(col("c") >= SemTau)
      .select(col("vb").as("vec_id")).distinct().withColumn("f_dup", lit(1L))
    val cont = benchCosinesDf(s, d)
      .filter(col("max_bench_cosine") >= SemTau)
      .select(col("vec_id")).withColumn("f_con", lit(1L))
    Tables.embeddings(s, d)
      .filter(col("vec_id") >= 20)
      .select(col("vec_id"), col("label"))
      .join(drp, Seq("vec_id"), "left")
      .join(cont, Seq("vec_id"), "left")
      .join(densityDf(s, d), Seq("vec_id"), "left")
      .select(col("label"),
        coalesce(col("f_dup"), lit(0L)).as("f_dup"),
        coalesce(col("f_con"), lit(0L)).as("f_con"),
        when(coalesce(col("density"), lit(0.0)) > 0.5, lit(1L)).otherwise(lit(0L))
          .as("f_den"))
      .groupBy(col("label"))
      .agg(
        lcount().as("n_total"),
        sum(col("f_dup")).cast(LongType).as("n_semdup"),
        sum(col("f_con")).cast(LongType).as("n_contam"),
        sum(col("f_den")).cast(LongType).as("n_dense"),
        sum(when(col("f_dup") === 0 && col("f_con") === 0 && col("f_den") === 0,
          1L).otherwise(0L)).cast(LongType).as("n_pool"))
  }

  /** Random-projection (Johnson–Lindenstrauss) ANN: screen in a 16-dim
    * ±1-projected space (the database-friendly Achlioptas sign matrix,
    * md5-derived like the LSH planes so any engine rederives it), take
    * each query's top-20 candidates by PROJECTED cosine, then rerank
    * those exactly in full dimension and keep the top 3. A third
    * candidate-generation geometry next to bucket-equality LSH and
    * list-probing IVF: the screen touches every corpus vector but at
    * 16/64 of the arithmetic, and only 20 candidates/query pay full-dim
    * cost — the classic dim-reduction funnel. Every stage is pinned
    * (DECIMAL accumulation, round-12 doubles), so projections, the
    * candidate set, and the final ranking all hash-match the from-
    * scratch oracle; certified surface (qid, nid, rnk). What the hash
    * match certifies is the FUNNEL's exactness, not a recall claim —
    * this harness corpus's neighbors sit barely above its background
    * cosine, the regime where a JL screen needs nCand grown with the
    * corpus (recall ≥0.8 is pinned on clustered data in SimilaritySpec;
    * [[graft.operators.Similarity.rpTopK]] is the native-speed form).
    */
  private val annRp = Q(
    "embed_ann_rp", {
      val nProj = 16
      def projSum(p: Int) =
        s"""round(CAST(SUM(CASE WHEN strpos('89abcdef',
           |      substr(md5('rp$p|' || CAST(i AS VARCHAR)), 1, 1)) > 0
           |    THEN CAST(x AS DECIMAL(38,18))
           |    ELSE CAST(-x AS DECIMAL(38,18)) END) AS DOUBLE), 12) AS p$p"""
          .stripMargin.replaceAll("\n\\s*", " ")
      s"""WITH $elCte,
         |pr AS (SELECT vec_id,
         |       ${(0 until nProj).map(projSum).mkString(",\n       ")}
         |       FROM el GROUP BY 1),
         |pel AS (${(0 until nProj)
          .map(p => s"SELECT vec_id, $p AS j, p$p AS pj FROM pr")
          .mkString("\n        UNION ALL ")}),
         |pn AS (SELECT vec_id, CAST(SUM(CAST(pj * pj AS DECIMAL(38,18))) AS DOUBLE) AS n2r
         |       FROM pel GROUP BY 1),
         |pd AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |              CAST(SUM(CAST(a.pj * b.pj AS DECIMAL(38,18))) AS DOUBLE) AS dotr
         |       FROM pel a JOIN pel b ON a.j = b.j AND b.vec_id <> a.vec_id
         |       WHERE a.vec_id < 5 GROUP BY 1, 2),
         |pcs AS (SELECT qid, nid, round(dotr / (sqrt(na.n2r) * sqrt(nb.n2r)), 12) AS cs
         |        FROM pd JOIN pn na ON na.vec_id = pd.qid
         |                JOIN pn nb ON nb.vec_id = pd.nid),
         |cand AS (SELECT qid, nid
         |         FROM (SELECT qid, nid,
         |                      row_number() OVER (PARTITION BY qid
         |                                         ORDER BY cs DESC, nid) AS rn
         |               FROM pcs) WHERE rn <= 20),
         |nrm AS (SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS n2
         |        FROM el GROUP BY 1),
         |dots AS (SELECT cand.qid, cand.nid,
         |                CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,18))) AS DOUBLE) AS dot
         |         FROM cand
         |         JOIN el a ON a.vec_id = cand.qid
         |         JOIN el b ON b.vec_id = cand.nid AND b.i = a.i
         |         GROUP BY 1, 2),
         |cosd AS (SELECT qid, nid,
         |                round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 12) AS cosine
         |         FROM dots
         |         JOIN nrm na ON na.vec_id = dots.qid
         |         JOIN nrm nb ON nb.vec_id = dots.nid)
         |SELECT qid, nid, rnk
         |FROM (SELECT qid, nid,
         |             CAST(row_number() OVER (PARTITION BY qid
         |                                     ORDER BY cosine DESC, nid) AS BIGINT) AS rnk
         |      FROM cosd)
         |WHERE rnk <= 3""".stripMargin
    }) { (s, d) =>
    val nProj = 16
    val nCand = 20
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(p: Int, i: Int): Int = {
      val hex = md.digest(s"rp$p|$i".getBytes("UTF-8"))
        .take(1).map(b => f"$b%02x").mkString
      if ("89abcdef".contains(hex.charAt(0))) 1 else -1
    }
    val vecs = vecsOf(s, d)
    // projected coordinates: nProj IN-ROW decimal folds against the
    // ±1 sign arrays (array position = 0-based element index, so
    // signs(j) = sign(p, j+1) pairs exactly as element_at(…, i+1) did),
    // each pinned to a round-12 double (the cross-engine anchor for
    // every downstream product)
    val projCols = (0 until nProj).map { p =>
      val signs = (1 to 64).map(i => sign(p, i)).toArray
      round(Similarity.exactSum(zip_with(col("xs"), lit(signs),
        (x, sg) => when(sg === 1, x.cast(Similarity.ExactTerm))
          .otherwise((-x).cast(Similarity.ExactTerm))))
        .cast(DoubleType), 12).as(s"p$p")
    }
    val proj = vecs.select(col("vec_id") +: projCols: _*)
    val pel = proj.select(col("vec_id"),
      posexplode(array((0 until nProj).map(p => col(s"p$p")): _*)))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("pj"))
    val pvec = array((0 until nProj).map(p => col(s"p$p")): _*)
    val pnrm = proj.select(col("vec_id"), dotDec(pvec, pvec).as("n2r"))
    // the screen: every corpus vector scored against the 5 queries in
    // projected space — 16/64 of the full-dim arithmetic, query side tiny
    // (broadcastable)
    val qa = pel.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("j"), col("pj").as("xa"))
    val cb = pel.select(col("vec_id").as("nid"), col("j"), col("pj").as("xb"))
    val pdots = broadcast(qa).join(cb, Seq("j"))
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum((col("xa") * col("xb")).cast(dec)).cast(DoubleType).as("dotr"))
    val pcs = pdots
      .join(pnrm.select(col("vec_id").as("qid"), col("n2r").as("na")), Seq("qid"))
      .join(pnrm.select(col("vec_id").as("nid"), col("n2r").as("nb")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(col("dotr") / (sqrt(col("na")) * sqrt(col("nb"))), 12).as("cs"))
    // top-20 candidates per query, then exact full-dim rerank
    val cand = TopKPairs.perGroup(pcs, col("qid"), col("cs"), col("nid"), nCand)
      .select(col("qid"), col("id").as("nid"))
    val nrm = nrmOf(vecs)
    rankTop3(vecs, nrm, cand).select(col("qid"), col("nid"), col("rnk"))
  }

  /** Top principal direction of the (uncentered) embedding second moment
    * by TWO unrolled power-iteration rounds — x ← XᵀXx, max-abs
    * normalized — the spectral screen a curation pipeline uses to find
    * the corpus's dominant axis (anisotropy diagnosis, rank-1 whitening,
    * spectral outlier cuts). Never materializes the d×d Gram matrix:
    * each round is two keyed aggregates over the element stream — the
    * row-space pass s(doc) = ⟨v_doc, x⟩ (join on the 64-row broadcast
    * direction frame) and the dim-space pass y(i) = Σ_doc s·v_doc[i] —
    * so the plan scales with nnz(X), the classic distributed power
    * iteration. Every product is a pinned double, every accumulation
    * DECIMAL(38,18), normalization a round-12 division by the max-abs
    * scalar; the oracle unrolls both rounds as CTEs and the hash match
    * certifies the whole iteration, including the growth factor
    * (the λ₁ estimate under max-abs normalization) riding on every row.
    * Convergence to the true eigenvector stays a spec concern
    * (StatsSpec-style bounds don't survive hash certification; the
    * oracle certifies the ITERATION, the spec the geometry).
    */
  private val pcaPower = Q(
    "embed_pca_power",
    s"""WITH $elCte,
       |s1 AS (SELECT vec_id, CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS s
       |       FROM el GROUP BY 1),
       |y1 AS (SELECT i, CAST(SUM(CAST(s1.s * el.x AS DECIMAL(38,18))) AS DOUBLE) AS y
       |       FROM el JOIN s1 ON s1.vec_id = el.vec_id GROUP BY 1),
       |m1 AS (SELECT max(abs(y)) AS m FROM y1),
       |x1 AS (SELECT i, round(y / m, 12) AS v FROM y1 CROSS JOIN m1),
       |s2 AS (SELECT el.vec_id, CAST(SUM(CAST(el.x * x1.v AS DECIMAL(38,18))) AS DOUBLE) AS s
       |       FROM el JOIN x1 ON x1.i = el.i GROUP BY 1),
       |y2 AS (SELECT el.i, CAST(SUM(CAST(s2.s * el.x AS DECIMAL(38,18))) AS DOUBLE) AS y
       |       FROM el JOIN s2 ON s2.vec_id = el.vec_id GROUP BY 1),
       |m2 AS (SELECT max(abs(y)) AS m FROM y2)
       |SELECT CAST(i AS BIGINT) AS dim_i, round(y / m, 12) AS comp,
       |       round(m, 12) AS growth
       |FROM y2 CROSS JOIN m2""".stripMargin) { (s, d) =>
    // Spark's element index is 0-based (posexplode), the oracle's el is
    // 1-based (range(1, …)) — align only at the emitted edge. Arrays go
    // straight off the scan ([[vecsOf]]): the row-space pass is an
    // in-row fold, so the element stream never needs to exist as rows.
    Similarity.powerIterationOf(vecsOf(s, d), rounds = 2)
      .select((col("i") + 1).cast(LongType).as("dim_i"),
        col("v").as("comp"), col("growth"))
  }

  /** Greedy k-center coreset selection over the embedding corpus
    * ([[graft.operators.Coreset.kCentersOf]], Gonzalez farthest-point —
    * a 2-approximation of the optimal k-center cover): 8 picks in
    * selection order with their coverage radii — the diverse-subset
    * primitive (coverage-maximizing data selection, eval seeding,
    * spread quantizer init). Exact decimal distances make every argmax
    * deterministic; the oracle unrolls all 8 rounds as CTEs, so the
    * hash match certifies the full greedy traversal — seed, argmaxes,
    * running-min updates, tie-breaks and radii.
    */
  private val coreset = {
    val k = 8
    def d2(out: String, centers: String) =
      s"""$out AS (SELECT a.vec_id,
         |        SUM(CAST((a.x - b.x) * (a.x - b.x) AS DECIMAL(38,18))) AS d2
         |  FROM el a JOIN el b ON b.i = a.i
         |  JOIN $centers ON b.vec_id = $centers.id GROUP BY 1)""".stripMargin
    def chosen(r: Int) = (1 until r).map(j => s"SELECT id FROM r$j").mkString(" UNION ")
    val rounds = (2 to k).map { r =>
      val upd =
        if (r == 2) s"m1 AS (SELECT vec_id, d2 AS mind2 FROM d1)"
        else s"""m${r - 1} AS (SELECT m${r - 2}.vec_id,
                |        least(m${r - 2}.mind2, d${r - 1}.d2) AS mind2
                |  FROM m${r - 2} JOIN d${r - 1} ON d${r - 1}.vec_id = m${r - 2}.vec_id)""".stripMargin
      s"""${d2(s"d${r - 1}", s"r${r - 1}")},
         |$upd,
         |r$r AS (SELECT vec_id AS id, mind2 FROM m${r - 1}
         |  WHERE vec_id NOT IN (${chosen(r)})
         |  ORDER BY mind2 DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val emits = (2 to k).map(r =>
      s"UNION ALL SELECT CAST($r AS BIGINT), id, CAST(round(mind2, 12) AS DOUBLE) FROM r$r")
      .mkString("\n      ")
    Q(
      "embed_coreset",
      s"""WITH $elCte,
         |r1 AS (SELECT min(vec_id) AS id FROM embeddings
         |       HAVING min(vec_id) IS NOT NULL),
         |$rounds
         |SELECT * FROM (
         |      SELECT CAST(1 AS BIGINT) AS rnk, id AS vec_id,
         |             CAST(NULL AS DOUBLE) AS radius FROM r1
         |      $emits)""".stripMargin) { (s, d) =>
      // arrays straight off the scan ([[vecsOf]], no explode/re-pivot):
      // the traversal's d² is an in-row fold, so the element stream
      // never needs to exist as rows.
      graft.operators.Coreset.kCentersOf(vecsOf(s, d), k)
    }
  }

  /** Binary (1-bit) quantization ANN — the extreme end of the
    * quantization ladder next to SQ8 (8 bit/dim) and PQ (4 bit/dim):
    * ONE SIGN BIT per dimension, packed into 32-bit words (two BIGINT
    * halves per 64-dim vector, the aHash packing convention — bit 63 of
    * a single word would wrap signed int64), so the candidate screen
    * reads dim/8 bytes per vector and scores with XOR + popcount.
    * Sign-bit Hamming distance is a monotone proxy for angular distance
    * (Goemans–Williamson / SimHash geometry); the screen takes each
    * query's 20 lowest-Hamming vectors (EXACT integer ordering, ties to
    * the lowest id, via the bounded-heap aggregate — no window), and the
    * exact decimal full-dim rerank keeps the top 3. Every stage —
    * packing, XOR lattice, heap cut, decimal cosines — replays in the
    * oracle, values included.
    *
    * Scale shape: the packed signature frame is a 2-row/vector word
    * table (the compressed index an engine would persist); candidate
    * scoring is a tiny broadcast query-signature join + one keyed
    * aggregate; only ~nCand·queries vectors are ever read at full
    * dimension.
    */
  private val bqTopK = Q(
    "embed_bq_topk",
    s"""WITH $elCte,
       |sig AS (SELECT vec_id, CAST((i - 1) // 32 AS BIGINT) AS half,
       |               CAST(SUM(CASE WHEN x >= 0
       |                    THEN (CAST(1 AS BIGINT) << CAST((i - 1) % 32 AS INTEGER))
       |                    ELSE 0 END) AS BIGINT) AS w
       |        FROM el GROUP BY 1, 2),
       |hd AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |              CAST(SUM(bit_count(xor(q.w, c.w))) AS BIGINT) AS ham
       |       FROM sig q JOIN sig c ON c.half = q.half AND c.vec_id <> q.vec_id
       |       WHERE q.vec_id < 5 GROUP BY 1, 2),
       |cand AS (SELECT qid, nid
       |         FROM (SELECT qid, nid,
       |                      row_number() OVER (PARTITION BY qid
       |                                         ORDER BY ham, nid) AS rn
       |               FROM hd) WHERE rn <= 20),
       |nrm AS (SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS n2
       |        FROM el GROUP BY 1),
       |dots AS (SELECT cand.qid, cand.nid,
       |                CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,18))) AS DOUBLE) AS dot
       |         FROM cand
       |         JOIN el a ON a.vec_id = cand.qid
       |         JOIN el b ON b.vec_id = cand.nid AND b.i = a.i
       |         GROUP BY 1, 2),
       |cosd AS (SELECT qid, nid,
       |                round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 12) AS cosine
       |         FROM dots
       |         JOIN nrm na ON na.vec_id = dots.qid
       |         JOIN nrm nb ON nb.vec_id = dots.nid)
       |SELECT qid, nid, cosine, rnk
       |FROM (SELECT qid, nid, cosine,
       |             CAST(row_number() OVER (PARTITION BY qid
       |                                     ORDER BY cosine DESC, nid) AS BIGINT) AS rnk
       |      FROM cosd)
       |WHERE rnk <= 3""".stripMargin) { (s, d) =>
    val vecs = vecsOf(s, d)
    val cand = Similarity.bqCandidatesOf(vecs, col("vec_id") < 5, nCand = 20)
    val nrm = nrmOf(vecs)
    rankTop3(vecs, nrm, cand)
  }

  /** Maximal Marginal Relevance diversified rerank
    * ([[graft.operators.Mmr.rerank]]): from query vector 0's 8 nearest
    * neighbors (exact decimal L2), greedily keep the 4 that balance
    * closeness to the query against distance from what's already kept —
    * the RAG-retrieval diversification step ([[graft.operators.Coreset]]
    * is the query-free cousin). Exact decimal geometry makes every
    * greedy pick deterministic; the oracle unrolls the pool cut, the
    * pairwise matrix and all 4 rounds as CTEs, so the hash match
    * certifies the full traversal — picks, tie-breaks, and both
    * distance readouts.
    */
  private val mmrRerank = {
    val (qid, poolSize, k) = (0L, 8, 4)
    def chosen(r: Int) = (1 until r).map(j => s"SELECT vec_id FROM r$j").mkString(" UNION ")
    val rounds = (2 to k).map { r =>
      s"""r$r AS (SELECT p.vec_id, p.d2, m.mind
         |  FROM pool p
         |  JOIN (SELECT va AS vec_id, MIN(d2) AS mind FROM sym
         |        WHERE vb IN (${chosen(r)}) GROUP BY 1) m
         |    ON m.vec_id = p.vec_id
         |  WHERE p.vec_id NOT IN (${chosen(r)})
         |  ORDER BY m.mind - p.d2 DESC, p.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val emits = (2 to k).map(r =>
      s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, CAST(round(d2, 12) AS DOUBLE), CAST(round(mind, 12) AS DOUBLE) FROM r$r")
      .mkString("\n      ")
    Q(
      "embed_mmr_rerank",
      s"""WITH $elCte,
         |qel AS (SELECT i, x FROM el WHERE vec_id = $qid),
         |d2q AS (SELECT el.vec_id,
         |               SUM(CAST((el.x - qel.x) * (el.x - qel.x) AS DECIMAL(38,18))) AS d2
         |        FROM el JOIN qel ON qel.i = el.i
         |        WHERE el.vec_id <> $qid GROUP BY 1),
         |pool AS (SELECT vec_id, d2 FROM d2q ORDER BY d2, vec_id LIMIT $poolSize),
         |pd AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |              SUM(CAST((a.x - b.x) * (a.x - b.x) AS DECIMAL(38,18))) AS d2
         |       FROM el a JOIN el b ON b.i = a.i
         |       JOIN pool pa ON pa.vec_id = a.vec_id
         |       JOIN pool pb ON pb.vec_id = b.vec_id
         |       WHERE a.vec_id < b.vec_id GROUP BY 1, 2),
         |sym AS (SELECT va, vb, d2 FROM pd UNION ALL SELECT vb, va, d2 FROM pd),
         |r1 AS (SELECT vec_id, d2 FROM pool ORDER BY d2, vec_id LIMIT 1),
         |$rounds
         |SELECT * FROM (
         |      SELECT CAST(1 AS BIGINT) AS rnk, vec_id,
         |             CAST(round(d2, 12) AS DOUBLE) AS rel_d2,
         |             CAST(NULL AS DOUBLE) AS div_d2 FROM r1
         |      $emits)""".stripMargin) { (s, d) =>
      graft.operators.Mmr.rerank(
        elements(s, d).select(col("vec_id"), col("i"), col("x")),
        qid, poolSize, k)
    }
  }

  val queries: Seq[Q] =
    Seq(normStats, bruteTopK, annLsh, annLshPortable, annIvf, annIvfKmeans,
      annIvfPortable, annIvfKmeansPortable, annIncremental, annRp, cosineDups,
      cosineClusters, cosineClustersStar, dotNativeQ, langNorms, pqTopK,
      annIvfPq, pqCodesNative, bitextMargin, semDedup, knnDensity, decontam,
      sq8, curationPipeline, pcaPower, coreset, bqTopK, mmrRerank)
}
