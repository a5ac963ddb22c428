package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Embedding similarity search: exact brute-force ranking and LSH-bucketed
  * ANN recall. Planes are md5-derived, the corpus is fixed — deterministic.
  */
class SimilaritySpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private val dim = 20

  /** 4 well-separated cluster centers (one-hot blocks of FIVE dims — an
    * odd count, so any ±1 hyperplane has margin ≥ 1 on the block and the
    * ≤0.3 perturbations can never flip a bucket bit) with small
    * deterministic perturbations: within-cluster cosine ≈ 1, across ≈ 0.
    */
  private def vectors = {
    val rows = for {
      c <- 0 until 4
      m <- 0 until 6
    } yield {
      val v = Array.tabulate(dim) { i =>
        val base = if (i / 5 == c) 1.0f else 0.0f
        base + (if (i == (c * 7 + m) % dim) 0.05f * (m + 1) else 0.0f)
      }
      (c * 10L + m, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("cosine expression matches hand computation") {
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 1.0))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .head().getDouble(0)
    assert(math.abs(c - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("bruteForceTopK ranks within-cluster neighbors first") {
    val top = Similarity
      .bruteForceTopK(vectors, vectors.filter(col("vec_id") === 0), "vec_id", "embedding", 5)
      .select("nid").as[Long].collect().toSet
    assert(top == Set(1L, 2L, 3L, 4L, 5L), s"expected cluster 0 members, got $top")
  }

  test("ivfTopK recall >= 0.8 vs brute force on clustered vectors") {
    val queries = vectors.filter(col("vec_id") % 10 === 0)
    val k = 3
    val truth = Similarity.bruteForceTopK(vectors, queries, "vec_id", "embedding", k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(vectors, queries, "vec_id", "embedding", k,
      nCentroids = 8, nProbe = 2)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = truth.count(approx.contains).toDouble / truth.size
    assert(recall >= 0.8, s"IVF recall $recall (truth=${truth.size})")
  }

  test("k-means centroids converge to the cluster structure; IVF recall holds") {
    val cents = Similarity.kmeansCentroids(vectors, "vec_id", "embedding",
      k = 4, iters = 3)
    assert(cents.size == 4)
    // after Lloyd iterations each centroid should live in exactly one
    // one-hot block: its max block mass dominates
    val blockPurity = cents.map { case (_, v) =>
      val blocks = v.grouped(5).map(_.sum).toSeq
      blocks.max / blocks.sum
    }
    assert(blockPurity.forall(_ > 0.8), s"centroids not block-pure: $blockPurity")

    val queries = vectors.filter(col("vec_id") % 10 === 0)
    val k = 3
    val truth = Similarity.bruteForceTopK(vectors, queries, "vec_id", "embedding", k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopKKmeans(vectors, queries, "vec_id", "embedding", k,
      nCentroids = 4, nProbe = 1, iters = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = truth.count(approx.contains).toDouble / truth.size
    assert(recall >= 0.8, s"k-means IVF recall $recall with a single probe")
  }

  test("portable IVF query returns the engine-native ivfTopK neighbor sets") {
    // Same strided quantizer, same nProbe/k — the oracle-checked portable
    // twin and the engine-native path must surface the same neighbors
    // (scores differ only in last-ULP noise below the round-12 cutoff).
    val native = SparkEntry.queries("embed_ann_ivf")(spark, sfDir)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val portable = SparkEntry.queries("embed_ann_ivf_portable")(spark, sfDir)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(portable == native,
      s"portable-only: ${portable -- native}; native-only: ${native -- portable}")
  }

  test("portable k-means IVF query returns the engine-native ivfTopKKmeans neighbor sets") {
    // Same seeds, same decimal-exact Lloyd means, same nProbe/k — the
    // oracle-checked portable twin and the engine-native path must
    // surface the same neighbors (assignment arithmetic differs only in
    // last-ULP noise far below the round-12 cutoff and the cluster
    // separation of the corpus).
    val native = SparkEntry.queries("embed_ann_ivf_kmeans")(spark, sfDir)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val portable = SparkEntry.queries("embed_ann_ivf_kmeans_portable")(spark, sfDir)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(portable == native,
      s"portable-only: ${portable -- native}; native-only: ${native -- portable}")
  }

  test("native md5-plane LSH query returns the portable twin's neighbor sets") {
    // Same md5-derived planes, same bucket rule (> 0), same k — the
    // engine-native packed-float path and the decimal-exact portable twin
    // must surface the same neighbors (plane sums differ from the decimal
    // accumulation only when a projection sits within double-error of 0).
    val native = SparkEntry.queries("embed_ann_lsh")(spark, sfDir)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val portable = SparkEntry.queries("embed_ann_lsh_portable")(spark, sfDir)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(portable == native,
      s"portable-only: ${portable -- native}; native-only: ${native -- portable}")
  }

  test("lshTopKMd5 fails fast when the broadcast query side exceeds the row cap") {
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTopKMd5(vectors, vectors, "vec_id", "embedding",
        k = 3, nPlanes = 4, dim = dim, maxQueryRows = 5L)
    }
    assert(e.getMessage.contains("broadcasts the query set"),
      s"guard message should name the contract, got: ${e.getMessage}")
    // and a query set at the cap passes the guard
    assert(Similarity.lshTopKMd5(vectors, vectors.limit(5), "vec_id", "embedding",
      k = 3, nPlanes = 4, dim = dim, maxQueryRows = 5L).count() > 0)
  }

  test("incremental ANN searches only history, ranks every new vector, recall holds") {
    val res = SparkEntry.queries("embed_ann_incremental")(spark, sfDir)
      .select("qid", "nid").as[(Long, Long)].collect()
    val qids = res.map(_._1).toSet
    // every query is from the new batch, every neighbor from history
    assert(qids.nonEmpty && qids.forall(_ % 40 == 7))
    assert(res.map(_._2).forall(_ % 40 != 7))
    // every new vector got results (no query silently dropped)
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val expectQids = emb.filter(pmod(col("vec_id"), lit(40)) === 7)
      .select("vec_id").as[Long].collect().toSet
    assert(qids == expectQids)
    // recall vs brute force over history (strided 16-centroid quantizer,
    // 4 probes — modest by design; the kmeans specs cover quantizer quality)
    val hist = emb.filter(pmod(col("vec_id"), lit(40)) =!= 7)
    val newb = emb.filter(pmod(col("vec_id"), lit(40)) === 7)
    val truth = Similarity.bruteForceTopK(hist, newb, "vec_id", "embedding", 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = truth.count(res.toSet.contains).toDouble / truth.size
    assert(recall >= 0.4, s"incremental ANN recall $recall")
  }

  test("lshTopKMd5 recall >= 0.8 vs brute force on clustered vectors") {
    val queries = vectors.filter(col("vec_id") % 10 === 0)
    val k = 3
    val truth = Similarity.bruteForceTopK(vectors, queries, "vec_id", "embedding", k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopKMd5(vectors, queries, "vec_id", "embedding", k,
      nPlanes = 4, dim = dim)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = truth.count(approx.contains).toDouble / truth.size
    assert(recall >= 0.8, s"ANN recall $recall (truth=${truth.size})")
  }

  test("rpTopK recall >= 0.8 vs brute force on clustered vectors") {
    val queries = vectors.filter(col("vec_id") % 10 === 0)
    val k = 3
    val truth = Similarity.bruteForceTopK(vectors, queries, "vec_id", "embedding", k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val approx = Similarity.rpTopK(vectors, queries, "vec_id", "embedding", k,
      nProj = 8, nCand = 6, dim = dim)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = truth.count(approx.contains).toDouble / truth.size
    assert(recall >= 0.8, s"RP recall $recall (truth=${truth.size})")
  }

  test("rpTopK rejects a screen narrower than k") {
    intercept[IllegalArgumentException] {
      Similarity.rpTopK(vectors, vectors.limit(1), "vec_id", "embedding",
        k = 5, nProj = 8, nCand = 3, dim = dim)
    }
  }

  /** CENTERED cluster vectors for the sign-bit tests: +1 on the
    * cluster's block, −1 elsewhere (the all-nonnegative [[vectors]]
    * corpus packs to one identical signature — sign bits need signed
    * data); perturbations ≤ 0.3 can never flip a ±1 sign.
    */
  private def signedVectors = {
    val rows = for {
      c <- 0 until 4
      m <- 0 until 6
    } yield {
      val v = Array.tabulate(dim) { i =>
        val base = if (i / 5 == c) 1.0f else -1.0f
        base + (if (i == (c * 7 + m) % dim) 0.05f * (m + 1) else 0.0f)
      }
      (c * 10L + m, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def arraysOf(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("xs"))

  test("bqSignWords packs sign bits into the documented 32-bit halves") {
    // 40-dim vector, non-negative exactly at dims 0, 31, 33 (0-based):
    // half 0 word = 2^0 + 2^31, half 1 word = 2^1. Zero counts as a
    // set bit (x >= 0), matching the oracle's CASE.
    val v = Array.tabulate(40)(i => if (i == 0) 0.0 else if (i == 31 || i == 33) 2.5 else -1.0)
    val el = Seq((7L, v.toSeq)).toDF("vec_id", "embedding")
    val words = Similarity.bqSignWordsOf(arraysOf(el))
      .as[(Long, Long, Long)].collect().map { case (_, h, w) => h -> w }.toMap
    assert(words(0L) == (1L | (1L << 31)), s"half 0: ${words(0L)}")
    assert(words(1L) == (1L << 1), s"half 1: ${words(1L)}")
  }

  test("bqCandidates == brute-force Hamming ranking, ties to the lower id") {
    val vecs = arraysOf(signedVectors)
    val sig = Similarity.bqSignWordsOf(vecs)
    // brute truth: per query, all corpus vectors ordered by (hamming, nid)
    val q = sig.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("half"), col("w").as("wq"))
    val nCand = 6
    val truth = q.join(
        sig.select(col("vec_id").as("nid"), col("half"), col("w").as("wc")),
        Seq("half"))
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(expr("bit_count(wq ^ wc)")).as("ham"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("ham"), col("nid"))))
      .filter(col("rn") <= nCand)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val got = Similarity.bqCandidatesOf(vecs, col("vec_id") % 10 === 0, nCand)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(got == truth, s"heap screen diverges from the window ranking")
  }

  test("bq screen recall: the exact cosine top-3 survives the Hamming cut") {
    val queries = signedVectors.filter(col("vec_id") % 10 === 0)
    val truth = Similarity.bruteForceTopK(signedVectors, queries,
      "vec_id", "embedding", 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val cand = Similarity.bqCandidatesOf(arraysOf(signedVectors),
      col("vec_id") % 10 === 0, nCand = 6)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = truth.count(cand.contains).toDouble / truth.size
    assert(recall >= 0.8, s"BQ screen recall $recall (truth=${truth.size})")
  }
}
