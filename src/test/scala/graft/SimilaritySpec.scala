package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.plans.TopKPairs

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
    val vecs = vectors.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val seeds = Similarity.stridedSeeds(vecs, "vec_id",
      Similarity.seedStride(vecs.count(), 4), 4)
    val cents = Similarity.kmeans(vecs, seeds, iters = 3)
      .orderBy("cid").as[(Long, Seq[Double])].collect()
    assert(cents.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
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

  /** A query's (qid, nid, rnk) rows, sorted. */
  private def ranked(name: String): Seq[(Long, Long, Long)] =
    SparkEntry.queries(name)(spark, sfDir)
      .select("qid", "nid", "rnk").as[(Long, Long, Long)].collect().toSeq.sorted

  test("portable IVF query returns the engine-native ivfTopK neighbor sets") {
    // Same strided quantizer, same nProbe/k, both ranked by a 12-digit
    // cosine — the decimal-dot portable twin and the native-dot path must
    // return the same rows, rank for rank.
    val native = ranked("embed_ann_ivf")
    val portable = ranked("embed_ann_ivf_portable")
    assert(native.nonEmpty)
    assert(portable == native,
      s"portable-only: ${portable.diff(native)}; native-only: ${native.diff(portable)}")
  }

  test("portable k-means IVF query returns the engine-native ivfTopKKmeans neighbor sets") {
    val native = ranked("embed_ann_ivf_kmeans")
    val portable = ranked("embed_ann_ivf_kmeans_portable")
    assert(native.nonEmpty)
    assert(portable == native,
      s"portable-only: ${portable.diff(native)}; native-only: ${native.diff(portable)}")
  }

  test("the quantizer's argmax equals perGroup rank 1 under ties, NaN and signed zeros") {
    val nan = Double.NaN
    val scores = Seq(
      (1L, 5L, 0.9), (1L, 2L, 0.9), (1L, 1L, 0.1), // tie: lower cid
      (2L, 0L, 1.0), (2L, 4L, nan), // NaN ranks greatest
      (3L, 3L, 0.0), (3L, 1L, -0.0), (3L, 2L, -0.5), // 0.0 equals -0.0
      (4L, 7L, nan), (4L, 6L, nan),
      (5L, 9L, 0.0), (5L, 0L, -0.0),
      (6L, 3L, -0.2), (6L, 8L, -0.1)
    ).toDF("vec_id", "cid", "cs")
    val argmax = Similarity.nearestCentroid(scores)
      .as[(Long, Long)].collect().sorted.toSeq
    val top1 = TopKPairs.perGroup(scores, col("vec_id"), col("cs"), col("cid"), 1)
      .select(col("vec_id"), col("id")).as[(Long, Long)].collect().sorted.toSeq
    assert(argmax == Seq(1L -> 2L, 2L -> 4L, 3L -> 1L, 4L -> 6L, 5L -> 0L, 6L -> 8L))
    assert(argmax == top1)
  }

  test("a k-means near-tie below the 12th digit resolves to the lower cid") {
    // vector 2's unrounded cosines to seed 0 and seed 1 differ by
    // ~7e-14, seed 1 ahead; the 12-digit cosines are equal, so it joins
    // cid 0 and one Lloyd round leaves centroid 1 at seed 1.
    val eps = 1e-13
    val vecs = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)),
      (2L, Seq(1.0, 1.0 + eps, 0.0))).toDF("vec_id", "v")
    val n = math.sqrt(1.0 + (1.0 + eps) * (1.0 + eps))
    assert((1.0 + eps) / n > 1.0 / n && (1.0 + eps) / n - 1.0 / n < 1e-12)
    val cents = Similarity.kmeans(vecs,
        Similarity.stridedSeeds(vecs, "vec_id", 1, 2), iters = 1)
      .orderBy("cid").as[(Long, Seq[Double])].collect()
    assert(cents(1)._2 == Seq(0.0, 1.0, 0.0), s"centroid 1 moved: ${cents(1)}")
    assert(cents(0)._2(1) > 0.4, s"centroid 0 did not take vector 2: ${cents(0)}")
    assert(Similarity.nearestCentroid(Similarity.centroidScores(
        vecs.filter(col("vec_id") === 2),
        vecs.filter(col("vec_id") < 2).toDF("cid", "cv")))
      .as[(Long, Long)].collect().toSeq == Seq(2L -> 0L))
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
