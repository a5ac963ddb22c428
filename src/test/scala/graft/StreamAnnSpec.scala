package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.sources.TableStore
import graft.streaming.StreamAnn

/** Streaming ANN maintenance: with every list probed, each batch's
  * logged neighbors must equal brute-force cosine top-k against all
  * PRIOR arrivals; the list store lays out as centroid-keyed partitions;
  * replay and crash recovery are idempotent.
  */
class StreamAnnSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private val K = 2

  // 12 vectors, 3 batches of 4 (vec_id % 3); distinct pairwise cosines
  private def vecs: Seq[(Long, Array[Double])] =
    (0 until 12).map { i =>
      (i.toLong, Array(1.0, 0.1 * i, 0.03 * i * i, if (i % 2 == 0) 0.5 else -0.3))
    }

  private def centroids =
    Seq((0L, Array(1.0, 0.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0, 0.0)),
      (2L, Array(0.0, 0.0, 1.0, 0.0)), (3L, Array(0.0, 0.0, 0.0, 1.0)))
      .toDF("cid", "cv")

  private def batchDf(b: Int) =
    vecs.filter(_._1 % 3 == b).toDF("vec_id", "v")

  private def fold(store: TableStore) =
    StreamAnn.applyBatch(store, "lists", "nbrs", centroids, probe = 4, K) _

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  private def bruteTopK(b: Int): Set[(Long, Long)] = {
    val hist = vecs.filter(_._1 % 3 < b)
    vecs.filter(_._1 % 3 == b).flatMap { case (q, va) =>
      hist.map { case (n, vb) => (n, cosine(va, vb)) }
        .sortBy { case (n, c) => (-c, n) }.take(K)
        .map { case (n, _) => (q, n) }
    }.toSet
  }

  test("every batch's neighbor log is brute-force top-k vs prior arrivals") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sann").toString)
    (0 to 2).foreach(b => fold(store)(batchDf(b), b.toLong))
    (1 to 2).foreach { b =>
      val got = store.read("nbrs").filter(col("__batch") === b)
        .select(col("qid"), col("nid")).as[(Long, Long)].collect().toSet
      assert(got == bruteTopK(b), s"batch $b neighbors diverge from brute force")
    }
    // batch 0 had no history: nothing logged for it
    assert(store.read("nbrs").filter(col("__batch") === 0).count() == 0)
    // the inverted index IS the layout: centroid dirs inside batch partitions
    assert(Files.list(Path.of(store.path("lists"), "__applied=0"))
      .anyMatch(p => p.getFileName.toString.startsWith("cid=")))
    val plan = store.read("lists").filter(col("cid") === 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"probing a list must prune partitions:\n$plan")
    // every vector sits in exactly one list
    assert(store.read("lists").count() == 12)
  }

  test("zero-norm vectors are unindexable: absent from lists and neighbor logs") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sann_z").toString)
    val withZero = batchDf(0)
      .union(Seq((99L, Array(0.0, 0.0, 0.0, 0.0))).toDF("vec_id", "v"))
    fold(store)(withZero, 0L)
    fold(store)(batchDf(1), 1L)
    assert(store.read("lists").filter(col("vec_id") === 99L).count() == 0,
      "a directionless vector must not enter any inverted list")
    // and its NaN cosine never outranks a real neighbor
    assert(store.read("nbrs").filter(col("nid") === 99L).count() == 0)
    assert(store.read("nbrs").filter(col("__batch") === 1).count() > 0)
  }

  test("replay is a no-op; a crash before the list commit recovers on re-fold") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sann").toString)
    val clean = new TableStore(s, Files.createTempDirectory("graft_sann_c").toString)
    (0 to 2).foreach(b => fold(clean)(batchDf(b), b.toLong))
    (0 to 2).foreach(b => fold(store)(batchDf(b), b.toLong))
    val nbrs = store.read("nbrs").collect().toSet
    fold(store)(batchDf(1), 1L) // replay an applied batch
    assert(store.read("nbrs").collect().toSet == nbrs)
    // crash: batch 2's neighbors landed, its list partition and marker did not
    FoldCrash.beforePartition(store, "lists", 2L)
    fold(store)(batchDf(2), 2L)
    assert(store.read("nbrs").collect().toSet == clean.read("nbrs").collect().toSet)
    assert(store.read("lists").collect().toSet == clean.read("lists").collect().toSet)
  }
}
