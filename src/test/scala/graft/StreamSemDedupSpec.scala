package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.sources.TableStore
import graft.streaming.{Maintain, StreamSemDedup}

/** Streaming SemDeDup maintenance: the maintained kept flags must equal
  * the arrival-order greedy over frozen-centroid clusters (dropped
  * members still witness later duplicates); the member store lays out as
  * cluster-keyed partitions; replay and crash recovery are idempotent;
  * a real AvailableNow stream across a restart reaches the same store.
  */
class StreamSemDedupSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private val Tau = 0.9

  // two orthogonal cluster axes; members fan out at known angles inside
  // the (axis, third-dim) plane so every pairwise cosine is a hand-
  // computable cos(angle difference)
  private def deg(a: Double) = a * math.Pi / 180
  private def vec(cluster: Int, angleDeg: Double): Array[Double] = {
    val c = math.cos(deg(angleDeg)); val t = math.sin(deg(angleDeg))
    if (cluster == 0) Array(c, 0.0, t, 0.0) else Array(0.0, c, 0.0, t)
  }

  private def centroids =
    Seq((0L, Array(1.0, 0.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("cid", "cv")

  // (vec_id, cluster, angle): batch = vec_id % 3. Angles chosen so some
  // pairs sit above cos⁻¹(0.9) ≈ 25.84° apart and some below.
  private val corpus: Seq[(Long, Int, Double)] = Seq(
    (0L, 0, 0.0), (1L, 0, 10.0), (2L, 0, 40.0), (3L, 0, 50.0),
    (4L, 1, 0.0), (5L, 1, 20.0), (6L, 1, 70.0), (7L, 1, 85.0),
    (8L, 0, 20.0), (9L, 1, 40.0), (10L, 0, 65.0), (11L, 1, 62.0))

  private def batchDf(b: Int) =
    corpus.filter(_._1 % 3 == b)
      .map { case (id, c, a) => (id, vec(c, a)) }.toDF("vec_id", "v")

  private def fold(store: TableStore) =
    StreamSemDedup.applyBatch(store, "members", centroids, Tau) _

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  /** Arrival-order greedy in plain Scala: dropped iff some same-cluster
    * vector with precedence (earlier batch, or same batch + lower id)
    * sits at cosine ≥ τ — kept status of the witness irrelevant.
    */
  private def bruteKept: Map[Long, Long] =
    corpus.map { case (v, cv, av) =>
      val dropped = corpus.exists { case (u, cu, au) =>
        u != v && cu == cv &&
          (u % 3 < v % 3 || (u % 3 == v % 3 && u < v)) &&
          cosine(vec(cu, au), vec(cv, av)) >= Tau
      }
      v -> (if (dropped) 0L else 1L)
    }.toMap

  test("maintained kept flags equal the arrival-order greedy") {
    val store = new TableStore(s, Files.createTempDirectory("graft_ssd").toString)
    (0 to 2).foreach(b => fold(store)(batchDf(b), b.toLong))
    val got = store.read("members")
      .select(col("vec_id"), col("kept")).as[(Long, Long)].collect().toMap
    assert(got == bruteKept, s"got $got\nexpected $bruteKept")
    // the fixture exercises both flags
    assert(got.values.toSet == Set(0L, 1L))
  }

  test("a dropped member still witnesses later duplicates") {
    // u(b0, 0°) drops w(b1, 24°): cos 24° ≈ 0.914 ≥ 0.9.
    // x(b2, 48°) is ≥ τ of w only (cos 24°), NOT of u (cos 48° ≈ 0.669)
    // — so x must be dropped by the already-dropped witness w.
    val store = new TableStore(s, Files.createTempDirectory("graft_ssd_w").toString)
    val u = Seq((0L, vec(0, 0.0))).toDF("vec_id", "v")
    val w = Seq((1L, vec(0, 24.0))).toDF("vec_id", "v")
    val x = Seq((2L, vec(0, 48.0))).toDF("vec_id", "v")
    fold(store)(u, 0L); fold(store)(w, 1L); fold(store)(x, 2L)
    val kept = store.read("members")
      .select(col("vec_id"), col("kept")).as[(Long, Long)].collect().toMap
    assert(kept == Map(0L -> 1L, 1L -> 0L, 2L -> 0L), kept.toString)
  }

  test("member store lays out as bounded cluster-bucket partitions and prunes on them") {
    val store = new TableStore(s, Files.createTempDirectory("graft_ssd_l").toString)
    (0 to 2).foreach(b => fold(store)(batchDf(b), b.toLong))
    // bucketed dirs (cid % 32), never raw cid= dirs — k grows with the
    // corpus, the partition tree must not
    assert(Files.list(Path.of(store.path("members"), "__applied=0"))
      .anyMatch(p => p.getFileName.toString.startsWith("__cbucket=")))
    val plan = store.read("members")
      .filter(col("__cbucket") === 0L && col("cid") === 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cbucket"),
      s"touched-bucket reads must prune partitions:\n$plan")
    assert(store.read("members").count() == corpus.size)
  }

  test("replay is a no-op; a crash before the member commit recovers on re-fold") {
    val store = new TableStore(s, Files.createTempDirectory("graft_ssd_r").toString)
    val clean = new TableStore(s, Files.createTempDirectory("graft_ssd_c").toString)
    (0 to 2).foreach(b => fold(clean)(batchDf(b), b.toLong))
    (0 to 2).foreach(b => fold(store)(batchDf(b), b.toLong))
    val members = store.read("members").collect().toSet
    fold(store)(batchDf(1), 1L) // replay an applied batch
    assert(store.read("members").collect().toSet == members)
    // crash: batch 2's member partition never landed
    FoldCrash.beforePartition(store, "members", 2L)
    fold(store)(batchDf(2), 2L)
    assert(store.read("members").collect().toSet ==
      clean.read("members").collect().toSet)
  }

  test("a real AvailableNow stream reaches the same store, across a restart") {
    val srcDir = Files.createTempDirectory("graft_ssd_src").toString
    val ckptDir = Files.createTempDirectory("graft_ssd_ckpt").toString
    val store = new TableStore(s, Files.createTempDirectory("graft_ssd_s").toString)
    val clean = new TableStore(s, Files.createTempDirectory("graft_ssd_s2").toString)
    (0 to 2).foreach(b => fold(clean)(batchDf(b), b.toLong))
    def run(): Unit = {
      val stream = s.readStream.schema(batchDf(0).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      Maintain(stream, ckptDir)(StreamSemDedup.applyBatch(store, "members",
        centroids, Tau) _).start().awaitTermination()
    }
    (0 to 1).foreach(b => batchDf(b).coalesce(1).write.mode("append").parquet(srcDir))
    run()
    batchDf(2).coalesce(1).write.mode("append").parquet(srcDir)
    run() // restart from the same checkpoint
    val got = store.read("members")
      .select(col("vec_id"), col("kept")).as[(Long, Long)].collect().toMap
    val expect = clean.read("members")
      .select(col("vec_id"), col("kept")).as[(Long, Long)].collect().toMap
    assert(got == expect)
  }
}
