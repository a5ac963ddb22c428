package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TableStore
import graft.streaming.{Maintain, StreamJoinView}

/** Streaming join-view maintenance: the view log must equal the one-shot
  * join as a bag however arrivals are batched (sides interleaved, a row's
  * partner arriving batches later), replay idempotently, and survive a
  * crash between the side-log and view commits.
  */
class StreamJoinViewSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  // tagged union: side 'a' rows carry (k, a_v), side 'b' rows (k, b_v);
  // duplicate keys on both sides, partners spread across batches by idx
  private def arrivals = {
    val aRows = Seq((0, 1, "a1"), (1, 1, "a2"), (2, 2, "a3"), (3, 3, "a4"), (4, 9, "a5"))
      .map { case (i, k, v) => (i, "a", k, v, null: String) }
    val bRows = Seq((0, 1, "b1"), (2, 1, "b2"), (4, 2, "b3"), (1, 3, "b4"), (3, 8, "b5"))
      .map { case (i, k, v) => (i, "b", k, null: String, v) }
    (aRows ++ bRows).toDF("idx", "side", "k", "a_v", "b_v")
  }

  private def oneShot = {
    val a = Seq((1, "a1"), (1, "a2"), (2, "a3"), (3, "a4"), (9, "a5")).toDF("k", "a_v")
    val b = Seq((1, "b1"), (1, "b2"), (2, "b3"), (3, "b4"), (8, "b5")).toDF("k", "b_v")
    a.join(b, Seq("k"))
  }

  private def bag(df: DataFrame): Map[(Int, String, String), Long] =
    df.groupBy(col("k"), col("a_v"), col("b_v")).count()
      .as[(Int, String, String, Long)].collect()
      .map { case (k, x, y, n) => (k, x, y) -> n }.toMap

  private def fold(store: TableStore) =
    StreamJoinView.applyBatch(store, "a_log", "b_log", "v", "side", Seq("k"),
      nBuckets = 4) _

  private def foldAll(store: TableStore): Unit =
    (0 to 4).foreach(i => fold(store)(arrivals.filter(col("idx") === i), i.toLong))

  test("view log equals the one-shot join as a bag, across interleaved batches") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sjv").toString)
    foldAll(store)
    assert(bag(store.read("v").drop("__applied")) == bag(oneShot))
    // per-batch write volume: each view partition holds only that batch's matches
    val perBatch = store.read("v").groupBy(col("__applied")).count().count()
    assert(perBatch >= 2, "matches should land across multiple batch partitions")
    // side logs are key-bucketed inside each batch partition, and a bucket
    // filter prunes at the directory level (what bounds a fold's reads)
    assert(Files.exists(Path.of(store.path("a_log"), "__applied=0"))
      && Files.list(Path.of(store.path("a_log"), "__applied=0"))
        .anyMatch(p => p.getFileName.toString.startsWith("__bucket=")))
    val pruned = store.read("a_log").filter(col("__bucket") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__bucket"),
      s"bucket filter must prune partitions:\n$plan")
  }

  test("replaying an applied batch is a no-op") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sjv").toString)
    foldAll(store)
    val v = store.read("v").collect().toSet
    fold(store)(arrivals.filter(col("idx") === 2), 2L)
    assert(store.read("v").collect().toSet == v)
  }

  test("crash after the side-log commits, before the view commit, recovers on re-fold") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sjv").toString)
    val clean = new TableStore(s, Files.createTempDirectory("graft_sjv_c").toString)
    foldAll(clean)
    (0 to 3).foreach(i => fold(store)(arrivals.filter(col("idx") === i), i.toLong))
    fold(store)(arrivals.filter(col("idx") === 4), 4L)
    // simulate the crash: batch 4's side partitions landed but the view
    // partition and the marker did not
    FoldCrash.beforePartition(store, "v", 4L)
    fold(store)(arrivals.filter(col("idx") === 4), 4L) // at-least-once replay
    // the replay must prune the already-landed side partitions (__applied
    // > committed) or ΔA⋈ΔA self-matches would double the view
    assert(bag(store.read("v").drop("__applied")) == bag(clean.read("v").drop("__applied")))
    assert(store.read("a_log").collect().toSet == clean.read("a_log").collect().toSet)
  }

  test("a crash after every partition landed, before the marker commit, replays to the clean store") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sjv3").toString)
    foldAll(store)
    val clean = FoldCrash.tables(store, "a_log", "b_log", "v")
    FoldCrash.beforeMarker(store, "v", 4L)
    fold(store)(arrivals.filter(col("idx") === 4), 4L) // at-least-once replay
    assert(FoldCrash.tables(store, "a_log", "b_log", "v") == clean)
  }

  test("a real AvailableNow stream reaches the same view, across a restart") {
    val srcDir = Files.createTempDirectory("graft_sjv_src").toString
    val ckptDir = Files.createTempDirectory("graft_sjv_ckpt").toString
    val store = new TableStore(s, Files.createTempDirectory("graft_sjv2").toString)
    def run(): Unit = {
      val stream = s.readStream.schema(arrivals.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      Maintain(stream, ckptDir)(StreamJoinView.applyBatch(store,
        "a_log", "b_log", "v", "side", Seq("k")) _).start().awaitTermination()
    }
    (0 to 2).foreach(i => arrivals.filter(col("idx") === i).coalesce(1)
      .write.mode("append").parquet(srcDir))
    run()
    (3 to 4).foreach(i => arrivals.filter(col("idx") === i).coalesce(1)
      .write.mode("append").parquet(srcDir))
    run() // restart from the same checkpoint
    assert(bag(store.read("v").drop("__applied")) == bag(oneShot))
  }

}
