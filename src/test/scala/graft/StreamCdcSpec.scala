package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.sources.TableStore
import graft.streaming.{Maintain, StreamCdc}

/** Streaming CDC mirror: micro-batch folds of an op feed must equal the
  * one-shot batch [[Cdc.applyChanges]], including cross-batch
  * out-of-order arrival (stale update after delete) and replayed
  * batches.
  */
class StreamCdcSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private def feed = Seq(
    // key 1: I then U across batches
    (1L, 1L, "I", "a"), (1L, 2L, "U", "a2"),
    // key 2: insert, then delete, then a STALE lower-seq update that
    // arrives in a LATER batch — must stay dead (tombstone test)
    (2L, 1L, "I", "b"), (2L, 9L, "D", null), (2L, 5L, "U", "stale"),
    // key 3: delete then higher-seq re-insert
    (3L, 2L, "D", null), (3L, 7L, "I", "back"),
    // key 4: untouched single insert
    (4L, 1L, "I", "d"))
    .toDF("k", "seq", "op", "v")

  test("N-batch streamed fold == one-shot applyChanges, incl. stale-after-delete") {
    val store = new TableStore(s, Files.createTempDirectory("graft_cdc").toString)
    // batch i carries rows where (seq % 3) == i — deliberately NOT in
    // seq order, so later batches contain earlier sequences
    val fold = StreamCdc.applyBatch(store, "mirror", Seq("k"), "seq", "op") _
    (0 to 2).foreach { i =>
      fold(feed.filter(col("seq") % 3 === i), i.toLong)
    }
    val got = StreamCdc.present(store.read("mirror"), "seq", "op")
      .as[(Long, String)].collect().toSet
    val want = Cdc.applyChanges(feed, Seq("k"), "seq", "op")
      .as[(Long, String)].collect().toSet
    assert(got == want)
    assert(got == Set((1L, "a2"), (3L, "back"), (4L, "d")))
    // the tombstone for key 2 is retained in state (not presented)
    val tomb = store.read("mirror").filter(col("k") === 2L)
      .select("op", "seq").as[(String, Long)].collect().toSeq
    assert(tomb == Seq(("D", 9L)))
  }

  test("a fold rewrites only the buckets its batch touches; a crash before the marker replays clean") {
    val store = new TableStore(s, Files.createTempDirectory("graft_cdc4").toString)
    val fold = StreamCdc.applyBatch(store, "mirror", Seq("k"), "seq", "op") _
    fold(feed, 0L)
    def fingerprints(): Map[String, Seq[(String, Long)]] = {
      val dir = java.nio.file.Paths.get(store.path("mirror"))
      val ls = Files.list(dir)
      try {
        val out = scala.collection.mutable.Map.empty[String, Seq[(String, Long)]]
        ls.forEach { p =>
          if (p.getFileName.toString.startsWith("__bucket=")) {
            val walk = Files.walk(p)
            try {
              val it = walk.iterator()
              val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
              while (it.hasNext) {
                val f = it.next()
                if (Files.isRegularFile(f))
                  buf += ((f.toString, Files.getLastModifiedTime(f).toMillis))
              }
              out(p.getFileName.toString) = buf.sortBy(_._1).toSeq
            } finally walk.close()
          }
        }
        out.toMap
      } finally ls.close()
    }
    val before = fingerprints()
    assert(before.size >= 2, s"want multiple buckets, got ${before.keys}")
    // batch 1 touches ONLY key 1
    val b1 = feed.filter(col("k") === 1L)
      .select(pmod(xxhash64(col("k")), lit(64L)).cast("int"))
      .head().getInt(0)
    fold(Seq((1L, 20L, "U", "a3")).toDF("k", "seq", "op", "v"), 1L)
    val after = fingerprints()
    assert((before.keySet - s"__bucket=$b1").forall(k => after(k) == before(k)),
      "a single-key batch rewrote buckets it never touched — write volume is not O(touched)")
    assert(StreamCdc.present(store.read("mirror"), "seq", "op")
      .filter(col("k") === 1L).select("v").as[String].head() == "a3")

    // crash before the marker commit: buckets landed, marker didn't —
    // the replayed batch must reconverge, not double or diverge
    val stateAfter1 = store.read("mirror").collect().toSet
    store.putMarker("mirror__batch", 0L)
    fold(Seq((1L, 20L, "U", "a3")).toDF("k", "seq", "op", "v"), 1L)
    assert(store.read("mirror").collect().toSet == stateAfter1)
  }

  test("replayed batch id is a no-op; real stream reaches the same state") {
    val store = new TableStore(s, Files.createTempDirectory("graft_cdc2").toString)
    val fold = StreamCdc.applyBatch(store, "mirror", Seq("k"), "seq", "op") _
    fold(feed.filter(col("seq") < 5), 0L)
    val after0 = store.read("mirror").collect().toSet
    fold(feed.filter(col("seq") < 5), 0L) // at-least-once replay
    assert(store.read("mirror").collect().toSet == after0)
    fold(feed.filter(col("seq") >= 5), 1L)

    // drive the same feed through a real AvailableNow stream
    val srcDir = Files.createTempDirectory("graft_cdc_src").toString
    feed.filter(col("seq") < 5).coalesce(1).write.mode("append").parquet(srcDir)
    feed.filter(col("seq") >= 5).coalesce(1).write.mode("append").parquet(srcDir)
    val store2 = new TableStore(s, Files.createTempDirectory("graft_cdc3").toString)
    val ckptDir = Files.createTempDirectory("graft_cdc3_ckpt").toString
    val stream = s.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    Maintain(stream, ckptDir)(
      StreamCdc.applyBatch(store2, "mirror", Seq("k"), "seq", "op") _)
      .start().awaitTermination()
    assert(
      StreamCdc.present(store2.read("mirror"), "seq", "op")
        .as[(Long, String)].collect().toSet ==
        StreamCdc.present(store.read("mirror"), "seq", "op")
          .as[(Long, String)].collect().toSet)
  }

  test("a restarted stream resumes its batch ids from the checkpoint: mirror == one-shot") {
    val srcDir = Files.createTempDirectory("graft_cdc_rs_src").toString
    val ckptDir = Files.createTempDirectory("graft_cdc_rs_ckpt").toString
    val store = new TableStore(s, Files.createTempDirectory("graft_cdc_rs").toString)
    def run(): Unit = {
      // no maxFilesPerTrigger: each run folds all unseen files as ONE batch
      val stream = s.readStream.schema(feed.schema).parquet(srcDir)
      Maintain(stream, ckptDir)(
        StreamCdc.applyBatch(store, "mirror", Seq("k"), "seq", "op") _)
        .start().awaitTermination()
    }
    (0 to 1).foreach(i => feed.filter(col("seq") % 3 === i).coalesce(1)
      .write.mode("append").parquet(srcDir))
    run() // batch 0
    feed.filter(col("seq") % 3 === 2).coalesce(1).write.mode("append").parquet(srcDir)
    // the restart must fold the third file as batch 1: a fresh id 0 would
    // sit at the marker and be skipped as a replay
    run()
    assert(store.getMarker("mirror__batch").contains(1L))
    assert(
      StreamCdc.present(store.read("mirror"), "seq", "op")
        .as[(Long, String)].collect().toSet ==
        Cdc.applyChanges(feed, Seq("k"), "seq", "op")
          .as[(Long, String)].collect().toSet)
  }
}
