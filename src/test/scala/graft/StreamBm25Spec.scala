package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TableStore
import graft.streaming.StreamBm25

/** Streaming inverted-index maintenance: the maintained postings +
  * length stores must serve the fixed BM25 query hash-identically to
  * the one-shot `text_bm25_search`, with a replayed batch a no-op,
  * crash-before-marker recovery, append-only postings (history never
  * re-tokenized), and null-text docs counted in n_docs but matching
  * nothing.
  */
class StreamBm25Spec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private def corpus = Seq(
    (1L, "spark merge vector spark"),
    (2L, "merge conflict merge merge"),
    (3L, "vector index spark"),
    (4L, "nothing relevant here at all"),
    (5L, null.asInstanceOf[String]),
    (6L, "spark spark spark spark spark"),
    (7L, "vector"),
    (8L, "merge vector spark merge"))
    .toDF("doc_id", "text")

  test("maintained-index search equals the one-shot ranking on the real corpus") {
    val dir = "/root/testdata/sf0.001"
    val oneShot = SparkEntry.queries("text_bm25_search")(s, dir)
      .collect().map(_.toSeq).toSeq
    val maintained = SparkEntry.queries("c26_stream_bm25_index")(s, dir)
      .collect().map(_.toSeq).toSeq
    assert(oneShot.nonEmpty)
    assert(maintained == oneShot,
      "the maintained index must rank (and score) exactly as the one-shot")
  }

  test("folds are append-only and replay-safe; null-text docs count in n_docs only") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sbm").toString)
    val fold = StreamBm25.applyBatch(store, "posts", "dl", "doc_id", "text") _
    fold(corpus.filter(col("doc_id") % 2 === 0), 0L)
    val b0 = store.read("posts").filter(col("__applied") === 0).collect().toSet
    fold(corpus.filter(col("doc_id") % 2 === 1), 1L)
    assert(store.read("posts").filter(col("__applied") === 0)
      .collect().toSet == b0, "a later fold rewrote batch 0's postings")
    // null-text doc 5: a dl row with dl = 0, no postings
    val dl5 = store.read("dl").filter(col("doc_id") === 5).collect()
    assert(dl5.length == 1 && dl5.head.getAs[Long]("dl") == 0L)
    assert(store.read("posts").filter(col("doc_id") === 5).isEmpty)
    assert(store.read("dl").count() == corpus.count())
    val postsAll = store.read("posts").collect().toSet
    fold(corpus.filter(col("doc_id") % 2 === 1), 1L) // at-least-once replay
    assert(store.read("posts").collect().toSet == postsAll)
    assert(store.read("dl").count() == corpus.count())
  }

  test("a crash before the length-marker commit replays without duplicate postings") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sbm2").toString)
    val fold = StreamBm25.applyBatch(store, "posts", "dl", "doc_id", "text") _
    fold(corpus.filter(col("doc_id") % 2 === 0), 0L)
    fold(corpus.filter(col("doc_id") % 2 === 1), 1L)
    val postsAfter1 = store.read("posts").collect().toSet
    val (tfB, dfB, nB, sB) = StreamBm25.searchFrames(
      store, "posts", "dl", Seq("spark", "merge", "vector"))
    val statsBefore = (tfB.collect().toSet, dfB.collect().toSet,
      nB.collect().toSet, sB.collect().toSet)
    // simulate the crash: batch 1's postings landed, its dl partition and
    // marker didn't
    FoldCrash.beforePartition(store, "dl", 1L)
    // searchFrames over the crashed store must exclude the orphan postings
    val (tfC, _, nC, _) = StreamBm25.searchFrames(
      store, "posts", "dl", Seq("spark", "merge", "vector"))
    assert(nC.head.getLong(0) == corpus.filter(col("doc_id") % 2 === 0).count())
    assert(!tfC.select(col("doc_id")).as[Long].collect().exists(_ % 2 == 1),
      "orphaned batch-1 postings leaked into a pre-recovery search")
    fold(corpus.filter(col("doc_id") % 2 === 1), 1L) // recovery replay
    assert(store.read("posts").collect().toSet == postsAfter1)
    val (tfA, dfA, nA, sA) = StreamBm25.searchFrames(
      store, "posts", "dl", Seq("spark", "merge", "vector"))
    assert((tfA.collect().toSet, dfA.collect().toSet,
      nA.collect().toSet, sA.collect().toSet) == statsBefore)
  }

  test("a crash after both partitions landed, before the marker commit, replays to the clean store") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sbm3").toString)
    val fold = StreamBm25.applyBatch(store, "posts", "dl", "doc_id", "text") _
    fold(corpus.filter(col("doc_id") % 2 === 0), 0L)
    fold(corpus.filter(col("doc_id") % 2 === 1), 1L)
    val clean = FoldCrash.tables(store, "posts", "dl")
    FoldCrash.beforeMarker(store, "dl", 1L)
    // the uncommitted batch is invisible to search: n_docs counts batch 0
    val (_, _, nC, _) = StreamBm25.searchFrames(
      store, "posts", "dl", Seq("spark", "merge", "vector"))
    assert(nC.head.getLong(0) == corpus.filter(col("doc_id") % 2 === 0).count())
    fold(corpus.filter(col("doc_id") % 2 === 1), 1L) // recovery replay
    assert(FoldCrash.tables(store, "posts", "dl") == clean)
  }
}
