package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.TableStore
import graft.streaming.StreamDedup

/** Streaming EXACT edit-distance (PassJoin) maintenance: the micro-batch
  * folds must emit, across all batches, exactly the one-shot
  * [[Dedup.editDistancePairs]] answer — pairs AND exact distances — with
  * every cross-batch pair surfacing in the arrival batch, a replayed
  * batch a no-op, per-batch writes O(batch), and history never
  * re-segmented (the value-derived segment key is immutable).
  */
class StreamEditPairsSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  /** Mixed corpus: per family, a base value plus substitution (dist 1–2)
    * and insertion (dist 1) variants; exact-duplicate VALUES under new
    * doc ids (the dist-0 doc-expansion path); short strings (length ≤ d
    * and ≤ 2d, the no-segment length buckets); singletons. Batched by
    * doc_id % 3 so every pair class straddles batches.
    */
  private def corpus = {
    val families = (0 until 4).flatMap { c =>
      val base = s"family${c}_abcdefg"
      Seq(
        (c * 10L, base),
        (c * 10L + 1, base.dropRight(1) + "X"),
        (c * 10L + 2, base.dropRight(2) + "XY"),
        (c * 10L + 3, base + "Z"))
    }
    val dupValues = Seq(
      (100L, "family0_abcdefg"), // same VALUE as doc 0, later arrival
      (101L, "family1_abcdefg"),
      (102L, "family0_abcdefg")) // third copy: dup pairs among 0/100/102
    val shorts = Seq(
      (200L, ""), (201L, "a"), (202L, "ab"),
      (203L, "abc"), (204L, "abcd"), (205L, "xy"))
    val singletons = Seq(
      (300L, "completely_unrelated_string_zzz"),
      (301L, "another_very_different_one_qqq"))
    (families ++ dupValues ++ shorts ++ singletons).toDF("doc_id", "str")
  }

  private val d = 2

  private def oneShot =
    Dedup.editDistancePairs(corpus, "doc_id", "str", maxDist = d)
      .as[(Long, Long, Int)].collect().toSet

  test("cross-batch folds emit exactly the one-shot PassJoin answer (distances included); replay is a no-op") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sed").toString)
    val fold = StreamDedup.applyEditBatch(
      store, "docs", "segs", "pairs", "doc_id", "str", d) _
    (0 to 2).foreach(i => fold(corpus.filter(col("doc_id") % 3 === i), i.toLong))
    def emitted = store.read("pairs")
      .select(col("id_a"), col("id_b"), col("dist"))
      .as[(Long, Long, Int)].collect().toSet
    val expected = oneShot
    assert(expected.nonEmpty)
    assert(expected.exists(_._3 == 0), "corpus must exercise dist-0 dup expansion")
    assert(expected.exists(_._3 == 1))
    assert(expected.exists(_._3 == 2))
    assert(emitted == expected)
    // O(batch) store layout: each batch holds exactly its own partitions
    for (i <- 0 to 2)
      assert(Files.exists(java.nio.file.Paths.get(s"${store.path("docs")}/__applied=$i")))
    val segsBefore = store.read("segs").collect().toSet
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L) // at-least-once replay
    assert(emitted == expected)
    assert(store.read("segs").collect().toSet == segsBefore)
  }

  test("a crash before the doc-marker commit replays without duplicate pairs or segments") {
    // The dangerous partial state: batch N's pairs + segments on disk,
    // its doc partition and its marker absent. A replay must reconstruct,
    // not double — the refold excludes the crashed segment partition
    // (__applied > committed) and replaces it.
    val store = new TableStore(s, Files.createTempDirectory("graft_sed2").toString)
    val fold = StreamDedup.applyEditBatch(
      store, "docs", "segs", "pairs", "doc_id", "str", d) _
    fold(corpus.filter(col("doc_id") % 3 === 0), 0L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L)
    val pairsAfter1 = store.read("pairs").collect().toSet
    val segsAfter1 = store.read("segs").collect().toSet
    // simulate the crash: batch 1's pairs + segments landed, marker didn't
    val p1 = FoldCrash.beforePartition(store, "docs", 1L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L) // recovery replay
    assert(store.read("pairs").collect().toSet == pairsAfter1)
    assert(store.read("segs").collect().toSet == segsAfter1)
    assert(Files.exists(p1))
  }

  test("a crash after every partition landed, before the marker commit, replays to the clean store") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sed4").toString)
    val fold = StreamDedup.applyEditBatch(
      store, "docs", "segs", "pairs", "doc_id", "str", d) _
    (0 to 2).foreach(i => fold(corpus.filter(col("doc_id") % 3 === i), i.toLong))
    val clean = FoldCrash.tables(store, "docs", "segs", "pairs")
    FoldCrash.beforeMarker(store, "docs", 2L)
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L) // recovery replay
    assert(FoldCrash.tables(store, "docs", "segs", "pairs") == clean)
    // write order is free: the doc and segment partitions landed, the
    // pair log did not. The refold must not read back its own docs and
    // segments as history, or it would emit the batch's pairs wrongly.
    FoldCrash.beforeMarker(store, "docs", 2L)
    FoldCrash.dropPartition(store, "pairs", "__batch=2")
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L)
    assert(FoldCrash.tables(store, "docs", "segs", "pairs") == clean)
  }

  test("history is never re-segmented and re-arriving values append no segment rows") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sed3").toString)
    val fold = StreamDedup.applyEditBatch(
      store, "docs", "segs", "pairs", "doc_id", "str", d) _
    fold(corpus.filter(col("doc_id") % 3 === 0), 0L)
    val b0 = store.read("segs").filter(col("__applied") === 0)
      .collect().toSet
    (1 to 2).foreach(i => fold(corpus.filter(col("doc_id") % 3 === i), i.toLong))
    assert(store.read("segs").filter(col("__applied") === 0)
      .collect().toSet == b0,
      "a later fold changed batch 0's segment rows — segments must be immutable")
    // docs 0 (batch 0) and 100/102 (batches 1 and 0) share one VALUE:
    // the segment store must hold that value's segments exactly once
    val segRows = store.read("segs").select(col("__s"), col("kk"))
    assert(segRows.count() == segRows.distinct().count(),
      "a re-arriving value re-appended its segments — the fresh-value anti-join leaked")
  }
}
