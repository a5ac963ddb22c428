package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.TableStore
import graft.streaming.StreamDedup

/** Streaming EXACT prefix-Jaccard (PPJoin) maintenance: the micro-batch
  * folds must emit, across all batches, exactly the one-shot
  * [[Dedup.prefixJaccardPairs]] answer — pairs AND exact values — with
  * every cross-batch pair surfacing in the arrival batch, a replayed
  * batch a no-op, and per-batch writes O(batch).
  */
class StreamPrefixJaccardSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  /** Near-dup corpus: near-dup pairs differ in one mid-doc token (3 of 58
    * 3-shingles change → J = 55/61 ≈ 0.90 ≥ 0.7), exact dups repeat a
    * base doc (J = 1), singletons share nothing. Batched by doc_id % 3 so
    * every near-dup pair straddles batches.
    */
  private def corpus = {
    def doc(seed: Int, tweak: Int = -1) =
      (0 until 60).map(t => if (t == tweak) s"X${seed}_$t" else s"w${seed}_$t").mkString(" ")
    ((0 until 6).flatMap { c =>
      Seq((c * 10L, doc(c)), (c * 10L + 1, doc(c, tweak = 30)))
    } ++
      (100 until 106).map(i => (i.toLong, doc(i))) ++
      Seq((200L, doc(0)), (201L, doc(1))))
      .toDF("doc_id", "text")
  }

  private val t = BigDecimal("0.7")

  private def oneShot =
    Dedup.prefixJaccardPairs(corpus, "doc_id", "text", t)
      .as[(Long, Long, Double)].collect().toSet

  test("cross-batch folds emit exactly the one-shot PPJoin answer (values included); replay is a no-op") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sppj").toString)
    val fold = StreamDedup.applyPrefixBatch(
      store, "sh", "prefix", "pairs", "doc_id", "text", t, 3) _
    (0 to 2).foreach(i => fold(corpus.filter(col("doc_id") % 3 === i), i.toLong))
    def emitted = store.read("pairs")
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    val expected = oneShot
    assert(expected.nonEmpty)
    assert(emitted == expected)
    // O(batch) store layout: each batch holds exactly its own partitions
    for (i <- 0 to 2)
      assert(Files.exists(java.nio.file.Paths.get(s"${store.path("prefix")}/__applied=$i")))
    val shBefore = store.read("sh").collect().toSet
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L) // at-least-once replay
    assert(emitted == expected)
    assert(store.read("sh").collect().toSet == shBefore)
  }

  test("a crash before the prefix-marker commit replays without duplicate pairs or shingles") {
    // The dangerous partial state: batch N's pairs + shingles on disk,
    // its prefix partition and its marker absent. A replay must
    // reconstruct, not double — the refold reads history up to the
    // committed batch only, and the shingle partition is replaced (not
    // appended).
    val store = new TableStore(s, Files.createTempDirectory("graft_sppj2").toString)
    val fold = StreamDedup.applyPrefixBatch(
      store, "sh", "prefix", "pairs", "doc_id", "text", t, 3) _
    fold(corpus.filter(col("doc_id") % 3 === 0), 0L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L)
    val pairsAfter1 = store.read("pairs").collect().toSet
    val shAfter1 = store.read("sh").collect().toSet
    // simulate the crash: batch 1's pairs + shingles landed, marker didn't
    val p1 = FoldCrash.beforePartition(store, "prefix", 1L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L) // recovery replay
    assert(store.read("pairs").collect().toSet == pairsAfter1)
    assert(store.read("sh").collect().toSet == shAfter1)
    assert(Files.exists(p1))
  }

  test("stable-order prefixes never drift: stored batch-0 prefix bytes survive later folds") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sppj3").toString)
    val fold = StreamDedup.applyPrefixBatch(
      store, "sh", "prefix", "pairs", "doc_id", "text", t, 3) _
    fold(corpus.filter(col("doc_id") % 3 === 0), 0L)
    val b0 = store.read("prefix").filter(col("__applied") === 0)
      .collect().toSet
    (1 to 2).foreach(i => fold(corpus.filter(col("doc_id") % 3 === i), i.toLong))
    assert(store.read("prefix").filter(col("__applied") === 0)
      .collect().toSet == b0,
      "a later fold changed batch 0's prefix rows — the order must be df-free")
  }
}
