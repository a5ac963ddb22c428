package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.TableStore
import graft.streaming.StreamDedup

/** Streaming EXACT Hamming-≤d SimHash maintenance: the micro-batch folds
  * must emit, across all batches, exactly the one-shot
  * [[Dedup.simhashHammingPairsFromSig]] answer — pairs AND exact distances —
  * with every cross-batch pair surfacing in the arrival batch, a
  * replayed batch a no-op, and only the batch ever token-hashed.
  */
class StreamHammingSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  /** Exact-dup docs hash identically (distance 0 — guaranteed pairs);
    * one-token tweaks land nearby (whatever distance the hash gives —
    * the one-shot is the reference either way); singletons far apart.
    * Batched by doc_id % 3 so dup groups straddle batches.
    */
  private def doc(seed: Int, tweak: Int = -1) =
    (0 until 40).map(t => if (t == tweak) s"X${seed}_$t" else s"w${seed}_$t").mkString(" ")

  private def corpus = (
    (0 until 5).flatMap { c =>
      Seq((c * 10L, doc(c)), (c * 10L + 1, doc(c)), (c * 10L + 2, doc(c, 20)))
    } ++ (100 until 106).map(i => (i.toLong, doc(i)))
  ).toDF("doc_id", "text")

  private val d = 1

  private def oneShot =
    Dedup.simhashHammingPairsFromSig(
        Dedup.simhashPortable(corpus, "doc_id", "text"), "doc_id", maxDist = d)
      .as[(Long, Long, Int)].collect().toSet

  test("cross-batch folds emit exactly the one-shot answer (distances included); replay is a no-op") {
    val store = new TableStore(s, Files.createTempDirectory("graft_shp").toString)
    val fold = StreamDedup.applyHammingBatch(
      store, "sigs", "pairs", "doc_id", "text", d) _
    (0 to 2).foreach(i => fold(corpus.filter(col("doc_id") % 3 === i), i.toLong))
    def emitted = store.read("pairs")
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet
    val expected = oneShot
    assert(expected.exists(_._3 == 0), "exact dups must pair at distance 0")
    assert(emitted == expected)
    // one signature row per doc, each in its arrival batch's partition
    assert(store.read("sigs").count() == corpus.count())
    for (i <- 0 to 2)
      assert(Files.exists(java.nio.file.Paths.get(s"${store.path("sigs")}/__applied=$i")))
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L) // at-least-once replay
    assert(emitted == expected)
    assert(store.read("sigs").count() == corpus.count())
  }

  test("a crash before the signature-marker commit replays without duplicate pairs") {
    // Replay after the dangerous partial state (pairs landed, the
    // signature partition and the marker absent) must reconstruct, not
    // double.
    val store = new TableStore(s, Files.createTempDirectory("graft_shp2").toString)
    val fold = StreamDedup.applyHammingBatch(
      store, "sigs", "pairs", "doc_id", "text", d) _
    fold(corpus.filter(col("doc_id") % 3 === 0), 0L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L)
    val pairsAfter1 = store.read("pairs").collect().toSet
    val p1 = FoldCrash.beforePartition(store, "sigs", 1L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L) // recovery replay
    assert(store.read("pairs").collect().toSet == pairsAfter1)
    assert(Files.exists(p1))
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L)
    assert(store.read("pairs")
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet == oneShot)
  }
}
