package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Dedup
import graft.sources.TableStore
import graft.streaming.{Maintain, StreamDedup}

/** Streaming duplicate-cluster maintenance: the micro-batch folds must
  * keep the label store's latest-delta readout exactly equal to one-shot
  * [[Dedup.dupClusters]] over the full corpus — min-id cluster ids
  * included — while writing only label DELTAS per batch (a new edge can
  * merge old components and relabel history), with a replayed batch a
  * no-op and crash-before-marker recovery.
  */
class StreamDupClustersSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  /** Near-dup corpus batched by doc_id % 3 with: a family straddling all
    * three batches (30/31/32), a RELABEL family whose min id arrives
    * LAST (12 → b0, 13 → b1, 2 → b2: batch 2 must rewrite history's
    * labels from 12 to 2), an exact-dup pair across batches (100/101),
    * an UNTOUCHED-by-batch-2 family (60 → b0, 61 → b1: its docs must not
    * appear in batch 2's delta), and singletons.
    */
  private def doc(seed: Int, tweak: Int = -1) =
    (0 until 60).map(t => if (t == tweak) s"X${seed}_$t" else s"w${seed}_$t").mkString(" ")

  private def corpus = Seq(
    (30L, doc(0)), (31L, doc(0, 30)), (32L, doc(0, 31)),
    (12L, doc(9)), (13L, doc(9, 30)), (2L, doc(9, 31)),
    (100L, doc(5)), (101L, doc(5)),
    (60L, doc(6)), (61L, doc(6, 30)),
    (200L, doc(20)), (201L, doc(21)), (202L, doc(22)))
    .toDF("doc_id", "text")

  private def oneShot = {
    val bands = Dedup.bandKeysFromWide(
      Dedup.minhashWide(
        corpus.select(col("doc_id"),
          explode(TextAnalysis.shingles(col("text"), 3)).as("shingle")),
        "doc_id", 16),
      "doc_id", 16, 4)
    Dedup.dupClusters(Dedup.candidatePairs(bands, "doc_id"))
      .as[(Long, Long)].collect().toSet
  }

  private def foldAll(store: TableStore): Unit = {
    val fold = StreamDedup.applyClusterBatch(
      store, "bands", "labels", "doc_id", "text", 16, 4, 3) _
    (0 to 2).foreach(i => fold(corpus.filter(col("doc_id") % 3 === i), i.toLong))
  }

  private def readout(store: TableStore) = store.read("labels")
    .groupBy(col("doc_id"))
    .agg(max_by(col("cluster"), col("__batch")).as("cluster"))
    .as[(Long, Long)].collect().toSet

  test("latest-delta readout equals one-shot clustering; batch 2 relabels history; replay is a no-op") {
    val store = new TableStore(s, Files.createTempDirectory("graft_scc").toString)
    foldAll(store)
    val expected = oneShot
    assert(expected.nonEmpty)
    assert(readout(store) == expected)
    // the relabel family converged on the LAST-arriving min id
    assert(expected.contains((12L, 2L)) && expected.contains((13L, 2L)),
      "fixture must exercise a relabel (min id arriving last)")
    val b2 = store.read("labels").filter(col("__batch") === 2)
      .select(col("doc_id"), col("cluster")).as[(Long, Long)].collect().toSet
    assert(b2.contains((12L, 2L)) && b2.contains((13L, 2L)),
      "batch 2's delta must carry the rewritten history labels")
    // O(Δ): the family untouched by batch 2 appears in no batch-2 delta
    assert(!b2.exists(r => r._1 == 60L || r._1 == 61L),
      "an untouched component leaked into a later batch's delta")
    val labelsBefore = store.read("labels").collect().toSet
    StreamDedup.applyClusterBatch(
      store, "bands", "labels", "doc_id", "text", 16, 4, 3)(
      corpus.filter(col("doc_id") % 3 === 2), 2L) // at-least-once replay
    assert(store.read("labels").collect().toSet == labelsBefore)
    assert(readout(store) == expected)
  }

  test("a crash before the band-marker commit replays without duplicate or stale deltas") {
    // The dangerous partial state: batch N's label delta on disk, its
    // band partition and its marker absent. A replay must exclude the
    // orphaned delta from the labeling it folds against and replace it.
    val store = new TableStore(s, Files.createTempDirectory("graft_scc2").toString)
    val fold = StreamDedup.applyClusterBatch(
      store, "bands", "labels", "doc_id", "text", 16, 4, 3) _
    fold(corpus.filter(col("doc_id") % 3 === 0), 0L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L)
    val labelsAfter1 = store.read("labels").collect().toSet
    val p1 = FoldCrash.beforePartition(store, "bands", 1L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L) // recovery replay
    assert(store.read("labels").collect().toSet == labelsAfter1)
    assert(Files.exists(p1))
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L)
    assert(readout(store) == oneShot)
  }

  test("a crash after both partitions landed, before the marker commit, replays to the clean store") {
    val store = new TableStore(s, Files.createTempDirectory("graft_scc3").toString)
    foldAll(store)
    val clean = FoldCrash.tables(store, "bands", "labels")
    val fold = StreamDedup.applyClusterBatch(
      store, "bands", "labels", "doc_id", "text", 16, 4, 3) _
    FoldCrash.beforeMarker(store, "bands", 2L)
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L) // recovery replay
    assert(FoldCrash.tables(store, "bands", "labels") == clean)
    assert(readout(store) == oneShot)
    // write order is free: the band partition landed, the label delta
    // did not. The refold must not read back its own band partition as
    // history, or it would find no new pairs and land no delta.
    FoldCrash.beforeMarker(store, "bands", 2L)
    FoldCrash.dropPartition(store, "labels", "__batch=2")
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L)
    assert(FoldCrash.tables(store, "bands", "labels") == clean)
    assert(readout(store) == oneShot)
  }

  test("a 50-doc chain streamed in two batches through Maintain is one min-id component, in both id orders") {
    Seq(false, true).foreach { reversed =>
      val ids = if (reversed) (50L to 1L by -1L) else (1L to 50L)
      // the doc at chain position p holds tokens c_p and c_{p+1}: only
      // chain neighbours share a token, so with unigram shingles and 32
      // one-row bands the candidate graph is exactly the chain
      val docs = ids.zipWithIndex.map { case (id, p) => (id, s"c$p c${p + 1}") }
      val all = docs.toDF("doc_id", "text")
      val fixture = Dedup.candidatePairs(
        Dedup.bandKeysFromWide(
          Dedup.minhashWide(
            all.select(col("doc_id"),
              explode(TextAnalysis.shingles(col("text"), 1)).as("shingle")),
            "doc_id", 32),
          "doc_id", 32, 1),
        "doc_id").as[(Long, Long)].collect().toSet
      assert(fixture == ids.zip(ids.tail).map { case (a, b) => (a min b, a max b) }.toSet,
        "fixture must be a 50-document chain")
      val srcDir = Files.createTempDirectory("graft_scc_chain_src").toString
      val ckptDir = Files.createTempDirectory("graft_scc_chain_ckpt").toString
      val store = new TableStore(s, Files.createTempDirectory("graft_scc_chain").toString)
      docs.grouped(25).foreach { half =>
        half.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
      }
      val stream = s.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      Maintain(stream, ckptDir)(StreamDedup.applyClusterBatch(
        store, "bands", "labels", "doc_id", "text", 32, 1, 1) _).start().awaitTermination()
      assert(Maintain.committed(store, "bands") == 1L, "the chain arrives in two batches")
      assert(readout(store) == ids.map(_ -> 1L).toSet, s"reversed=$reversed")
    }
  }
}
