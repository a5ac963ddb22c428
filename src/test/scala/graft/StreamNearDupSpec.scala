package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.TableStore
import graft.streaming.{Maintain, StreamDedup}

/** Streaming near-dup maintenance: the micro-batch band-store folds must
  * emit, across all batches, exactly the one-shot banded-LSH candidate
  * pair set — including pairs whose members arrive in different batches —
  * and a replayed batch must be a no-op.
  */
class StreamNearDupSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  /** Near-dup corpus (DedupSpec's construction): near-dup pairs differ in
    * one token, exact dups repeat a base doc, singletons share nothing.
    * Batched by doc_id % 3 so every near-dup pair straddles batches.
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

  private def oneShotPairs =
    Dedup.minhashPairs(corpus, "doc_id", "text", numHashes = 16, rowsPerBand = 4)
      .as[(Long, Long)].collect().toSet

  test("cross-batch folds emit exactly the one-shot candidate pair set; replay is a no-op; writes are O(batch)") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sdedup").toString)
    val fold = StreamDedup.applyBatch(
      store, "bands", "pairs", "doc_id", "text", 16, 4, 3) _
    fold(corpus.filter(col("doc_id") % 3 === 0), 0L)
    // O(batch) write volume: batch 0's band partition must be untouched
    // bytes after batches 1 and 2 commit — later folds append their own
    // __applied partitions instead of rewriting the store
    def fingerprint(table: String, sub: String): Seq[(String, Long)] = {
      val dir = java.nio.file.Paths.get(s"${store.path(table)}/$sub")
      val walk = Files.walk(dir)
      try {
        val it = walk.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        while (it.hasNext) {
          val p = it.next()
          if (Files.isRegularFile(p))
            buf += ((p.toString, Files.getLastModifiedTime(p).toMillis))
        }
        buf.sortBy(_._1).toSeq
      } finally walk.close()
    }
    val batch0Bands = fingerprint("bands", "__applied=0")
    assert(batch0Bands.nonEmpty)
    (1 to 2).foreach { i =>
      fold(corpus.filter(col("doc_id") % 3 === i), i.toLong)
    }
    assert(fingerprint("bands", "__applied=0") == batch0Bands,
      "a later fold rewrote an earlier batch's band partition — write volume is not O(batch)")
    assert(Files.exists(java.nio.file.Paths.get(s"${store.path("bands")}/__applied=2")))
    def emitted = store.read("pairs")
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().toSet
    assert(emitted == oneShotPairs)
    assert(oneShotPairs.nonEmpty) // the invariant is not vacuous

    val bandsBefore = store.read("bands").collect().toSet
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L) // at-least-once replay
    assert(emitted == oneShotPairs)
    assert(store.read("bands").collect().toSet == bandsBefore)
    // and the replay left batch 0's bytes alone too
    assert(fingerprint("bands", "__applied=0") == batch0Bands)
  }

  test("a crash between the pair-log and band-store commits replays without duplicates") {
    // The dangerous partial state: batch N's pairs written, batch N's
    // band partition and its marker absent. A replay of batch N must
    // reconstruct, not double, its pair rows.
    val store = new TableStore(s, Files.createTempDirectory("graft_sdedup3").toString)
    val fold = StreamDedup.applyBatch(
      store, "bands", "pairs", "doc_id", "text", 16, 4, 3) _
    fold(corpus.filter(col("doc_id") % 3 === 0), 0L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L)
    val pairsAfter1 = store.read("pairs").collect().toSet
    val bandsAfter1 = store.read("bands").collect().toSet
    // simulate the crash: batch 1's pairs are on disk, but its band
    // partition never landed
    FoldCrash.beforePartition(store, "bands", 1L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L) // recovery replay
    assert(store.read("pairs").collect().toSet == pairsAfter1)
    assert(store.read("bands").collect().toSet == bandsAfter1)
  }

  test("a crash after both partitions landed, before the marker commit, replays to the clean store") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sdedup6").toString)
    val fold = StreamDedup.applyBatch(
      store, "bands", "pairs", "doc_id", "text", 16, 4, 3) _
    (0 to 2).foreach(i => fold(corpus.filter(col("doc_id") % 3 === i), i.toLong))
    val clean = FoldCrash.tables(store, "bands", "pairs")
    FoldCrash.beforeMarker(store, "bands", 2L)
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L) // recovery replay
    assert(FoldCrash.tables(store, "bands", "pairs") == clean)
    // write order is free: the band partition landed, the pair log did
    // not. The refold must not read back its own band partition — as
    // history it would anti-join away every band key of the batch and
    // emit no pairs.
    FoldCrash.beforeMarker(store, "bands", 2L)
    FoldCrash.dropPartition(store, "pairs", "__batch=2")
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L)
    assert(FoldCrash.tables(store, "bands", "pairs") == clean)
  }

  test("a crash parking a band partition mid-swap is recovered before the next fold plans") {
    // replacePartitions' crash window parks the partition being replaced
    // as .old_part/bands/<sub>; a fold that read the store without
    // recovering it would plan against truncated history and lose every
    // future cross-batch pair into those docs. applyBatch must restore
    // the parked partition first.
    val store = new TableStore(s, Files.createTempDirectory("graft_sdedup4").toString)
    val fold = StreamDedup.applyBatch(
      store, "bands", "pairs", "doc_id", "text", 16, 4, 3) _
    fold(corpus.filter(col("doc_id") % 3 === 0), 0L)
    fold(corpus.filter(col("doc_id") % 3 === 1), 1L)
    val bandsAfter1 = store.read("bands").collect().toSet
    // park batch 0's partition exactly as a crash between the two moves
    // inside a replacement of it would
    Files.createDirectories(
      java.nio.file.Paths.get(s"${store.path("bands")}/../.old_part/bands"))
    Files.move(
      java.nio.file.Paths.get(s"${store.path("bands")}/__applied=0"),
      java.nio.file.Paths.get(s"${store.path("bands")}/../.old_part/bands/__applied=0"))
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L)
    assert(store.read("pairs").select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().toSet == oneShotPairs)
    assert(bandsAfter1.subsetOf(store.read("bands").collect().toSet))
  }

  test("re-ingesting an unchanged document appends no band keys and re-emits no pairs") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sdedup5").toString)
    val fold = StreamDedup.applyBatch(
      store, "bands", "pairs", "doc_id", "text", 16, 4, 3) _
    (0 to 2).foreach { i =>
      fold(corpus.filter(col("doc_id") % 3 === i), i.toLong)
    }
    val bands = store.read("bands").collect().toSet
    val pairs = store.read("pairs").collect().toSet
    // docs 0 and 200 (exact dups of each other) arrive AGAIN in batch 3
    fold(corpus.filter(col("doc_id").isin(0L, 200L)), 3L)
    assert(store.read("bands").collect().toSet == bands,
      "re-ingest appended duplicate band keys")
    assert(store.read("pairs").collect().toSet == pairs,
      "re-ingest re-emitted candidate pairs under a new batch id")
  }

  test("a real AvailableNow stream reaches the same store state, across a restart") {
    val srcDir = Files.createTempDirectory("graft_sdedup_src").toString
    val ckptDir = Files.createTempDirectory("graft_sdedup_ckpt").toString
    val store = new TableStore(s, Files.createTempDirectory("graft_sdedup2").toString)
    def run(): Unit = {
      val stream = s.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      Maintain(stream, ckptDir)(StreamDedup.applyBatch(store,
        "bands", "pairs", "doc_id", "text", 16, 4, 3) _).start().awaitTermination()
    }
    // first process lifetime sees two batches...
    (0 to 1).foreach { i =>
      corpus.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    run()
    // ...then the stream RESTARTS from the same checkpoint and must ingest
    // the third batch (durable batch ids keep the replay guard monotonic —
    // without the checkpoint a restart would silently drop it)
    corpus.filter(col("doc_id") % 3 === 2)
      .coalesce(1).write.mode("append").parquet(srcDir)
    run()
    assert(
      store.read("pairs").select(col("doc_a"), col("doc_b"))
        .as[(Long, Long)].collect().toSet == oneShotPairs)
    // the store's band keys equal a one-shot banding of the corpus
    val oneShotBands = Dedup.bandKeysFromWide(
      Dedup.minhashWide(
        corpus.select(col("doc_id"),
          explode(graft.functions.TextAnalysis.shingles(col("text"), 3)).as("shingle")),
        "doc_id", 16),
      "doc_id", 16, 4).as[(Long, Long, String)].collect().toSet
    assert(
      store.read("bands").select(col("doc_id"), col("band"), col("band_key"))
        .as[(Long, Long, String)].collect().toSet == oneShotBands)
  }
}
