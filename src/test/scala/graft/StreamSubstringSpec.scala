package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.TableStore
import graft.streaming.{Maintain, StreamDedup}

/** Streaming substring-dedup maintenance: per-batch folds of the
  * span-count store must log, across all batches, exactly the one-shot
  * duplicated-span index (final counts included), write O(batch) bytes
  * per fold, and replay idempotently.
  */
class StreamSubstringSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  /** Docs with within-doc repeats, cross-doc shared spans (straddling the
    * % 3 batching), and unique filler.
    */
  private def corpus = {
    def uniq(seed: Int, n: Int) = (0 until n).map(t => s"u${seed}_$t").mkString(" ")
    val shared = (0 until 8).map(t => s"s_$t").mkString(" ")
    val selfRep = ((0 until 8).map(t => s"r_$t") ++ (0 until 8).map(t => s"r_$t")).mkString(" ")
    Seq(
      (0L, uniq(0, 10) + " " + shared),
      (1L, shared + " " + uniq(1, 10)),
      (2L, uniq(2, 10) + " " + shared + " " + uniq(3, 6)),
      (3L, selfRep),
      (4L, uniq(4, 20)),
      (5L, uniq(5, 20))).toDF("doc_id", "text")
  }

  private val L = 4

  test("cross-batch folds log exactly the one-shot duplicated-span index; replay and crash recover") {
    val store = new TableStore(s, Files.createTempDirectory("graft_ssub").toString)
    val fold = StreamDedup.applySubstringBatch(
      store, "spans", "dups", "doc_id", "text", L) _
    (0 to 2).foreach { i =>
      fold(corpus.filter(col("doc_id") % 3 === i), i.toLong)
    }
    // the store's aggregated counts equal the one-shot span-count store
    val storeCounts = store.read("spans")
      .groupBy(col("span_h")).agg(sum(col("n_old")).cast("long").as("n"))
      .as[(String, Long)].collect().toSet
    val occ = Dedup.spanOccurrences(corpus, "doc_id", "text", L)
    val oneShotCounts = Dedup.spanCountStoreFromOcc(occ)
      .select(col("span_h"), col("n_old").as("n"))
      .as[(String, Long)].collect().toSet
    assert(storeCounts == oneShotCounts)
    // each duplicated span's LAST log entry carries the one-shot total
    val logged = store.read("dups")
      .groupBy(col("span_h")).agg(max(col("n_occ")).cast("long").as("n_occ"))
      .as[(String, Long)].collect().toSet
    val oneShotDups = Dedup.duplicatedSpanIndexFromOcc(occ, "doc_id")
      .select(col("span_h"), col("n_occ"))
      .as[(String, Long)].collect().toSet
    assert(logged == oneShotDups)
    assert(oneShotDups.nonEmpty) // not vacuous
    // replay is a no-op
    val before = (store.read("spans").collect().toSet, store.read("dups").collect().toSet)
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L)
    assert((store.read("spans").collect().toSet, store.read("dups").collect().toSet) == before)
    // crash: batch 2's dup log landed but its span partition didn't —
    // the replay must reconstruct both without doubling
    FoldCrash.beforePartition(store, "spans", 2L)
    fold(corpus.filter(col("doc_id") % 3 === 2), 2L)
    assert((store.read("spans").collect().toSet, store.read("dups").collect().toSet) == before)
  }

  test("folds write O(batch): earlier span partitions are untouched bytes; real stream matches") {
    val store = new TableStore(s, Files.createTempDirectory("graft_ssub2").toString)
    val fold = StreamDedup.applySubstringBatch(
      store, "spans", "dups", "doc_id", "text", L) _
    fold(corpus.filter(col("doc_id") % 3 === 0), 0L)
    def fingerprint(sub: String): Seq[(String, Long)] = {
      val dir = java.nio.file.Paths.get(s"${store.path("spans")}/$sub")
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
    val batch0 = fingerprint("__applied=0")
    assert(batch0.nonEmpty)
    (1 to 2).foreach(i => fold(corpus.filter(col("doc_id") % 3 === i), i.toLong))
    assert(fingerprint("__applied=0") == batch0,
      "a later fold rewrote an earlier batch's span partition")

    // a real AvailableNow stream reaches the same aggregated store state
    val srcDir = Files.createTempDirectory("graft_ssub_src").toString
    val ckptDir = Files.createTempDirectory("graft_ssub_ckpt").toString
    val store2 = new TableStore(s, Files.createTempDirectory("graft_ssub3").toString)
    (0 to 2).foreach { i =>
      corpus.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val stream = s.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    Maintain(stream, ckptDir)(StreamDedup.applySubstringBatch(store2,
      "spans", "dups", "doc_id", "text", L) _).start().awaitTermination()
    def agg(st: TableStore) = st.read("spans")
      .groupBy(col("span_h")).agg(sum(col("n_old")).cast("long").as("n"))
      .as[(String, Long)].collect().toSet
    assert(agg(store2) == agg(store))
  }
}
