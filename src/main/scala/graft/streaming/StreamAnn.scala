package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Pin, Similarity}
import graft.plans.TopKPairs
import graft.sources.TableStore

/** Streaming ANN index maintenance — the streaming face of
  * `embed_ann_incremental`: new embedding batches fold into a persisted
  * IVF inverted-list store and are searched against history as they
  * arrive, with nothing ever re-indexed and nothing ever comparing
  * new × all-history.
  *
  * The inverted index IS the partition layout: the list store is
  * partitioned `__applied=batch/cid=centroid/` ([[graft.sources
  * .TableStore.replacePartitions]]' nested form), so a fold's probe
  * reads prune at the directory level to the ≤ `probe` lists the batch
  * actually probes — per-batch READ volume is O(probed-list state),
  * write volume O(batch). Centroids are a fixed broadcast k-row frame
  * (the coarse quantizer is trained once and versioned separately, the
  * standard production IVF contract; re-training is a batch rebuild).
  *
  * Per fold: assign the batch's vectors to their nearest centroid
  * (map-side against the broadcast centroids), log each vector's top-k
  * cosine neighbors among history in its probed lists, append the
  * neighbor rows as one `__batch` partition and the batch's list rows as
  * one `__applied` partition, under [[Maintain.once]]: a replay of an
  * applied batch is a no-op, and a half-landed crash replays against the
  * same pre-batch lists (`__applied <= committed` pruning).
  */
object StreamAnn {

  /** The per-batch fold, run from a stream with [[Maintain]]. `batch`
    * carries (vec_id, v: array<double>); `centroids` (cid: bigint, cv:
    * array<double>). Each vector probes its `probe` ≥ 1 nearest lists.
    */
  def applyBatch(store: TableStore, listTable: String,
      neighborsTable: String, centroids: DataFrame, probe: Int, k: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    require(probe >= 1, s"probe must be at least 1 (the home list), got $probe")
    Maintain.once(store, listTable, batchId) { committed =>
      // zero-norm vectors have no cosine direction: their 0/0 = NaN
      // similarity would sort ABOVE every real neighbor (Spark orders
      // NaN greatest), so they are unindexable — dropped here, like
      // null embeddings at the source reader
      val scored = Similarity.centroidScores(
        batch.filter(Similarity.dotNative(col("v"), col("v")) > 0d), centroids)
      // each vector's `probe` nearest lists; rank 1 is its home list. A
      // null cs (a centroid with a null vector) ranks last, as it did
      // under the row_number window's DESC NULLS LAST: a rounded cosine
      // is never -Infinity
      val ranked = Pin(TopKPairs.perGroup(scored, col("vec_id"),
        coalesce(col("cs"), lit(Double.NegativeInfinity)), col("cid"), probe))
      val home = ranked.filter(col("rank") === 1)
        .select(col("vec_id"), col("id").as("cid"))
        .join(batch.select(col("vec_id"), col("v")), Seq("vec_id"))
      val probes = ranked.select(col("vec_id").as("qid"), col("id").as("cid"))
      val touched = probes.select(col("cid")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val hist = Maintain.history(store, listTable, committed, home)
        .filter(col("cid").isInCollection(touched))
        .select(col("vec_id").as("nid"), col("cid"), col("v").as("vb"))
      // Final ranking as TopKPairs.perGroup, not a row_number window:
      // per-qid candidates = the probed lists' rows, which grow with the
      // STORE (~history/k per list).
      val cands = probes
        .join(hist, Seq("cid"))
        .join(batch.select(col("vec_id").as("qid"), col("v").as("va")), Seq("qid"))
        .select(col("qid"), col("nid"),
          Similarity.cosine12(col("va"), col("vb")).as("cosine"))
        .distinct() // a neighbor reachable via several probed lists scores once
      val neighbors = TopKPairs.perGroup(cands, col("qid"), col("cosine"),
          col("nid"), k)
        .toDF("qid", "nid", "cosine", "rnk")
      store.replacePartitions(neighborsTable,
        neighbors.withColumn("__batch", lit(batchId)), "__batch")
      store.replacePartitions(listTable,
        home.withColumn("__applied", lit(batchId)), "__applied", Seq("cid"))
    }
  }
}
