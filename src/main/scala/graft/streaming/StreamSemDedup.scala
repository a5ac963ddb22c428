package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Pin, Similarity}
import graft.sources.TableStore

/** Streaming SemDeDup maintenance — the streaming face of
  * `embed_semdedup`: new embedding batches fold into a persisted,
  * cluster-partitioned member store carrying each vector's kept flag,
  * with nothing re-clustered and nothing ever comparing
  * new × all-history.
  *
  * Coarse centroids are a FROZEN broadcast k-row frame (trained once,
  * versioned separately — re-clustering is a batch rebuild, the same
  * contract [[StreamAnn]] pins for its quantizer). The member store is
  * partitioned `__applied=batch/__cbucket=cid%32/` — a BOUNDED bucket of
  * the cluster id, not the raw cid: SemDeDup's k grows with the corpus
  * (that is what keeps cluster population constant), so raw `cid=` dirs
  * would mean an unbounded, ever-smaller-file partition tree at scale.
  * A fold's duplicate probe prunes at the directory level to the ≤32
  * buckets the batch touches and row-group-filters the exact cids inside
  * them: per-batch READ volume is O(touched-cluster state), write volume
  * O(batch), directory cardinality O(batches × 32) regardless of k.
  *
  * Duplicate rule (arrival-order greedy, the streaming instance of the
  * batch twin's keep-lowest-id rule): a vector is dropped iff some
  * same-cluster vector with PRECEDENCE over it — an earlier batch, or
  * the same batch with a lower vec_id — sits at cosine ≥ τ. Dropped
  * members still land in the store (kept = 0) and still serve as dedup
  * witnesses for later arrivals, exactly as the batch rule's lower-id
  * witnesses do regardless of their own kept flag; that is what makes
  * the maintained store equal a pure batch replay under any batching of
  * the same arrival order.
  *
  * Replay safety: [[Maintain.once]] short-circuits an at-least-once
  * replay, and a half-landed crash re-folds against `__applied <=
  * committed` state only.
  */
object StreamSemDedup {

  /** Fixed directory-cardinality bound for the cluster-bucket partition
    * column (`__cbucket = cid % CidBuckets`): k scales with the corpus,
    * the partition tree must not.
    */
  val CidBuckets = 32L

  /** The per-batch fold, run from a stream with [[Maintain]]. `batch`
    * carries (vec_id, v: array<double>); `centroids` (cid, cv:
    * array<double>).
    */
  def applyBatch(store: TableStore, table: String, centroids: DataFrame,
      tau: Double)(batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, table, batchId) { committed =>
      // home assignment: the quantizer's argmax against the broadcast
      // centroid frame; zero-norm vectors have no cosine direction
      // (their NaN would sort above every real centroid) — dropped, as
      // at the ANN maintainer's door. The vector is joined back
      // batch-sized after the argmax.
      val keep = batch
        .withColumn("n2", Similarity.dotNative(col("v"), col("v")))
        .filter(col("n2") > 0d)
      val homeIds = Similarity.nearestCentroid(
        Similarity.centroidScores(keep, centroids))
      // consumed 4× below (witness joins + the write)
      val home = Pin(homeIds
        .join(keep.select(col("vec_id"), col("v"), col("n2")), Seq("vec_id"))
        .select(col("vec_id"), col("cid"), col("v"), col("n2"),
          pmod(col("cid"), lit(CidBuckets)).as("__cbucket")))
      val touched = home.select(col("cid")).distinct()
        .collect().map(_.getLong(0)).toSeq
      // floorMod, NOT %: the store's __cbucket is written with pmod, and
      // Scala % of a negative cid would probe a bucket that can't exist
      val touchedBuckets = touched.map(c => java.lang.Math.floorMod(c, CidBuckets))
        .distinct
      val hist = Maintain.history(store, table, committed, home)
        // directory prune on the bounded bucket, row-group prune on cid
        .filter(col("__cbucket").isInCollection(touchedBuckets))
        .filter(col("cid").isInCollection(touched))
        .select(col("vec_id").as("uid"), col("cid"),
          col("v").as("vu"), col("n2").as("nu"))
      // witnesses with precedence: any earlier-batch member in the same
      // cluster, or a lower-id vector of this batch. Norms ride along —
      // recomputing the self-dots inside the quadratic pair joins would
      // triple their flops.
      val histDup = home.join(hist, Seq("cid"))
        .filter(Similarity.cosine12(col("v"), col("vu"), col("n2"), col("nu")) >= tau)
        .select(col("vec_id"))
      val a = home.select(col("cid"), col("vec_id").as("ua"),
        col("v").as("xa"), col("n2").as("na"))
      val batchDup = home.join(a, Seq("cid"))
        .filter(col("ua") < col("vec_id") &&
          Similarity.cosine12(col("xa"), col("v"), col("na"), col("n2")) >= tau)
        .select(col("vec_id"))
      val dropped = histDup.unionByName(batchDup).distinct()
        .withColumn("d", lit(0L))
      val out = home.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          coalesce(col("d"), lit(1L)).as("kept"), col("v"), col("n2"),
          col("__cbucket"))
      store.replacePartitions(table,
        out.withColumn("__applied", lit(batchId)), "__applied", Seq("__cbucket"))
    }
  }
}
