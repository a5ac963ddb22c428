package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.operators.Cdc
import graft.sources.TableStore

/** Streaming CDC mirror: maintain the current-state table of a CDC op
  * feed ([[Cdc.applyChanges]] semantics) as micro-batches arrive, so the
  * warehouse copy of a transactional source is continuously queryable
  * without ever replaying the feed's history.
  *
  * State rows keep their winning (seq, op) — deletes persist as
  * TOMBSTONES rather than disappearing. That is load-bearing for
  * correctness, not bookkeeping: CDC transports are only ordered per
  * key AT THE SOURCE, not across batches, so a delete may arrive in
  * batch N and a stale lower-seq update for the same key in batch N+1.
  * With the tombstone present, the fold (`latestRows(state ∪ batch)`,
  * associative by construction) discards the stale row; without it the
  * dead key would silently resurrect. [[present]] strips tombstones for
  * consumers; purge them by retention policy once the transport's
  * reordering horizon has passed (they are one row per deleted key —
  * bounded by key cardinality, not feed volume).
  *
  * The mirror is HASH-BUCKETED on the key (`__bucket = hash(keys) mod
  * nBuckets`, a partition column): a fold rewrites only the buckets its
  * batch touches, so per-batch write volume is
  * O(state × touchedBuckets / nBuckets + batch), not O(state) — a small
  * batch against a 100 TB mirror rewrites a few buckets, never the
  * table. The un-touched buckets are untouched bytes, and the state
  * stays a plain partitioned table every batch query can read.
  *
  * Replay safety: the fold runs under [[Maintain.once]], and per-bucket
  * replacement is NOT atomic across buckets. A crash anywhere before the
  * marker commit — half the buckets swapped, or a bucket parked mid-swap
  * (the store's recovery sweep restores it before the next fold reads) —
  * replays the batch, and the fold is idempotent: re-merging rows the
  * state already absorbed picks the same winners ([[Cdc.latestRows]] is
  * a max, and maxes are idempotent).
  */
object StreamCdc {

  /** The per-batch fold — run from a stream with [[Maintain]], or
    * directly with explicit batch ids (replay and cross-batch reordering
    * specs).
    */
  def applyBatch(store: TableStore, table: String, keys: Seq[String],
      seqCol: String, opCol: String, nBuckets: Int = 64)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, table, batchId) { _ =>
      val bucketOf =
        pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")
      val collapsed = Cdc.latestRows(batch, keys, seqCol, opCol)
        .withColumn("__bucket", bucketOf)
      val next =
        if (!store.exists(table)) collapsed
        else {
          // bounded driver state: at most min(batch keys, nBuckets) ids
          val touched = collapsed.select(col("__bucket")).distinct()
            .collect().map(_.getInt(0)).toSeq
          // partition pruning keeps the read to the touched buckets only
          val state = store.read(table)
            .filter(col("__bucket").isInCollection(touched))
          Cdc.latestRows(state.unionByName(collapsed), keys, seqCol, opCol)
        }
      store.replacePartitions(table, next, "__bucket")
    }
  }

  /** Consumer view of the mirror: tombstones and bookkeeping removed —
    * the same shape batch [[Cdc.applyChanges]] produces.
    */
  def present(state: DataFrame, seqCol: String, opCol: String): DataFrame =
    state.filter(col(opCol) =!= "D").drop(seqCol, opCol, "__applied", "__bucket")
}
