package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.IncrementalAgg
import graft.sources.TableStore

/** Streaming incremental view maintenance — the streaming twin of the
  * batch delta-fold (`c7_delta_agg`): each micro-batch aggregates to a
  * per-group delta and folds into the stored (count, decimal-sum) state
  * via [[IncrementalAgg.merge]], so a refresh shuffles only the
  * micro-batch, never the history. Because the state is DECIMAL and the
  * merge order-independent, a stream of N micro-batches ends
  * bit-identical to re-aggregating everything one-shot — the invariant
  * that makes a continuously-maintained view trustworthy at 100 TB.
  *
  * Unlike a built-in streaming aggregation (whose state lives inside the
  * state store, opaque to batch consumers), the state here is the plain
  * warehouse table every batch query already reads — the view stays
  * queryable mid-stream with the same [[IncrementalAgg.present]] shape.
  */
object ViewMaintain {

  /** The per-batch fold — run from a stream with [[Maintain]], or
    * directly with explicit batch ids (replay specs): maintains `table`
    * as the running aggregate of the batches grouped by `keys` with
    * decimal sums over `sumCols`.
    *
    * The state is HASH-BUCKETED on the group key (`__bucket`, a
    * partition column, same layout as [[StreamCdc]]): a fold rewrites
    * only the buckets its delta touches, so per-batch write volume is
    * O(touched-bucket state + delta), not O(all groups) — at 100 TB view
    * cardinality a day's delta rewrites a few buckets, never the table.
    *
    * Replay-safe under [[Maintain.once]]: a crash before the marker
    * commit replays the batch against whatever landed. UNLIKE the CDC
    * mirror's max-based fold, a re-MERGE of an already-folded delta
    * would double counts and sums, and per-bucket replacement is not
    * atomic across buckets. So each bucket is folded idempotently: a
    * bucket is either fully pre-batch or fully post-batch, never half
    * ([[TableStore.replacePartitions]] restores a parked bucket), and the
    * batch id written into the bucket rows (`__applied`) marks a
    * post-batch bucket, which the replay keeps instead of re-merging.
    */
  def applyBatch(store: TableStore, table: String, keys: Seq[String],
      sumCols: Seq[String], nBuckets: Int = 64)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    Maintain.once(store, table, batchId) { _ =>
      val bucketOf =
        pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")
      val delta = IncrementalAgg.fromBatch(batch, keys, sumCols)
        .withColumn("__bucket", bucketOf)
      val next =
        if (!store.exists(table)) delta.withColumn("__applied", lit(batchId))
        else {
          val touched = delta.select(col("__bucket")).distinct()
            .collect().map(_.getInt(0)).toSeq
          val state = store.read(table)
            .filter(col("__bucket").isInCollection(touched))
          // the double-fold guard for the half-applied crash window: a
          // bucket already carrying this batch id was fully merged by the
          // crashed attempt — replace it with itself, don't re-merge
          val stale = state.filter(col("__applied") =!= batchId)
          val done = state.filter(col("__applied") === batchId)
          IncrementalAgg.merge(
              stale.drop("__applied", "__bucket"),
              delta.join(done.select(keys.map(col): _*), keys, "left_anti")
                .drop("__bucket"),
              keys, sumCols)
            .withColumn("__bucket", bucketOf)
            .withColumn("__applied", lit(batchId))
            .unionByName(done)
        }
      store.replacePartitions(table, next, "__bucket")
    }
  }
}
