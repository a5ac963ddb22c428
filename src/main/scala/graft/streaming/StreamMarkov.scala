package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.Pin
import graft.sources.TableStore

/** Streaming Markov-transition maintenance: per-(src, dst) consecutive-
  * event counts kept current from an event stream — the always-fresh
  * next-page model behind `events_markov_next`, with state bounded by
  * the transition DOMAIN (pages²) plus one row per user, not by event
  * volume.
  *
  * A lag-over-sequence operator is ORDER-SENSITIVE, so unlike the
  * count/min/register maintainers this fold's merge law needs a batch
  * contract: micro-batches must arrive in EVENT-TIME ORDER (every event
  * of batch b+1 sorts at-or-after the same user's events in batch b
  * under the (ts, event_id) total order — the Trigger.AvailableNow
  * time-windowed file-stream shape; late data needs a watermarked
  * variant). Under that contract each user's global event sequence is
  * the concatenation of per-batch subsequences, so its consecutive
  * pairs are exactly
  *
  *   batch-INTERNAL pairs  ∪  one STITCH pair per (user, batch):
  *                            stored last event k → batch's first k
  *
  * and the maintained per-(src, dst) SUM equals the one-shot window
  * count — the registered `c33_stream_markov` readout certifies against
  * VERBATIM the one-shot oracle SQL. The per-user LAST event itself
  * merges by MAX (ts, event_id) — order-free — so the last-event store
  * is an ordinary per-batch partition log.
  *
  * Null semantics mirror the one-shot exactly: transitions FROM a
  * null k are dropped (the one-shot filters `src IS NOT NULL`),
  * transitions TO a null k are counted, and null users chain as one
  * anonymous walker (the stitch joins null-safe, matching the window's
  * null partition).
  *
  * Crash discipline ([[Maintain.once]]): refolds and readers filter
  * both stores to `__applied <= committed`, so a crashed attempt's
  * orphan partitions are excluded until the retry replaces them.
  */
object StreamMarkov {

  /** The per-batch fold, run from a stream with [[Maintain]] (its
    * checkpoint keeps the batch ids the marker checks durable). Batch
    * columns are (userCol, tsCol, idCol, kCol); both stores key
    * partitions by `__applied`.
    */
  def applyBatch(store: TableStore, cntTable: String, lastTable: String,
      userCol: String, tsCol: String, idCol: String, kCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, lastTable, batchId) { committed =>
      val ev = Pin(batch.select(col(userCol).as("u"), col(tsCol).as("t"),
        col(idCol).as("eid"), col(kCol).as("k")))
      val w = Window.partitionBy(col("u")).orderBy(col("t"), col("eid"))
      val internal = ev
        .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
        .filter(col("src").isNotNull)
      val prevLast = perUserLast(Maintain.history(store, lastTable, committed, ev))
      val firsts = ev.groupBy(col("u"))
        .agg(min_by(col("k"), struct(col("t"), col("eid"))).as("kf"))
      val stitch = prevLast.as("p")
        .join(firsts.as("f"), col("p.u") <=> col("f.u"))
        .select(col("p.k").as("src"), col("f.kf").as("dst"))
        .filter(col("src").isNotNull)
      val counts = internal.unionAll(stitch)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast(LongType).as("n"))
        .withColumn("__applied", lit(batchId))
      store.replacePartitions(cntTable, counts, "__applied")
      store.replacePartitions(lastTable,
        ev.groupBy(col("u"))
          .agg(max_by(struct(col("t"), col("eid"), col("k")),
            struct(col("t"), col("eid"))).as("m"))
          .select(col("u"), col("m.t").as("t"), col("m.eid").as("eid"),
            col("m.k").as("k"))
          .withColumn("__applied", lit(batchId)),
        "__applied")
    }
  }

  /** Per-user latest event (u, k) over a last-event partition log — the
    * MAX (ts, event_id) merge law.
    */
  private def perUserLast(lastRows: DataFrame): DataFrame =
    lastRows.groupBy(col("u"))
      .agg(max_by(struct(col("t"), col("eid"), col("k")),
        struct(col("t"), col("eid"))).as("m"))
      .select(col("u"), col("m.k").as("k"))

  /** Corpus per-(src, dst) transition counts from the store: per-pair
    * SUM over every APPLIED counts partition (a crashed attempt's
    * orphan partition — counts written, marker not — is excluded).
    */
  def mergedCounts(store: TableStore, cntTable: String,
      lastTable: String): DataFrame =
    store.read(cntTable)
      .filter(col("__applied") <= Maintain.committed(store, lastTable))
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("n")).cast(LongType).as("n"))
}
