package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Skyline
import graft.sources.TableStore

/** Streaming Pareto-front (skyline) maintenance: keep the maximize–
  * maximize front of an unbounded point stream current without ever
  * re-scanning history — the "best trade-offs so far, forever" readout
  * ([[graft.operators.Skyline]] is the one-shot form).
  *
  * The fold rests on skyline MERGEABILITY: dominance is transitive, so
  * a point dominated within its own batch is dominated in the union,
  * giving front(A ∪ B) = front(front(A) ∪ front(B)). Each micro-batch
  * therefore sweeps ONLY front(stored front ∪ batch) — O(front + batch)
  * work, history never re-read — and lands the new front as one
  * `__applied`-keyed partition; the partition at the committed batch id
  * ([[Maintain.once]]) IS the current front (earlier partitions are the
  * front's history, free time travel). A replayed batch is a no-op, and
  * a partition a crashed attempt landed is replaced by its replay.
  *
  * A point once dominated can never re-enter the front (the dominator
  * stays in the state), which is what makes the compact state sound:
  * the front is a SUFFICIENT statistic of all history for this query —
  * the same reason the KMV store keeps only bottom-k and the register
  * store only maxima.
  */
object StreamSkyline {

  /** The per-batch front fold, run from a stream with [[Maintain]]. */
  def applyBatch(store: TableStore, table: String, xCol: String,
      yCol: String)(batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, table, batchId) { committed =>
      val prev =
        if (store.exists(table))
          store.read(table).filter(col("__applied") === committed)
            .select(col(xCol), col(yCol))
        else batch.select(col(xCol), col(yCol)).limit(0)
      val merged = Skyline.paretoFront2d(
        prev.unionByName(batch.select(col(xCol), col(yCol))), xCol, yCol)
      store.replacePartitions(table,
        merged.withColumn("__applied", lit(batchId)), "__applied")
    }
  }

  /** The current front: the partition at the committed batch id. */
  def currentFront(store: TableStore, table: String): DataFrame =
    store.read(table)
      .filter(col("__applied") === Maintain.committed(store, table))
      .drop("__applied")
}
