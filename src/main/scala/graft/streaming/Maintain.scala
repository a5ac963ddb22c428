package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one streaming driver of every maintained store: runs `stream` to
  * the end of its currently available input (`Trigger.AvailableNow`) and
  * hands each micro-batch to `fold` with its batch id. Every maintainer in
  * this package is such a fold — `X.applyBatch(store, …) _` and its
  * siblings — and the registered queries call the same folds directly with
  * their own batch ids, so the stream path and the query path run one
  * piece of code.
  *
  * Delivery is at-least-once: a crash after a fold's writes but before
  * the stream commits its progress replays the batch under the same id.
  * Each fold is therefore idempotent per batch id — its applied marker
  * (a scalar [[graft.sources.TableStore.putMarker]] or the `__applied`
  * partition of the store written LAST) short-circuits a replay, and
  * anything written before the marker is replaced by it, never doubled.
  *
  * `checkpointDir` is REQUIRED because every such guard keys on the
  * stream's batch ids: without a durable checkpoint, a restarted stream
  * re-reads its source and re-allocates batch ids from 0, every new batch
  * compares <= the store's high-water mark, and ingest silently drops —
  * a guard can only be as durable as the id sequence it checks. With it,
  * a restart resumes the id sequence and reads only input it has not
  * seen.
  */
object Maintain {

  def apply(stream: DataFrame, checkpointDir: String)(
      fold: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        fold(batch.toDF(), batchId)
      }
}
