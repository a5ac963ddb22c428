package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sources.TableStore

/** The one streaming driver of every maintained store, and the one replay
  * guard of every fold it drives.
  *
  * [[apply]] runs `stream` to the end of its currently available input
  * (`Trigger.AvailableNow`) and hands each micro-batch to `fold` with its
  * batch id. Every maintainer in this package is such a fold —
  * `X.applyBatch(store, …) _` and its siblings — and the registered
  * queries call the same folds directly with their own batch ids, so the
  * stream path and the query path run one piece of code.
  *
  * Delivery is at-least-once: a crash after a fold's writes but before
  * the stream commits its progress replays the batch under the same id.
  * Each fold is therefore idempotent per batch id through [[once]]: the
  * fold's writes run only for a batch id above its committed marker, and
  * the marker (one file, [[graft.sources.TableStore.putMarker]]) commits
  * only after every write returned. A crash anywhere before the marker
  * leaves it behind, the batch replays, and each write replaces its own
  * batch's partition instead of adding to it. The order of a fold's
  * writes does not matter: every read of the fold's own history filters
  * to `__applied <= committed`, so a partition a crashed attempt landed
  * is never read back before its replay replaces it.
  *
  * `checkpointDir` is REQUIRED because the guard keys on the stream's
  * batch ids: without a durable checkpoint, a restarted stream re-reads
  * its source and re-allocates batch ids from 0, every new batch compares
  * <= the committed marker, and ingest silently drops — a guard can only
  * be as durable as the id sequence it checks. With it, a restart resumes
  * the id sequence and reads only input it has not seen.
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

  /** Runs `body` for batch `batchId` of the fold whose marker is
    * `table`'s, unless that batch id is at or below the committed one;
    * then commits `batchId`. `body` gets the committed id, the bound of
    * every read of the fold's own history. A `body` that throws commits
    * nothing. The check is one file read: a skipped batch starts no
    * Spark job.
    */
  def once(store: TableStore, table: String, batchId: Long)(
      body: Long => Unit): Unit = {
    val done = committed(store, table)
    if (batchId > done) {
      body(done)
      store.putMarker(marker(table), batchId)
    }
  }

  /** `table`'s rows of the batches up to `committed`, without their
    * `__applied` partition column — the read of a fold's own history
    * inside [[once]]; an empty frame of `like`'s shape while `table` does
    * not exist yet.
    */
  def history(store: TableStore, table: String, committed: Long,
      like: => DataFrame): DataFrame =
    if (!store.exists(table)) like.limit(0)
    else store.read(table).filter(col("__applied") <= committed).drop("__applied")

  /** The last batch id committed by [[once]] for `table`, or −1. */
  def committed(store: TableStore, table: String): Long =
    store.getMarker(marker(table)).getOrElse(-1L)

  /** Name of `table`'s marker file in its store. */
  def marker(table: String): String = s"${table}__batch"
}
