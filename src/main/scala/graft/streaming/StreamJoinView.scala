package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IncrementalJoin, Pin}
import graft.sources.TableStore

/** Streaming JOIN-view maintenance — the streaming twin of
  * `c9_delta_join_view` ([[graft.operators.IncrementalJoin]]), sharing
  * [[ViewMaintain]]'s store discipline.
  *
  * The stream carries TAGGED rows of both join sides (a `side` column,
  * 'a' or 'b' — the shape a multiplexed CDC feed or a two-topic union
  * produces). Each micro-batch fold appends three batch-keyed
  * partitions: the batch's A-rows to the A log, its B-rows to the B log,
  * and the view delta ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB to the view log — per-batch
  * write volume is O(batch + new matches), and the view is continuously
  * queryable as a plain table (union of its partitions) without ever
  * re-joining history against history. The side logs are hash-bucketed
  * on the join key inside each batch partition, so a fold's delta joins
  * read only the buckets the batch touches — O(touched-bucket state)
  * per refresh, not O(all history).
  *
  * Replay safety: the fold runs under [[Maintain.once]] and only ever
  * reads side partitions with `__applied <= committed`. A crashed attempt
  * may have appended this batch's side partitions already, but the
  * replay's delta computation prunes them, so ΔV is reconstructed
  * identically and its partition replacement is idempotent.
  */
object StreamJoinView {

  /** The per-batch fold, run from a stream with [[Maintain]]. The
    * batch's A-rows keep every non-null A column, B-rows every non-null B
    * column (the tagged union is ragged: each side's own columns are set,
    * the other side's are null — [[split]] reprojects them).
    *
    * The side logs are HASH-BUCKETED on the join key inside each batch
    * partition (`__applied=N/__bucket=K/` — [[TableStore
    * .replacePartitions]]' nested layout, the same key-bucket discipline
    * as [[StreamCdc]]): matching keys share a bucket, so the fold reads
    * only the buckets the batch's own keys touch — per-batch READ volume
    * is O(touched-bucket state), not O(all history), while appends stay
    * O(batch) and replacement atomicity stays per batch partition.
    */
  def applyBatch(store: TableStore, aTable: String, bTable: String,
      viewTable: String, sideCol: String, keys: Seq[String],
      nBuckets: Int = 64)(batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, viewTable, batchId) { committed =>
      val bucketOf =
        pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")
      // ONE materialization of the batch (splits re-filter it in memory):
      // two per-side checkpoints recomputed the batch lineage twice
      val pinned = Pin(batch.withColumn("__bucket", bucketOf))
      val aDelta = split(pinned, sideCol, "a", keys, extra = Seq("__bucket"))
      val bDelta = split(pinned, sideCol, "b", keys, extra = Seq("__bucket"))
      // the touched-bucket list only prunes PRIOR state — with no store
      // yet (the common first fold) the collect is pure overhead
      lazy val touched = pinned.select(col("__bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq
      def priorSide(table: String, like: DataFrame): DataFrame =
        if (!store.exists(table)) like.limit(0).drop("__bucket")
        else store.read(table)
          .filter(col("__bucket").isInCollection(touched))
          .filter(col("__applied") <= committed)
          .drop("__applied", "__bucket")
      val aOld = priorSide(aTable, aDelta)
      val bOld = priorSide(bTable, bDelta)
      val dv = IncrementalJoin.delta(
        aOld, aDelta.drop("__bucket"), bOld, bDelta.drop("__bucket"), keys)
      // the side logs are independent tables — land them concurrently
      sideBySide(
        () => store.replacePartitions(aTable,
          aDelta.withColumn("__applied", lit(batchId)), "__applied", Seq("__bucket")),
        () => store.replacePartitions(bTable,
          bDelta.withColumn("__applied", lit(batchId)), "__applied", Seq("__bucket")))
      store.replacePartitions(viewTable,
        dv.withColumn("__applied", lit(batchId)), "__applied")
    }
  }

  /** Run two independent store writes concurrently (different tables, so
    * different tmp dirs); rethrows the first failure after both settle —
    * a half-landed side pair is safe because the fold's marker never
    * committed.
    */
  private def sideBySide(a: () => Unit, b: () => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(a())
    b()
    Await.result(fa, Duration.Inf)
  }

  /** One side's rows of the tagged union, reprojected to its own
    * columns: the join keys plus every column that is non-null anywhere
    * on this side is kept; columns that are entirely the OTHER side's
    * (all-null here) are dropped by name convention — side columns are
    * prefixed `a_`/`b_` (keys unprefixed). `extra` names shared
    * passthrough columns (the key bucket).
    */
  private def split(batch: DataFrame, sideCol: String, side: String,
      keys: Seq[String], extra: Seq[String] = Nil): DataFrame = {
    val own = batch.columns.filter(c =>
      keys.contains(c) || extra.contains(c) || c.startsWith(s"${side}_"))
    batch.filter(col(sideCol) === side)
      .select(own.map(col).toIndexedSeq: _*)
  }
}
