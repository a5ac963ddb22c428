package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.sources.{Staging, TableStore}

/** Stream → warehouse adapter (SURVEY.md §2.12): the reference's Load_id
  * batch protocol IS a micro-batch contract, so a stream feeds the exact
  * same staging path as a batch load — run from a stream with
  * [[Maintain]], every micro-batch becomes one lineage-stamped,
  * guard-checked Load_id batch, and any per-batch warehouse stage (dim
  * merge, fact append) runs behind it unchanged.
  */
object WarehouseSink {

  /** The per-batch fold: stage the batch into the raw staging table as
    * Load_id `batchId + 1`, then run `afterBatch(loadId)` (e.g. dim/fact
    * stages). The staging guard refuses a Load_id it already holds, so
    * the Load_id sequence — and with it [[Maintain]]'s checkpoint — must
    * survive a restart.
    */
  def applyBatch(store: TableStore, table: String,
      afterBatch: Int => Unit = _ => ())(
      batch: DataFrame, batchId: Long): Unit = {
    val loadId = batchId.toInt + 1
    Staging.stageAppend(store, table, batch, loadId)
    afterBatch(loadId)
  }
}
