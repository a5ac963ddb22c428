package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.Pin
import graft.sources.TableStore

/** Streaming recommender-index maintenance: per-(item, item) basket
  * co-occurrence counts and per-item basket counts kept current from an
  * order stream — the always-fresh "also bought" index behind
  * `dm_item_cf_topk`, with state bounded by co-purchased item pairs,
  * not order volume.
  *
  * The merge law is SUM with a batch contract: a BASKET must arrive
  * whole inside one micro-batch (split the stream on the basket key —
  * the natural CDC/commit grain of an order feed), because a basket's
  * pairs are generated from its full item set. Under that contract both
  * statistics are linear: per-batch pair counts and item counts fold by
  * per-key SUM, and the merged store answers the EXACT one-shot cosine
  * top-k at any moment — `c35_stream_itemcf` certifies against VERBATIM
  * the one-shot oracle SQL.
  *
  * Crash discipline ([[Maintain.once]]): readers filter both stores to
  * `__applied <= committed`, so a crashed attempt's orphan partitions
  * are excluded until the retry replaces them.
  */
object StreamItemCf {

  /** Distinct (basket, item) incidence of one row set — dedup before
    * counting so a quantity-split order line never double-counts.
    */
  def basketIncidence(rows: DataFrame, basketCol: String,
      itemCol: String): DataFrame =
    basketIncidenceRaw(rows, basketCol, itemCol).distinct()

  /** The incidence WITHOUT the dedup exchange — for consumers whose own
    * aggregate is already set-semantied (basketPairCounts' collect_set
    * dedups per basket), feeding this saves a full exchange+agg pass.
    * Anything counting incidence ROWS (itemBasketCounts) still needs
    * [[basketIncidence]].
    */
  def basketIncidenceRaw(rows: DataFrame, basketCol: String,
      itemCol: String): DataFrame =
    rows.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .filter(col("basket").isNotNull && col("item").isNotNull)

  /** Per-(pa < pb) co-occurrence counts of a basket incidence — the
    * one-shuffle per-basket sorted-array pair generation (Σ basket²,
    * never items²), shared by the one-shot query and the fold.
    */
  def basketPairCounts(incidence: DataFrame): DataFrame =
    // pin the basket shuffle at spark.sql.shuffle.partitions: AQE sizes
    // its post-shuffle coalesce on the incidence BYTES, but the work
    // after the aggregate is the C(n,2) pair explosion (8x the rows at
    // sf0.1) — a 4-partition coalesce ran the explode+pair hash agg
    // nearly serial (Prof r20: 4 tasks, 147k rows in, 1.2M pair rows
    // out, 2.4s cpu at 0.9s wall). The explicit keyed repartition is
    // exactly the partitioning the groupBy would use without the
    // coalesce, so this only opts the fan-out stage out of a
    // bytes-blind shrink.
    incidence
      .repartition(
        incidence.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("basket"))
      .groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .filter(size(col("items")) > 1)
      .select(explode(
        graft.operators.Dedup.pairsFromSortedArray(col("items"))).as("pp"))
      .groupBy(col("pp.doc_a").as("pa"), col("pp.doc_b").as("pb"))
      .agg(count(lit(1)).cast(LongType).as("n_ab"))

  /** Per-item basket counts of a basket incidence. */
  def itemBasketCounts(incidence: DataFrame): DataFrame =
    incidence.groupBy(col("item"))
      .agg(count(lit(1)).cast(LongType).as("n_item"))

  /** The per-batch fold, run from a stream with [[Maintain]] (its
    * checkpoint keeps the batch ids the marker checks durable). Batch
    * columns are (basketCol, itemCol); baskets must arrive whole (see
    * object doc).
    */
  def applyBatch(store: TableStore, pairTable: String, itemTable: String,
      basketCol: String, itemCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, itemTable, batchId) { _ =>
      val inc = Pin(basketIncidence(batch, basketCol, itemCol))
      store.replacePartitions(pairTable,
        basketPairCounts(inc).withColumn("__applied", lit(batchId)),
        "__applied")
      store.replacePartitions(itemTable,
        itemBasketCounts(inc).withColumn("__applied", lit(batchId)),
        "__applied")
    }
  }

  /** Corpus pair counts from the store (orphan partitions of a crashed
    * attempt excluded by the committed batch id).
    */
  def mergedPairCounts(store: TableStore, pairTable: String,
      itemTable: String): DataFrame =
    store.read(pairTable)
      .filter(col("__applied") <= Maintain.committed(store, itemTable))
      .groupBy(col("pa"), col("pb"))
      .agg(sum(col("n_ab")).cast(LongType).as("n_ab"))

  /** Corpus per-item basket counts from the store. */
  def mergedItemCounts(store: TableStore, itemTable: String): DataFrame =
    store.read(itemTable)
      .filter(col("__applied") <= Maintain.committed(store, itemTable))
      .groupBy(col("item"))
      .agg(sum(col("n_item")).cast(LongType).as("n_item"))
}
