package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Token-budget sequence packing — the training-batch construction step:
  * document token streams are concatenated in a deterministic order
  * (the id ordering) and cut into fixed packs of `packSize` tokens, the
  * way packed-sequence datasets are built for LLM training. Each document
  * reports its global token offset and the packs it spans; [[manifest]]
  * inverts that into the per-pack view a data loader reads.
  *
  * Scale shape: the global running offset is a DISTRIBUTED prefix sum —
  * a range shuffle on the order key, a per-partition subtotal pass whose
  * result is one row PER PARTITION (the only driver-side materialization,
  * bounded by the partition count, never the corpus), then per-partition
  * windows running in parallel with the broadcast partition offsets. A
  * naive `sum().over(Window.orderBy(id))` would move the entire corpus
  * through ONE task; this never creates a single-task stage.
  *
  * The result is partitioning-independent: subtotals depend on where the
  * range shuffle cuts, but the reassembled global offsets do not.
  */
object SequencePack {

  /** (id, n_tokens, offset, start_pack, end_pack) for every document,
    * offsets contiguous in id order, packs of exactly `packSize` tokens
    * (documents straddle pack boundaries; a 0-token row spans none and
    * reports start_pack = end_pack at its offset).
    */
  def pack(docs: DataFrame, idCol: String, nTokensCol: String,
      packSize: Long): DataFrame = {
    require(packSize > 0, s"packSize must be positive, got $packSize")
    val spark = docs.sparkSession
    // materialize the ranged layout ONCE: the subtotal pass and the final
    // join must see the SAME pid <-> rows mapping, and two independent
    // executions of a range shuffle are only as consistent as the range
    // sampler — localCheckpoint removes the assumption entirely (the
    // pinned data is just the two narrow columns, not the documents)
    val base = Pin(docs
      .select(col(idCol), col(nTokensCol).cast(LongType).as("n_tokens"))
      .repartitionByRange(col(idCol))
      .withColumn("pid", spark_partition_id()))
    // one row per partition: (pid, partition token subtotal)
    val subtotals = base.groupBy(col("pid"))
      .agg(sum(col("n_tokens")).as("t"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    // running prefix over the (tiny) subtotal list -> partition offsets
    import spark.implicits._
    val offsetDf = subtotals
      .scanLeft((0, 0L, 0L)) { case ((_, acc, _), (pid, t)) => (pid, acc + t, acc) }
      .drop(1)
      .map { case (pid, _, prefix) => (pid, prefix) }
      .toSeq.toDF("pid", "pid_offset")
    // duplicate order keys would give peer rows the SAME cumulative sum
    // (and a range shuffle may split equal keys across partitions) —
    // silently corrupting offsets; the check is one aggregate over the
    // already-checkpointed two-column layout
    require(base.select(col(idCol)).distinct().count() == base.count(),
      s"pack() requires unique $idCol values — the token stream order is undefined under duplicates")
    // per-partition cumsum in parallel; global offset = partition prefix +
    // local prefix − own tokens (offset points at the doc's first token).
    // ROWS frame (not the default RANGE): each row's prefix is strictly
    // its predecessors', independent of peer grouping.
    val w = Window.partitionBy(col("pid")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .join(broadcast(offsetDf), Seq("pid"))
      .withColumn("offset",
        col("pid_offset") + sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(
        col(idCol),
        col("n_tokens"),
        col("offset"),
        floor(col("offset") / packSize).cast(LongType).as("start_pack"),
        when(col("n_tokens") === 0, floor(col("offset") / packSize))
          .otherwise(floor((col("offset") + col("n_tokens") - 1) / packSize))
          .cast(LongType).as("end_pack"))
  }

  /** The per-pack manifest a loader consumes: for each pack, how many
    * documents contribute and how many of its `packSize` slots they fill
    * (every pack but the last is exactly full). One explode of the
    * (small) per-doc span plus one aggregate on the pack id; a document's
    * contribution to pack p is the overlap of [offset, offset+n) with
    * [p·C, (p+1)·C).
    */
  def manifest(packed: DataFrame, packSize: Long): DataFrame =
    packed
      .filter(col("n_tokens") > 0)
      .select(col("offset"), col("n_tokens"),
        explode(sequence(col("start_pack"), col("end_pack"))).as("pack"))
      .select(col("pack"),
        (least(col("offset") + col("n_tokens"), (col("pack") + 1) * packSize) -
          greatest(col("offset"), col("pack") * packSize)).as("tokens_in_pack"))
      .groupBy(col("pack"))
      .agg(
        count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("tokens_in_pack")).cast(LongType).as("n_tokens"))
}
