package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.TableStore

/** Streaming first-touch funnel maintenance: per-(user, stage)
  * FIRST-OCCURRENCE timestamps kept current from an event stream — the
  * product-analytics "signup → click → purchase, forever" readout with
  * state bounded by users × stages, not event volume.
  *
  * The merge law is MIN: a first-occurrence timestamp over a union of
  * batches is the min of per-batch minima (order-independent, monotone —
  * the timestamp twin of the HLL register MAX fold at
  * [[StreamSketch.applyDailyRegisters]]). So each micro-batch aggregates
  * ONLY its own rows to (user, stage, min ts) and appends them as one
  * `__applied`-keyed partition — O(batch's distinct user-stage pairs)
  * writes, history never rewritten — and [[mergedStageMins]]' per-key
  * MIN over partitions IS the corpus first-touch table. The funnel readout
  * (ordered-stage survivor counts) is a pure function of those minima,
  * so the maintained store answers the EXACT one-shot `events_funnel`
  * aggregate at any moment — the registered `c30_stream_funnel` readout
  * certifies against VERBATIM the one-shot oracle SQL.
  *
  * First-touch semantics: a user "converts" stage k when their FIRST
  * stage-k event falls strictly after their first stage-(k−1) event —
  * the standard first-occurrence funnel (identical to the one-shot
  * query's conditional-min formulation; an exists-ordered-subsequence
  * funnel is a different statistic and needs per-user event retention).
  *
  * Replay safety: the fold runs under [[Maintain.once]], and a replayed
  * partition replaces itself.
  */
object StreamFunnel {

  /** Per-(user, stage) first-occurrence timestamps of one row set —
    * shared by the batch fold and any one-shot consumer. NULL users and
    * stages group as their own keys (they must survive the fold: the
    * one-shot funnel counts a null-stage user in n_users).
    */
  def stageMins(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String): DataFrame =
    events.groupBy(col(userCol), col(typeCol))
      .agg(min(col(tsCol)).as("t_first"))

  /** The per-batch fold, run from a stream with [[Maintain]] (its
    * checkpoint keeps the batch ids the marker checks durable).
    */
  def applyStageMins(store: TableStore, table: String, userCol: String,
      typeCol: String, tsCol: String)(batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, table, batchId) { _ =>
      store.replacePartitions(table,
        stageMins(batch, userCol, typeCol, tsCol)
          .withColumn("__applied", lit(batchId)),
        "__applied")
    }
  }

  /** Corpus first-touch table from the store: per-(user, stage) MIN over
    * every applied batch partition (the min merge law).
    */
  def mergedStageMins(store: TableStore, table: String, userCol: String,
      typeCol: String): DataFrame =
    store.read(table)
      .groupBy(col(userCol), col(typeCol))
      .agg(min(col("t_first")).as("t_first"))

  /** The ordered-funnel readout over a (user, stage, t_first) frame —
    * the same conditional-min aggregate shape as the one-shot
    * `events_funnel`, consuming first-touch rows instead of raw events
    * (min-of-mins == min, so the two are equal by construction).
    */
  def funnelReadout(mins: DataFrame, userCol: String,
      typeCol: String): DataFrame =
    mins.groupBy(col(userCol))
      .agg(
        min(when(col(typeCol) === "signup", col("t_first"))).as("t_signup"),
        min(when(col(typeCol) === "click", col("t_first"))).as("t_click"),
        min(when(col(typeCol) === "purchase", col("t_first"))).as("t_purchase"))
      .agg(
        count(lit(1)).cast(LongType).as("n_users"),
        sum(when(col("t_signup").isNotNull, 1).otherwise(0)).cast(LongType)
          .as("n_signup"),
        sum(when(col("t_click") > col("t_signup"), 1).otherwise(0)).cast(LongType)
          .as("n_click_after"),
        sum(when(col("t_click") > col("t_signup") &&
          col("t_purchase") > col("t_click"), 1).otherwise(0)).cast(LongType)
          .as("n_full_funnel"))
}
