package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{Pin, Sketches}
import graft.sources.TableStore

/** Streaming sketch maintenance: per-day distinct-user HyperLogLog
  * registers kept by Structured Streaming itself — the bounded-state
  * answer to "distinct users per day, forever, on an unbounded stream",
  * where exact streaming COUNT(DISTINCT) would grow state with the key
  * domain.
  *
  * The register transform is SHARED between batch and stream (same md5
  * hash family as [[graft.operators.Sketches.hllRegistersBy]], same
  * output — StreamingSpec pins stream == batch == the batch operator):
  * per-row register/rank computation is a stateless projection, and the
  * only stateful op is `max(rho)` grouped by (event-time day window,
  * register) — ≤ m rows of state per day, monotone (a register max never
  * retracts), so watermarked append/update sinks and the Complete-mode
  * test sink all agree. Late events beyond the watermark are dropped
  * exactly as the hourly rollup drops them.
  */
object StreamSketch {

  /** Shared batch/stream transform over the events shape: one row per
    * (day, register) with the register's max rank. `b` register-index
    * bits as in [[graft.operators.Sketches.hllRegistersBy]].
    */
  def dailyUserRegisters(events: DataFrame, b: Int = 4): DataFrame = {
    val m = 1L << b
    val wBits = 60 - b
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast(LongType)
    events
      .select(col("ts"), h.as("__h"))
      .select(col("ts"),
        pmod(col("__h"), lit(m)).cast(LongType).as("register"),
        expr(s"__h DIV $m").cast(LongType).as("__w"))
      .select(col("ts"), col("register"),
        when(col("__w") === 0, lit(wBits + 1))
          .otherwise(instr(lpad(bin(col("__w")), wBits, "0"), "1"))
          .cast(LongType).as("rho"))
      .groupBy(
        window(col("ts"), "1 day").getField("start").as("day"),
        col("register"))
      .agg(max(col("rho")).cast(LongType).as("m_rho"))
  }

  /** Watermarked streaming form: 2-hour lateness bound, state stays
    * ≤ m registers per open day window.
    */
  def streamingDailyRegisters(events: DataFrame, b: Int = 4): DataFrame =
    dailyUserRegisters(events.withWatermark("ts", "2 hours"), b)

  /** Persisted-store fold of [[dailyUserRegisters]] — the maintained-state
    * form of the per-day HLL: each micro-batch computes registers over ITS
    * rows only and appends them as one `__applied`-keyed partition;
    * [[mergedDailyRegisters]] reads the per-(day, register) MAX over
    * partitions, which IS the corpus register (rho maxima are monotone
    * and order-independent, the HLL merge law). Write volume per batch is
    * O(days-in-batch × m), history never rewritten. Replay-safe under
    * [[Maintain.once]]: a replayed partition replaces itself.
    */
  def applyDailyRegisters(store: TableStore, table: String, b: Int = 4)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, table, batchId) { _ =>
      store.replacePartitions(table,
        dailyUserRegisters(batch, b).withColumn("__applied", lit(batchId)),
        "__applied")
    }
  }

  /** Corpus registers from the store: per-(day, register) max over every
    * applied batch partition — equal to [[dailyUserRegisters]] over the
    * concatenated batches (register maxima merge by max).
    */
  def mergedDailyRegisters(store: TableStore, table: String): DataFrame =
    store.read(table)
      .groupBy(col("day"), col("register"))
      .agg(max(col("m_rho")).cast(LongType).as("m_rho"))

  /** The per-batch heavy-hitter fold, run from a stream with
    * [[Maintain]]: maintains corpus-lifetime heavy hitters — a Count–Min
    * increment log plus a k-row candidate table — the CMS+heap frequent-
    * items algorithm (Cormode & Muthukrishnan 2005) folded per micro-
    * batch instead of per item. "Top pages all time" on an unbounded
    * stream needs state bounded by the sketch, not the key domain —
    * exact streaming counts grow state per distinct key forever; the
    * windowed rollups ([[EventStream]]) bound state by time, this
    * bounds it by accuracy.
    *
    * Each fold: sketch ONLY the batch's rows ([[Sketches.countMin]],
    * same portable md5 bucket family as the batch `vocab_cms` query) and
    * append them as one `__applied`-keyed partition of the increment log
    * — CMS is linear, so the per-(r, bucket) SUM over partitions IS the
    * corpus sketch, write volume O(depth×width) per batch, history never
    * rewritten. Candidates: the stored k survivors ∪ the batch's
    * distinct keys, re-estimated against the FOLDED sketch, top k kept
    * (ties broken by key — deterministic). A key's estimate only grows,
    * and it is reconsidered at every arrival with its full-history
    * estimate, so a true heavy hitter is in the table after its last
    * arrival unless ≥ k keys out-estimate it — the standard CMS
    * guarantee (overestimate ≤ εN with prob 1−δ for width e/ε, depth
    * ln 1/δ).
    *
    * Replay safety ([[Maintain.once]]): the refold reads the sketch up to
    * the committed batch id only, and the candidate table is idempotent
    * by reconstruction (deterministic from the pre-fold sketch + batch).
    */
  def applyHeavyHitters(store: TableStore, cmsTable: String, topTable: String,
      keyCol: String, k: Int, depth: Int, width: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, cmsTable, batchId) { committed =>
      val batchCms = Pin(Sketches.countMin(batch.select(col(keyCol)), keyCol,
        depth, width))
      val folded = Maintain.history(store, cmsTable, committed, batchCms)
        .unionByName(batchCms)
        .groupBy(col("r"), col("bucket"))
        .agg(sum(col("n")).cast(LongType).as("n"))
      val pool = (
        if (store.exists(topTable))
          store.read(topTable).select(col(keyCol))
        else batch.select(col(keyCol)).limit(0))
        .unionByName(batch.select(col(keyCol)))
        .distinct()
      val top = Sketches.cmsEstimate(folded, pool, keyCol, depth, width)
        .orderBy(col("cms_n").desc, col(keyCol))
        .limit(k)
      store.overwrite(topTable, top)
      store.replacePartitions(cmsTable,
        batchCms.withColumn("__applied", lit(batchId)), "__applied")
    }
  }

  /** The per-batch KMV fold, run from a stream with [[Maintain]]:
    * maintains per-group KMV (k-minimum-values) distinct sketches — the
    * bounded-state answer to "distinct keys per group,
    * forever" when the HLL's register form isn't wanted because the
    * sketch must also answer SET-OVERLAP questions later (KMV bottom-k
    * values support union/intersection/Jaccard estimation, registers
    * don't — see `sketch_kmv_overlap`).
    *
    * The fold rests on the bottom-k merge law: the k smallest distinct
    * values of a union equal the k smallest of the union of each side's
    * bottom-k (any value in bottomK(A∪B) is ≤ A's k-th minimum, hence
    * inside bottomK(A), or likewise inside bottomK(B)). So each
    * micro-batch sketches ONLY its own rows through the native
    * duplicate-aware bounded-TreeSet aggregate
    * ([[graft.plans.KmvSketch]] — ≤ k values per map partition reach the
    * shuffle) and appends ≤ groups×k rows as one `__applied`-keyed
    * partition; [[mergedKmvSketch]] re-sketches the stored rows, which
    * IS the corpus bottom-k. Write volume per batch is O(groups×k),
    * history never rewritten. Replay-safe the [[applyDailyRegisters]] way.
    */
  def applyKmvSketch(store: TableStore, table: String, grpCol: String,
      hashCol: String, k: Int)(batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, table, batchId) { _ =>
      val sk = batch
        .groupBy(col(grpCol))
        .agg(call_function("kmv_sketch", col(hashCol), lit(k)).as("sk"))
        .select(col(grpCol), explode(col("sk")).as(hashCol))
      store.replacePartitions(table,
        sk.withColumn("__applied", lit(batchId)), "__applied")
    }
  }

  /** Maintain a streaming MODEL-QUALITY monitor: per-score two-class
    * counts — the mergeable sufficient statistic of ranking AUC
    * ([[graft.operators.Stats.scoreClassCounts]]) — folded per
    * micro-batch. "Is the quality scorer still separating classes, over
    * all data ever seen" needs state bounded by the score domain, not
    * the row count: counts are LINEAR, so each batch appends only ITS
    * per-score (ca, cb) rows as one `__applied`-keyed partition and the
    * per-score SUM over partitions IS the corpus frame —
    * [[graft.operators.Stats.aucFromCounts]] (or a KS readout; same
    * statistic family) runs over the fold at any moment. Write volume
    * per batch is O(batch's distinct scores). Replay-safe the
    * [[applyDailyRegisters]] way.
    */
  def applyScoreCounts(store: TableStore, table: String, scoreCol: String,
      labelCol: String, xType: String = "decimal(18,4)")(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, table, batchId) { _ =>
      store.replacePartitions(table,
        graft.operators.Stats.scoreClassCounts(batch, col(scoreCol),
          col(labelCol), xType).withColumn("__applied", lit(batchId)),
        "__applied")
    }
  }

  /** Streaming feed-shift monitoring: each micro-batch aggregates ONLY
    * its own rows to per-distinct-time counts ([[graft.operators.Stats
    * .perTimeCounts]] — the SUM-mergeable statistic behind the CUSUM
    * changepoint) and appends them as one `__applied`-keyed partition;
    * writes are bounded by the batch's distinct time buckets.
    * [[mergedTimeCounts]]' per-time SUM feeds [[graft.operators.Stats
    * .cusumFromCounts]], so the maintained store answers the EXACT
    * one-shot `events_changepoint` at any moment.
    *
    * Replay safety: the fold runs under [[Maintain.once]]; a replayed
    * batch replaces itself.
    */
  def applyTimeCounts(store: TableStore, table: String, timeCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, table, batchId) { _ =>
      store.replacePartitions(table,
        graft.operators.Stats.perTimeCounts(batch, col(timeCol))
          .withColumn("__applied", lit(batchId)),
        "__applied")
    }
  }

  /** Corpus per-time counts from the store: per-time SUM over every
    * applied batch partition (count linearity).
    */
  def mergedTimeCounts(store: TableStore, table: String): DataFrame =
    store.read(table)
      .groupBy(col("__x"))
      .agg(sum(col("n")).cast(LongType).as("n"))

  /** Streaming calibration maintenance: each micro-batch aggregates
    * ONLY its own rows to the per-decile bin triples
    * ([[graft.operators.Stats.calibrationBins]] — counts, positives,
    * and the 10¹²-scaled probability lattice, all SUM-mergeable) and
    * appends them as one `__applied`-keyed partition; ≤ 11 rows per
    * batch ever land. [[mergedCalibBins]]' per-bucket SUM is the corpus
    * statistic, so the maintained store answers the EXACT one-shot
    * `ml_calibration` readout at any moment.
    *
    * Replay safety: the fold runs under [[Maintain.once]]; a replayed
    * batch replaces itself.
    */
  def applyCalibBins(store: TableStore, table: String, nCol: String,
      labelCol: String, prior: Int = 500)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, table, batchId) { _ =>
      store.replacePartitions(table,
        graft.operators.Stats.calibrationBins(batch, col(nCol),
          col(labelCol), prior).withColumn("__applied", lit(batchId)),
        "__applied")
    }
  }

  /** Corpus calibration bins from the store: per-bucket SUM of the
    * three mergeable statistics over every applied batch partition.
    */
  def mergedCalibBins(store: TableStore, table: String): DataFrame =
    store.read(table)
      .groupBy(col("bucket"))
      .agg(sum(col("n")).cast(LongType).as("n"),
        sum(col("n_pos")).cast(LongType).as("n_pos"),
        sum(col("ssum")).cast("decimal(38,0)").as("ssum"))

  /** Corpus per-score counts from the store: per-score SUM over every
    * applied batch partition (count linearity).
    */
  def mergedScoreCounts(store: TableStore, table: String): DataFrame =
    store.read(table)
      .groupBy(col("__x"))
      .agg(sum(col("ca")).cast(LongType).as("ca"),
        sum(col("cb")).cast(LongType).as("cb"))

  /** Corpus per-group sketches from the store: re-sketching the stored
    * per-batch bottom-k rows equals sketching the concatenated batches
    * (the bottom-k merge law above; the aggregate is duplicate-aware, so
    * values seen by several batches collapse). One row per group with
    * the ascending bottom-k value array.
    */
  def mergedKmvSketch(store: TableStore, table: String, grpCol: String,
      hashCol: String, k: Int): DataFrame =
    store.read(table)
      .groupBy(col(grpCol))
      .agg(call_function("kmv_sketch", col(hashCol), lit(k)).as("sk"))
}
