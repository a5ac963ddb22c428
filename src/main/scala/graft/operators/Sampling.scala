package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling and split assignment for training-data
  * curation: hash-based train/val/test splits (stable under re-runs,
  * re-partitioning, and incremental appends — the split of a document
  * depends only on its id) and per-group quota caps (e.g. "at most N
  * documents per source/domain").
  */
object Sampling {

  /** First md5 byte of the id as an int in [0, 256) — a portable,
    * engine-independent bucket (any SQL engine with md5() reproduces it),
    * unlike Spark-private hash families. One byte is plenty for split
    * assignment; use more hex chars for finer-grained fractions.
    */
  def md5Byte(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 2), 16, 10).cast("int")

  /** Assign 'train' / 'val' / 'test' by md5 bucket: [0, trainUpTo) →
    * train, [trainUpTo, valUpTo) → val, rest → test. Defaults ≈ 80/10/10.
    * Purely columnar — no shuffle, no state, no RNG; a document's split
    * never changes as the corpus grows.
    */
  def hashSplit(id: Column, trainUpTo: Int = 205, valUpTo: Int = 230): Column = {
    val b = md5Byte(id)
    when(b < trainUpTo, "train").when(b < valUpTo, "val").otherwise("test")
  }

  /** Deterministic Bernoulli sample at rate ≈ `keepNum`/`keepDen`: keep a
    * row iff the first 8 md5 hex chars of `salt|id` fall under the rate
    * threshold in [0, 2^32). Purely columnar (no shuffle, no RNG, no
    * driver round-trip), stable under re-partitioning and appends, and
    * portable — any engine with md5 reproduces the exact kept-set, so a
    * stratified sample (apply per stratum, or just sample the whole table
    * and group by the stratum column) is oracle-checkable row for row.
    * The salt decorrelates independent samples of the same table.
    */
  def bernoulliKeep(id: Column, keepNum: Long, keepDen: Long,
      salt: String = "s"): Column =
    conv(substring(md5(concat_ws("|", lit(salt), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") * keepDen < (1L << 32) * keepNum

  /** Keep at most `n` rows per group, chosen deterministically by
    * `orderCols`. One shuffle on the group key; the per-group sort is
    * window-local. (When n ≪ group size at extreme scale and the order
    * is one double and a BIGINT id, [[graft.plans.TopKPairs.perGroup]]
    * computes the same kept-set with only n rows per group reaching the
    * shuffle — this window form takes any order columns.)
    */
  def quotaPerGroup(df: DataFrame, groupCols: Seq[Column],
      orderCols: Seq[Column], n: Int): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(groupCols: _*).orderBy(orderCols: _*)))
      .filter(col("__rn") <= n)
      .drop("__rn")

  /** Priority sampling (Duffield–Lund–Thorup): a weight-proportional
    * sample of k rows without replacement — each row gets priority
    * q = w / u with u uniform in (0, 1], and the k highest priorities
    * win, so heavy rows are (near-)certainly kept and light rows keep a
    * w-proportional chance. The data-mixing primitive for
    * quality-weighted corpus selection.
    *
    * u derives from md5 (high 60 bits + 1, scaled by 2⁻⁶⁰): no RNG, so
    * the sample is stable under re-runs, re-partitioning, and appends of
    * OTHER rows — and every step (long→double cast, one division) is
    * IEEE-exact-rounded, so the priorities (and the kept set) are
    * bit-reproducible by any engine with md5. Returns the input columns
    * plus `priority`; ranking is a global top-k (TakeOrdered — per-
    * partition heaps then a k-row driver merge, never a full sort).
    */
  def prioritySample(df: DataFrame, weight: Column, k: Int,
      id: Column, salt: String = "p"): DataFrame = {
    val u = (conv(substring(md5(concat_ws("|", lit(salt), id.cast("string"))), 1, 15),
      16, 10).cast("long") + 1L).cast("double") / math.pow(2, 60)
    df.withColumn("priority", weight.cast("double") / u)
      .orderBy(col("priority").desc, id.asc)
      .limit(k)
  }

  /** Weight-proportional SYSTEMATIC sampling without randomness — the
    * data-mixing primitive "draw k examples proportional to token count":
    * lay every document's weight out on the integer line in id order
    * (cumulative weights via [[SequencePack.pack]]'s DISTRIBUTED prefix
    * sum — never a single-task global window), then take the k evenly
    * spaced selection points p_j = floor(j·W/k); a document is picked
    * once per point inside its [offset, offset+w) span. Exactly k picks
    * total, a document's pick count ∈ {floor, ceil} of its proportional
    * share (classic systematic sampling: zero variance beyond rounding),
    * every step integer arithmetic — deterministic, partitioning-
    * independent, and replayable by any SQL engine. Documents with more
    * than W/k weight are picked multiple times (`n_picks` > 1), which is
    * the correct with-multiplicity semantics for mixture construction.
    *
    * Picks per doc = #{j < k : offset ≤ p_j < offset+w}
    *              = min(k, ceil((offset+w)·k/W)) − min(k, ceil(offset·k/W)).
    */
  def systematicWeighted(df: DataFrame, idCol: String, wCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val laid = SequencePack.pack(df.select(col(idCol), col(wCol)),
        idCol, wCol, packSize = 1L)
      .select(col(idCol), col("n_tokens").as("__w"), col("offset"))
    // A zero/negative total is a caller error (k points can't be spread
    // over an empty weight line) — raised lazily per-row so the operator
    // stays a pure transform; an EMPTY input never evaluates the branch
    // and correctly yields an empty sample.
    val total = laid.agg(sum(col("__w")).cast("long").as("__t"))
      .select(when(col("__t") > 0, col("__t"))
        .otherwise(raise_error(lit(
          "systematicWeighted: total weight must be positive"))).as("__tot"))
    // Ceil on the integer lattice, in DECIMAL(38,0): `div`, not `/`,
    // because Spark's / on longs is DOUBLE division and a double ceil
    // drifts off the lattice when W·k nears 2^53 — and the product is
    // widened to decimal because a BIGINT `offset * k` silently WRAPS
    // (non-ANSI) once W·k ≥ 2^63, which the 100 TB regime reaches
    // (W ≈ 10^14 tokens × k in the hundreds of thousands). DECIMAL(38,0)
    // holds ~10^38; Spark's IntegralDivide on decimals returns BIGINT.
    def pointsBelow(c: String): String =
      s"least(CAST($k AS BIGINT), (CAST($c AS DECIMAL(38,0)) * $k + __tot - 1) div __tot)"
    laid.crossJoin(broadcast(total))
      .withColumn("__hi", col("offset") + col("__w"))
      .withColumn("n_picks",
        expr(s"${pointsBelow("__hi")} - ${pointsBelow("offset")}"))
      .filter(col("n_picks") > 0)
      .select(col(idCol), col("__w").as(wCol), col("n_picks"))
  }
}
