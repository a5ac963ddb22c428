package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.Surrogates

/** Grouped ordinary-least-squares regression and Pearson correlation with
  * ENGINE-EXACT arithmetic: the five sufficient statistics
  * (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in integer/DECIMAL space —
  * order-independent, shuffle-safe — and the closed-form slope /
  * intercept / r are derived by a fixed sequence of IEEE double ops at
  * the very end. Two engines that aggregate in double disagree in the
  * last bits depending on partitioning (float addition isn't
  * associative); this formulation makes the result reproducible bit for
  * bit — the same trick as [[graft.functions.Cleaning.dsum]], extended
  * to second moments.
  *
  * Scale shape: one hash aggregate per grouping (partial map-side
  * combine, six narrow agg buffers per group) — a regression over a
  * 100 TB fact costs exactly one shuffle of group-count rows. No window,
  * no collect, no second pass.
  *
  * Bounds: x must fit a BIGINT; y is cast to `yType` (default
  * DECIMAL(18,4)). For results that must be REPRODUCIBLE ACROSS ENGINES
  * (not just across partitionings), choose the y unit so every
  * sufficient statistic stays under 2^53: some engines convert wide
  * decimals to double by converting the unscaled integer first and
  * multiplying by 10^-scale — two roundings, off by an ulp from the
  * correctly-rounded cast — but a statistic that is an exactly-
  * representable double converts identically everywhere. A scale-0 y in
  * a coarse unit (whole dollars for monthly revenue) keeps Σy² exact
  * through double space; the noise this ignores is far below what a
  * double could carry anyway.
  */
object Stats {

  /** Per-group sufficient statistics: (keys*, n, sx, sy, sxy, sxx, syy)
    * with sums exact (BIGINT / DECIMAL). `x`: integral column; `y`: any
    * numeric (cast to `yType` at the row level).
    */
  def sufficientStats(df: DataFrame, keys: Seq[String], x: Column,
      y: Column, yType: String = "decimal(18,4)"): DataFrame = {
    val xd = x.cast("long")
    val yd = y.cast(yType)
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(xd).cast("long").as("sx"),
        sum(yd).as("sy"),
        sum(xd * yd).as("sxy"),
        sum(xd * xd).cast("long").as("sxx"),
        sum(yd * yd).as("syy"))
  }

  /** OLS fit per group: (keys*, n, slope, intercept, r).
    *
    * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), intercept = ȳ − slope·x̄,
    * r = cov / (σx·σy) — each computed double-from-exact. Degenerate
    * groups (a single point, or zero variance in either axis) yield NULL
    * slope/intercept/r rather than ±Inf/NaN, so downstream filters
    * behave.
    */
  def regressionBy(df: DataFrame, keys: Seq[String], x: Column,
      y: Column, yType: String = "decimal(18,4)"): DataFrame = {
    val st = sufficientStats(df, keys, x, y, yType)
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val sxyD = col("sxy").cast("double")
    val sxxD = col("sxx").cast("double")
    val syyD = col("syy").cast("double")
    val covN = nD * sxyD - sxD * syD    // n² × covariance
    val varXN = nD * sxxD - sxD * sxD   // n² × variance(x)
    val varYN = nD * syyD - syD * syD
    val slope = when(varXN > 0, covN / varXN)
    val r = when(varXN > 0 && varYN > 0, covN / (sqrt(varXN) * sqrt(varYN)))
    st.select(
      keys.map(col) :+ col("n") :+
        slope.as("slope") :+
        when(varXN > 0, (syD - (covN / varXN) * sxD) / nD).as("intercept") :+
        r.as("r"): _*)
  }

  /** EXACT quantiles (percentile_disc semantics: the data value at rank
    * ⌈q·n⌉, rank 1 for q→0) at distributed scale: global ranks come from
    * [[Surrogates.assignScalable]] — a RANGE shuffle plus per-partition
    * indexing — never the single-task `row_number().over(Window.orderBy)`
    * that serializes the whole table through one executor. Equal values
    * share arbitrary ranks, but the VALUE at any fixed rank is unique, so
    * the result is deterministic without a tiebreaker.
    *
    * Cost: one count job for `n`, one ranked pass, a broadcast join of
    * the |qs|-row rank table. Returns (q DOUBLE, value) one row per
    * requested quantile. Exact — where a sketch (approx_percentile)
    * trades rank error for one fewer pass; under a bit-compare gate or a
    * contractual SLA ("p99 latency"), exact is the one you can certify.
    */
  /** Per-group σ-threshold outliers decided ENTIRELY in integer
    * arithmetic: |x − μ| > (num/den)·σ is equivalent to
    *
    *   den² · (n·x − S)²  >  num² · (n·Q − S²)
    *
    * with S = Σx, Q = Σx² — no mean, no variance, no sqrt, no doubles
    * anywhere, so the flagged set is reproducible bit for bit across
    * engines and partitionings (a double formulation can flip rows that
    * sit exactly on the threshold). One hash aggregate for the per-group
    * (n, S, Q) plus one equi-join back — the same two-pass shape as the
    * quantile quality cut.
    *
    * Bounds: exact while n²·max(x)² fits a signed 64-bit long (e.g.
    * 10⁶ rows/group × values ≤ 10³). Past that, cast the three
    * statistics to DECIMAL(38,0) — same plan, wider buffers.
    *
    * Returns the input rows with (grp_n, grp_sum, grp_sumsq) appended —
    * callers project; μ and σ are derivable downstream without another
    * pass.
    */
  def integerOutliers(df: DataFrame, keys: Seq[String], x: Column,
      num: Int, den: Int): DataFrame = {
    require(num >= 1 && den >= 1, s"threshold must be positive, got $num/$den")
    val xd = x.cast("long")
    val g = df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).cast("long").as("grp_n"),
      sum(xd).as("grp_sum"),
      sum(xd * xd).as("grp_sumsq"))
    val dev = col("grp_n") * xd - col("grp_sum")
    df.join(g, keys)
      .filter(lit(den.toLong * den) * dev * dev >
        lit(num.toLong * num) *
          (col("grp_n") * col("grp_sumsq") - col("grp_sum") * col("grp_sum")))
  }

  /** Equi-width histogram of a numeric column: (bucket, bucket_lo, n).
    * Two aggregates — one 1-row min/max frame broadcast back (the only
    * cross join, bounded by design), then a map-side bucket assignment
    * and one hash aggregate. Bucketing arithmetic is a fixed sequence of
    * IEEE double ops ((x−lo)/w, floor, clamp), so bucket membership is
    * reproducible across engines; a degenerate column (min = max) lands
    * everything in bucket 0 rather than dividing by zero.
    */
  def equiWidthHistogram(df: DataFrame, value: Column,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"need at least one bucket, got $nBuckets")
    val mm = df.agg(min(value).cast("double").as("lo"),
      max(value).cast("double").as("hi"))
    val w = (col("hi") - col("lo")) / nBuckets
    val bucket = when(col("hi") > col("lo"),
      least(lit(nBuckets - 1),
        floor((value.cast("double") - col("lo")) / w).cast("int")))
      .otherwise(0)
    df.crossJoin(broadcast(mm))
      .groupBy(bucket.as("bucket"), (col("lo") + bucket * w).as("bucket_lo"))
      .agg(count(lit(1)).cast("long").as("n"))
  }

  /** Benford first-digit audit of a positive money column — the fraud /
    * data-fabrication screen: natural multi-scale amounts follow
    * P(d) = log10(1 + 1/d); synthetic or truncated feeds don't. The
    * digit is extracted WITHOUT floating log arithmetic: amounts become
    * exact integer cents (round in DECIMAL space — half-away-from-zero
    * in both engines), and the leading digit is the first character of
    * the integer's decimal string — integer→string is exact everywhere,
    * where floor(x/10^floor(log10 x)) would hang reproducibility on two
    * libm calls. One hash aggregate (9 groups) plus a 1-row total join;
    * the expected shares are compile-time literals.
    *
    * Returns (digit, n, share, expected, abs_dev) for digits present.
    */
  def benfordAudit(df: DataFrame, amount: Column): DataFrame = {
    // log10(1 + 1/d), d = 1..9 — literals, no runtime libm
    val benford = Array(
      0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
      0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
    val cents = round(amount.cast("decimal(18,4)") * 100, 0).cast(LongType)
    val g = df.filter(amount > 0)
      .select(substring(cents.cast("string"), 1, 1).cast(LongType).as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).cast(LongType).as("n"))
    val t = g.agg(sum(col("n")).cast(LongType).as("total"))
    val share = col("n").cast("double") / col("total").cast("double")
    val expected = element_at(typedLit(benford), col("digit").cast("int"))
    g.crossJoin(broadcast(t))
      .select(col("digit"), col("n"), share.as("share"),
        expected.as("expected"), abs(share - expected).as("abs_dev"))
  }

  /** Two-sample distribution-DRIFT detector: did `value`'s distribution
    * change between the first and second half of the time range? The
    * production gate before a model retrain ("is this week's feed still
    * last week's distribution?"). Rows split into early/late at the
    * integer-exact midpoint of the observed span (2·t < t₀ + t₁ in
    * microseconds — no float time math), bin into `nBins` equi-width
    * buckets over the GLOBAL min/max, and each bin contributes the
    * standard chi-square term Σ (obs − exp)²/exp over the two period
    * cells, exp = row·col/total. Counts are exact BIGINTs; each term is
    * one pinned double expression replayed token-for-token by the
    * oracle. Compare Σ chi2_term against the χ²(nBins−1) critical value
    * downstream.
    *
    * Cost: one 1-row bounds aggregate broadcast back, one map-side
    * bin+period assignment, one nBins-row hash aggregate. Scale-
    * independent output.
    */
  def driftChi2(df: DataFrame, value: Column, ts: Column,
      nBins: Int): DataFrame = {
    require(nBins >= 2, s"need at least two bins, got $nBins")
    val mm = df.agg(
      min(value).cast("double").as("lo"), max(value).cast("double").as("hi"),
      min(unix_micros(ts)).as("t0"), max(unix_micros(ts)).as("t1"))
    val w = (col("hi") - col("lo")) / nBins
    val bin = when(col("hi") > col("lo"),
      least(lit(nBins - 1),
        floor((value.cast("double") - col("lo")) / w).cast("int")))
      .otherwise(0)
    val early = unix_micros(ts) * 2 < col("t0") + col("t1")
    val g = df.crossJoin(broadcast(mm))
      .groupBy(bin.cast(LongType).as("bin"))
      .agg(
        sum(when(early, 1).otherwise(0)).cast(LongType).as("n_early"),
        sum(when(early, 0).otherwise(1)).cast(LongType).as("n_late"))
    val t = g.agg(
      sum(col("n_early")).cast(LongType).as("tot_early"),
      sum(col("n_late")).cast(LongType).as("tot_late"))
    val totD = (col("tot_early") + col("tot_late")).cast("double")
    val rowD = (col("n_early") + col("n_late")).cast("double")
    val eE = rowD * col("tot_early").cast("double") / totD
    val eL = rowD * col("tot_late").cast("double") / totD
    val dE = col("n_early").cast("double") - eE
    val dL = col("n_late").cast("double") - eL
    // Degenerate split (every row lands in one period — e.g. all
    // timestamps equal makes tot_early = 0) would divide by a zero
    // expected count and poison the downstream Σ chi2 with NaN/Infinity;
    // guard to NULL like the other Stats readouts.
    g.crossJoin(broadcast(t))
      .select(col("bin"), col("n_early"), col("n_late"),
        when(col("tot_early") > 0 && col("tot_late") > 0,
          dE * dE / eE + dL * dL / eL).as("chi2_term"))
  }

  /** LEAVE-ONE-OUT target encoding — the categorical featurizer that
    * replaces a category with the target mean of its OTHER members
    * (including the row itself leaks the label; the LOO form is the
    * standard fix). enc = (S_cat − y) / (n_cat − 1), with S_cat an exact
    * DECIMAL sum, so the encoding is one pinned double division from
    * exact components — engine-reproducible, unlike a mean of doubles.
    * Singleton categories encode NULL (no other members to borrow from).
    *
    * Cost: one category-cardinality aggregate joined back — AQE
    * broadcasts it when small; at 100 TB this is a map-side transform
    * after one tiny-dim shuffle. Appends `encCol` to the input rows.
    */
  def targetEncodeLoo(df: DataFrame, catCol: String, target: Column,
      encCol: String, yType: String = "decimal(18,4)"): DataFrame = {
    val g = df.groupBy(col(catCol)).agg(
      count(lit(1)).cast(LongType).as("__n"),
      sum(target.cast(yType)).as("__s"))
    df.join(g, Seq(catCol))
      .withColumn(encCol,
        when(col("__n") > 1,
          (col("__s") - target.cast(yType)).cast("double") /
            (col("__n") - 1).cast("double")))
      .drop("__n", "__s")
  }

  /** One-way ANOVA F-statistic across the groups of `keyCol` — "does the
    * target differ between segments more than within them?", the
    * screening test before trusting a categorical feature. Works on an
    * INTEGER-VALUED target (pass the value pre-rounded to a coarse unit;
    * integer sums keep every sufficient statistic exact). The
    * between-group term Σ S_g²/n_g uses truncating integer division —
    * a fixed-point convention both engines replay bit-for-bit, off from
    * the real-valued F by at most (#groups) target-units² — and the
    * final F is one pinned double expression. Bound: max |S_g|² must fit
    * 2⁶³ (coarsen the unit as the corpus grows).
    *
    * Returns one row: (k, n_tot, f_stat). Degenerate inputs (one group,
    * or zero within-group variance) yield NULL f_stat.
    */
  def anovaF(df: DataFrame, keyCol: String, intTarget: Column): DataFrame = {
    val v = intTarget.cast(LongType)
    val x = df.select(col(keyCol).as("__k"), v.as("__v"))
    val g = x.groupBy(col("__k")).agg(
      count(lit(1)).cast(LongType).as("n"),
      sum(col("__v")).cast(LongType).as("s"))
    val gg = g.agg(
      count(lit(1)).cast(LongType).as("k"),
      sum(col("n")).cast(LongType).as("n_tot"),
      sum(col("s")).cast(LongType).as("s_tot"),
      sum(expr("(s * s) div n")).cast(LongType).as("ssb_part"))
    val q = x.agg(sum(col("__v") * col("__v")).cast(LongType).as("q_tot"))
    val ssb = col("ssb_part").cast("double") -
      col("s_tot").cast("double") * col("s_tot").cast("double") /
        col("n_tot").cast("double")
    val ssw = col("q_tot").cast("double") - col("ssb_part").cast("double")
    gg.crossJoin(broadcast(q))
      .select(col("k"), col("n_tot"),
        when(col("k") > 1 && ssw > 0,
          ssb / (col("k") - 1).cast("double") /
            (ssw / (col("n_tot") - col("k")).cast("double"))).as("f_stat"))
  }

  /** Gini concentration coefficient of a non-negative amount — the
    * inequality profile ("do 1% of customers carry 50% of revenue?")
    * computed at distributed scale: global value ranks come from
    * [[Surrogates.assignScalable]]'s RANGE shuffle (never a single-task
    * global window), Σ rank·x accumulates in DECIMAL (exact — rank·x is
    * invariant under permuting tied values, so arbitrary tie ranks don't
    * change the sum), and gini = 2·Σrx/(n·Σx) − (n+1)/n is one pinned
    * double sequence. Returns one row: (n, total, gini).
    */
  def gini(df: DataFrame, amount: Column,
      xType: String = "decimal(18,4)"): DataFrame = {
    val ranked = Surrogates.assignScalable(
      df.select(amount.cast(xType).as("__x")), "__rank", Seq(col("__x")))
    val a = ranked.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum(col("__x")).as("sx"),
      sum(col("__rank").cast("decimal(18,0)") * col("__x")).as("srx"))
    a.select(
      col("n"),
      col("sx").cast("double").as("total"),
      (lit(2).cast("double") * col("srx").cast("double") /
        (col("n").cast("double") * col("sx").cast("double")) -
        (col("n").cast("double") + lit(1).cast("double")) /
          col("n").cast("double")).as("gini"))
  }

  /** Cramér's V association between two categorical columns — "are
    * these two labels related at all" (the categorical analogue of a
    * correlation coefficient, 0 = independent, 1 = determined), the
    * audit that catches a leaking feature or a redundant dimension
    * before training. χ² comes off the contingency table in an EXACT
    * integer lattice: each cell's term is the rational identity
    * (n_ij·N − r_i·c_j)² / (N·r_i·c_j) scaled by 1e9 and truncated —
    * integer arithmetic end to end (DECIMAL(38,0); headroom holds to
    * N ≈ 2e12 — past that, emit per-cell terms the [[driftChi2]] way) —
    * so the sum is order-independent and engine-exact; χ² and
    * V = √(χ²/(N·min(r−1,c−1))) are two pinned double ops at the edge
    * (IEEE sqrt is correctly rounded everywhere). Degenerate axes
    * (a single category → 0 degrees of freedom) emit NULL v.
    *
    * Scale shape: one grouped count to cells (≤ r·c rows), two
    * cell-frame rollups for the margins, a 1-row broadcast total —
    * the raw table is scanned once. Returns one row
    * (n, df_min, chi2, v).
    */
  def cramersV(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df
      .filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(aCol.as("__a"), bCol.as("__b"))
      .agg(count(lit(1)).cast(LongType).as("n"))
    val ra = cells.groupBy(col("__a")).agg(sum(col("n")).cast(LongType).as("ra"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("n")).cast(LongType).as("cb"))
    val tot = cells.agg(
      sum(col("n")).cast(LongType).as("nn"),
      countDistinct(col("__a")).cast(LongType).as("nr"),
      countDistinct(col("__b")).cast(LongType).as("nc"))
    // zero cells of the full r×c table still carry χ² mass (their term
    // is the expected count itself): Σ_zero r·c/N = (N² − Σ_observed r·c)/N
    // — derived from the observed cells alone, no dense table needed
    cells.join(ra, Seq("__a")).join(cb, Seq("__b"))
      .crossJoin(broadcast(tot))
      .agg(
        // each term re-cast to decimal BEFORE the sum: `div` emits
        // BIGINT and a Long sum would wrap ~200× below the documented
        // N ≈ 2e12 headroom
        sum(expr(
          """CAST(((CAST(n AS DECIMAL(38,0)) * nn - CAST(ra AS DECIMAL(38,0)) * cb)
            | * (CAST(n AS DECIMAL(38,0)) * nn - CAST(ra AS DECIMAL(38,0)) * cb)
            | * 1000000000)
            | div (CAST(nn AS DECIMAL(38,0)) * ra * cb) AS DECIMAL(38,0))""".stripMargin
          .replaceAll("\n\\s*", " ")))
          .cast("decimal(38,0)").as("obs"),
        sum(expr("CAST(ra AS DECIMAL(38,0)) * cb")).cast("decimal(38,0)").as("src"),
        max(col("nn")).as("n"),
        max(least(col("nr"), col("nc")) - 1).as("df_min"))
      .select(col("n"), col("df_min"),
        (col("obs") + expr(
          """((CAST(n AS DECIMAL(38,0)) * n - src) * 1000000000)
            | div CAST(n AS DECIMAL(38,0))""".stripMargin
          .replaceAll("\n\\s*", " "))).as("chi2s"))
      .select(col("n"), col("df_min"),
        (col("chi2s").cast("double") / lit(1000000000.0)).as("chi2"),
        when(col("df_min") > 0,
          sqrt((col("chi2s").cast("double") / lit(1000000000.0)) /
            (col("n").cast("double") * col("df_min").cast("double"))))
          .as("v"))
  }

  /** Distributed prefix sums over distinct-value rows (__x, ca, cb):
    * range-partition by __x, per-range subtotals become exclusive
    * prefixes via a bounded nRanges-row window, then partition-local
    * cumulative windows — the two-pass sweep (same machinery as
    * [[graft.operators.Skyline]]'s running max) shared by
    * [[ksTwoSample]] and [[aucExact]]; no single task ever holds more
    * than its value range. Returns (__x, ca, cb, cuma, cumb) with cum*
    * INCLUSIVE of the row.
    */
  private def cumCounts(per: DataFrame, nRanges: Int): DataFrame = {
    // pin the range partitioning (sampling-dependent) — subtotals and
    // the sweep must see the same assignment
    val parted = Pin(per.repartitionByRange(nRanges, col("__x"))
      .withColumn("__pid", spark_partition_id()))
    val byPid = org.apache.spark.sql.expressions.Window.orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val prefix = parted.groupBy(col("__pid"))
      .agg(sum(col("ca")).as("sa"), sum(col("cb")).as("sb"))
      .select(col("__pid"),
        coalesce(sum(col("sa")).over(byPid), lit(0L)).cast(LongType).as("pa"),
        coalesce(sum(col("sb")).over(byPid), lit(0L)).cast(LongType).as("pb"))
    val inPart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("__x"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    parted.join(broadcast(prefix), Seq("__pid"))
      .select(col("__x"), col("ca"), col("cb"),
        (sum(col("ca")).over(inPart) + col("pa")).cast(LongType).as("cuma"),
        (sum(col("cb")).over(inPart) + col("pb")).cast(LongType).as("cumb"))
  }

  /** Exact AUC of a numeric score against a binary label — the
    * Mann–Whitney identity with tie MIDRANKS, as an integer lattice:
    *
    *   AUC·2PN = Σ_values pos_v · (2·negBelow_v + neg_v)
    *
    * (a positive beats every lower-scored negative, half-credits each
    * tied one). All counts are integers (DECIMAL(38,0) products — two
    * 1e11-row classes overflow int64), so the ranking statistic is
    * exact and order-independent; AUC itself is one pinned double
    * division. A score column that can't beat random lands at 0.5
    * exactly, a perfect ranker at 1.0 exactly — certifiable gates,
    * which a float rank-sum can't promise at the boundary.
    *
    * Scale shape: per-distinct-score (pos, neg) counts, the
    * [[cumCounts]] sweep, one final aggregate. Degenerate inputs
    * (a single class) yield NULL auc. Returns one row
    * (n_pos, n_neg, auc_e12, auc).
    */
  def aucExact(df: DataFrame, score: Column, label: Column,
      xType: String = "decimal(18,4)", nRanges: Int = 32): DataFrame =
    aucFromCounts(scoreClassCounts(df, score, label, xType), nRanges)

  /** Per-distinct-score two-class counts (__x, ca, cb) — the mergeable
    * sufficient statistic behind [[aucExact]] (counts are linear, so
    * per-batch frames fold by per-score SUM — what the streaming AUC
    * maintainer persists).
    */
  def scoreClassCounts(df: DataFrame, score: Column, label: Column,
      xType: String = "decimal(18,4)"): DataFrame =
    df.select(score.cast(xType).as("__x"), label.cast("boolean").as("__a"))
      .filter(col("__x").isNotNull && col("__a").isNotNull)
      .groupBy(col("__x"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).cast(LongType).as("ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).cast(LongType).as("cb"))

  /** The AUC lattice tail over a (__x, ca, cb) counts frame. */
  def aucFromCounts(per: DataFrame, nRanges: Int = 32): DataFrame = {
    require(nRanges >= 1, s"need a positive range count, got $nRanges")
    val dec38 = "decimal(38,0)"
    val cum = cumCounts(per, nRanges)
    val tot = per.agg(sum(col("ca")).cast(LongType).as("n_pos"),
      sum(col("cb")).cast(LongType).as("n_neg"))
    cum
      .select((col("ca").cast(dec38) *
        (lit(2) * (col("cumb") - col("cb")) + col("cb"))).as("term"))
      .agg(sum(col("term")).cast(dec38).as("auc2pn"))
      .crossJoin(broadcast(tot))
      .select(col("n_pos"), col("n_neg"),
        // the certified surface carries the scale-proof form of the
        // lattice: auc_e12 = (auc2pn·10¹²) div (2·p·n) ∈ [0, 10¹²] is
        // BIGINT (the raw auc2pn ≤ 2pn outgrows int64 past ~2·10⁹ rows
        // per class and wide decimals don't hash portably across
        // engines); the division is the exact truncating decimal `div`,
        // reproducible bit for bit. Bound: the ·10¹² product lives in
        // DECIMAL(38,0), which caps auc2pn at ~10²⁶, i.e. ~10¹³ rows
        // PER CLASS — far past any real feed, but past it Spark
        // (non-ANSI) returns NULL while DuckDB's HUGEINT survives to
        // ~1.7·10³⁸, so the engines would diverge rather than wrap.
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("(auc2pn * 1000000000000) div " +
            "(2 * cast(n_pos as decimal(38,0)) * n_neg)"))
          .cast(LongType).as("auc_e12"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("auc2pn").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")),
            12))
          .as("auc"))
  }

  /** Doubled midranks of a single value column: one row per DISTINCT
    * value with r2 = 2·cum − c + 1, i.e. TWICE the average rank of the
    * value's tied block (doubling keeps tied ranks integral — .5
    * midranks would force fractional arithmetic). Pearson correlation is
    * invariant under the affine rank → 2·rank map, so Spearman's ρ can
    * consume these directly. Built on the same [[cumCounts]] two-pass
    * range sweep as the KS/AUC lattices — no global window.
    */
  private def midranks2(vals: DataFrame, nRanges: Int): DataFrame = {
    val per = vals.groupBy(col("__x"))
      .agg(count(lit(1)).cast(LongType).as("ca"))
      .withColumn("cb", lit(0L))
    cumCounts(per, nRanges)
      .select(col("__x"),
        (lit(2L) * col("cuma") - col("ca") + lit(1L)).cast(LongType).as("r2"))
  }

  /** Exact Spearman rank correlation with tie MIDRANKS — the monotone-
    * association audit ([[pearsonPairs]] sees only linear relations; a
    * perfect x→x³ dependence scores ρ = 1 here and r < 1 there), the
    * standard screen for nonlinear-but-ordered feature↔target links.
    *
    * Both columns' ranks come from the distributed [[cumCounts]] sweep
    * (doubled midranks stay integral under ties), the five sufficient
    * statistics accumulate in DECIMAL(38,0) — order-independent,
    * engine-exact; headroom: Σ(2r)² ≤ 4n³ holds to n ≈ 10¹¹ — and ρ is
    * the one pinned double sequence of [[regressionBy]], rounded to 12
    * decimals (scale-0 decimals convert to double in ONE rounding
    * everywhere, unlike wide scaled decimals). Returns one row (n, rho);
    * degenerate inputs (constant column, n < 2) yield NULL rho.
    *
    * Scale shape: two keyed aggregates to distinct-value counts, two
    * range-partitioned prefix sweeps, two value equi-joins back, one
    * final aggregate — no step holds more than a value range.
    */
  def spearman(df: DataFrame, x: Column, y: Column,
      xType: String = "decimal(18,4)", nRanges: Int = 32): DataFrame = {
    val dec38 = "decimal(38,0)"
    val rows = df
      .select(x.cast(xType).as("__vx"), y.cast(xType).as("__vy"))
      .filter(col("__vx").isNotNull && col("__vy").isNotNull)
    val rx = midranks2(rows.select(col("__vx").as("__x")), nRanges)
      .select(col("__x").as("__vx"), col("r2").as("__rx"))
    val ry = midranks2(rows.select(col("__vy").as("__x")), nRanges)
      .select(col("__x").as("__vy"), col("r2").as("__ry"))
    // SHUFFLE_HASH-hint both rank joins (guide §3.1 — pick the strategy
    // deliberately): the unhinted plan broadcast the DATA-SIZED `rows`
    // frame (parquet size estimates undershoot after projection) and
    // then ran the second join + the whole five-sum decimal aggregate
    // as a chain of 1-task stages (measured: ~2.0 s of the query's
    // 4.7 s serialized on one core). With the hints both joins shuffle
    // on the value key and build the RANK side (distinct-value counts,
    // ≤ rows, and per-partition 1/nRanges of that) — the pairing and
    // the partial aggregation stay distributed at any scale.
    // MEMORY BOUND of the forced build (shuffled-hash cannot spill the
    // build side): per join partition it holds ~|distinct values| /
    // spark.sql.shuffle.partitions rank rows — for a near-all-distinct
    // column that is rows/partitions, so deployments at scale must size
    // shuffle.partitions so that quotient fits an executor (or drop the
    // hint and accept the sort-merge fallback); the 1/nRanges figure
    // above describes ranks per RANGE partition of the sweep, not per
    // hash partition of this join.
    val st = rows
      .join(ry.hint("shuffle_hash"), Seq("__vy"))
      .join(rx.hint("shuffle_hash"), Seq("__vx"))
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        sum(col("__rx").cast(dec38)).cast(dec38).as("sx"),
        sum(col("__ry").cast(dec38)).cast(dec38).as("sy"),
        sum(col("__rx").cast(dec38) * col("__ry")).cast(dec38).as("sxy"),
        sum(col("__rx").cast(dec38) * col("__rx")).cast(dec38).as("sxx"),
        sum(col("__ry").cast(dec38) * col("__ry")).cast(dec38).as("syy"))
    val nD = col("n").cast("double")
    val covN = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val varX = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val varY = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    st.select(col("n"),
      when(varX > 0 && varY > 0,
        round(covN / (sqrt(varX) * sqrt(varY)), 12)).as("rho"))
  }

  /** EXACT precision/recall curve over a per-score two-class counts
    * frame ([[scoreClassCounts]] — the same mergeable statistic the AUC
    * lattice and the streaming monitor consume): one row per distinct
    * threshold x with the confusion counts of the classifier "predict
    * positive iff score ≥ x" — tp = positives at-or-above x (from the
    * inclusive ascending sweep: n_pos − cum + c), fp likewise — and
    * precision / recall / F1 as pinned double divisions from those exact
    * integers. The operating-point picker behind every threshold choice;
    * output cardinality is the score DOMAIN (scale-independent for
    * bounded scores), so the full curve ships, not a sample.
    *
    * F1 uses the identity 2tp/(2tp+fp+fn) = 2tp/(tp+fp+n_pos) — one
    * division from integers, no precision·recall float chaining.
    */
  def prCurvePoints(per: DataFrame, nRanges: Int = 32): DataFrame = {
    val cum = cumCounts(per, nRanges)
    val tot = per.agg(sum(col("ca")).cast(LongType).as("n_pos"),
      sum(col("cb")).cast(LongType).as("n_neg"))
    val tp = (col("n_pos") - col("cuma") + col("ca")).cast(LongType)
    val fp = (col("n_neg") - col("cumb") + col("cb")).cast(LongType)
    cum.crossJoin(broadcast(tot))
      .select(col("__x").cast("double").as("thr"),
        tp.as("tp"), fp.as("fp"),
        when(tp + fp > 0,
          tp.cast("double") / (tp + fp).cast("double")).as("precision"),
        when(col("n_pos") > 0,
          tp.cast("double") / col("n_pos").cast("double")).as("recall"),
        when(tp + fp + col("n_pos") > 0,
          lit(2.0) * tp.cast("double") /
            (tp + fp + col("n_pos")).cast("double")).as("f1"))
  }

  /** Best single-threshold decision stump of a numeric score against a
    * binary label by EXACT weighted Gini impurity — the split-picker at
    * the root of every tree learner (and the threshold tuner for a
    * 1-feature classifier), over the same mergeable per-score counts
    * frame ([[scoreClassCounts]]) as the AUC lattice and the PR curve.
    *
    * For the split "left = score ≤ x": with left counts (n_L, pos_L,
    * neg_L) from the inclusive cumulative sweep and right counts as the
    * totals' complement, the weighted impurity is
    *
    *   G(x)·N = (n_L² − pos_L² − neg_L²)/n_L + (n_R² − pos_R² − neg_R²)/n_R
    *
    * Each rational term is evaluated as the truncating integer lattice
    * `(A·10¹²) div n` in DECIMAL(38,0), DECOMPOSED as
    * `(A div n)·10¹² + ((A mod n)·10¹²) div n` — Spark's `div` returns
    * BIGINT, and the undecomposed quotient (≤ n·10¹²) would wrap it past
    * n ≈ 9.2·10⁶ rows; each decomposed quotient stays ≤ max(n, 10¹²) and
    * the recombination is exact (a = qn + r ⟹ ⌊aS/n⌋ = qS + ⌊rS/n⌋).
    * A ≤ N² ≤ 10²² and the ·10¹² products stay under 10³⁸ to N ≈ 10¹¹
    * rows, so the per-threshold key is exact and the argmin (ties to the
    * LOWEST threshold) is reproducible bit for bit; G itself is pinned
    * doubles at the edge. The max score is excluded (its right side is
    * empty — not a split), so a constant score column yields an EMPTY
    * result, not a degenerate row.
    *
    * Scale shape: the [[cumCounts]] two-pass range sweep over distinct
    * scores, one 1-row broadcast totals cross, and a TakeOrdered(1) over
    * score-domain-bounded candidates — no data-sized window, no collect.
    * Returns ≤ 1 row (thr, n_left, pos_left, n_right, pos_right,
    * gini_e12, gini).
    */
  def giniStump(per: DataFrame, nRanges: Int = 32): DataFrame = {
    require(nRanges >= 1, s"need a positive range count, got $nRanges")
    val dec38 = "decimal(38,0)"
    val cum = cumCounts(per, nRanges)
    val tot = per.agg(sum(col("ca")).cast(LongType).as("n_pos"),
      sum(col("cb")).cast(LongType).as("n_neg"))
    val nL = (col("cuma") + col("cumb")).cast(LongType)
    val nR = (col("n_pos") + col("n_neg") - col("cuma") - col("cumb"))
      .cast(LongType)
    val pR = (col("n_pos") - col("cuma")).cast(LongType)
    val qR = (col("n_neg") - col("cumb")).cast(LongType)
    cum.crossJoin(broadcast(tot))
      .filter(nL < col("n_pos") + col("n_neg"))
      .select(col("__x"), nL.as("nl"), col("cuma").as("pl"),
        col("cumb").as("ql"), nR.as("nr"), pR.as("pr"), qR.as("qr"),
        (col("n_pos") + col("n_neg")).cast(LongType).as("n"))
      .withColumn("__al", expr(s"""cast(nl as $dec38) * nl
          | - cast(pl as $dec38) * pl - cast(ql as $dec38) * ql"""
        .stripMargin.replaceAll("\n\\s*", " ")))
      .withColumn("__ar", expr(s"""cast(nr as $dec38) * nr
          | - cast(pr as $dec38) * pr - cast(qr as $dec38) * qr"""
        .stripMargin.replaceAll("\n\\s*", " ")))
      .select(col("__x"), col("nl"), col("pl"), col("nr"), col("pr"), col("n"),
        (expr(s"""cast(__al div nl as $dec38) * 1000000000000
                 | + (cast(__al % nl as $dec38) * 1000000000000) div nl"""
          .stripMargin.replaceAll("\n\\s*", " ")) +
          expr(s"""cast(__ar div nr as $dec38) * 1000000000000
                  | + (cast(__ar % nr as $dec38) * 1000000000000) div nr"""
            .stripMargin.replaceAll("\n\\s*", " ")))
          .cast(dec38).as("gini_scaled"))
      .orderBy(col("gini_scaled"), col("__x"))
      .limit(1)
      // the argmin key stays the full G·N·10¹² decimal lattice; the
      // certified surface carries gini_e12 = gini_scaled div N ∈
      // [0, 5·10¹¹] — BIGINT at any scale (wide decimals don't hash
      // portably) — and the pinned impurity rounded to 12
      .select(col("__x").cast("double").as("thr"),
        col("nl").as("n_left"), col("pl").as("pos_left"),
        col("nr").as("n_right"), col("pr").as("pos_right"),
        expr("gini_scaled div n").cast(LongType).as("gini_e12"),
        round(col("gini_scaled").cast("double") / lit(1000000000000.0) /
          col("n").cast("double"), 12).as("gini"))
  }

  /** Per-decile calibration-bin sufficient statistics of the
    * n/(n+prior) probability against a boolean label: (bucket, n,
    * n_pos, ssum) with bucket = (10n) div (n+prior) by integer division
    * and ssum the 10¹²-scaled truncating probability lattice — all
    * three are SUMs, so per-batch frames fold by per-bucket addition
    * (the mergeable statistic behind the streaming calibration
    * maintainer, exactly as [[scoreClassCounts]] is behind the AUC
    * monitor). ≤ 10 + 1 rows at any scale.
    */
  def calibrationBins(df: DataFrame, n: Column, pos: Column,
      prior: Int = 500): DataFrame =
    df.select(n.cast(LongType).as("__n"), pos.cast("boolean").as("__p"))
      .filter(col("__n").isNotNull && col("__p").isNotNull)
      .select(
        expr(s"(10 * __n) div (__n + $prior)").cast(LongType).as("bucket"),
        // the scaled numerator goes through DECIMAL(38,0): a plain long
        // multiply wraps silently past n ≈ 9.2e6 (non-ANSI Spark)
        expr(s"(1000000000000 * CAST(__n AS DECIMAL(38,0))) div (__n + $prior)")
          .as("s12"),
        when(col("__p"), 1L).otherwise(0L).as("p"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("p")).cast(LongType).as("n_pos"),
        sum(col("s12").cast("decimal(38,0)")).cast("decimal(38,0)").as("ssum"))

  /** The reliability readout over a [[calibrationBins]] frame: mean
    * predicted probability (one pinned division off the exact lattice
    * sum) vs observed positive rate, per bucket.
    */
  def calibrationReadout(bins: DataFrame): DataFrame =
    bins.select(col("bucket"), col("n"), col("n_pos"),
      (col("ssum").cast("double") / col("n").cast("double") /
        lit(1000000000000.0)).as("mean_score"),
      (col("n_pos").cast("double") / col("n").cast("double")).as("frac_pos"))

  /** Isotonic (monotone) calibration over a [[calibrationBins]] frame —
    * the PAV fit every production probability calibrator applies when
    * the reliability diagram wiggles: the best monotone-nondecreasing
    * approximation of the per-bucket positive rate under the bin-count
    * weights, via the closed MINIMAX form
    *
    *   iso(t) = max_{i ≤ t} min_{j ≥ t} pool(i, j),
    *   pool(i, j) = Σ_{k=i..j} n_pos_k / Σ_{k=i..j} n_k
    *
    * (equal to pool-adjacent-violators on exact rationals). Every pooled
    * rate is evaluated on the 10¹² truncating lattice — the minimax over
    * those integers is the CONTRACT, deterministic in both engines, and
    * monotone regardless of truncation (larger t only shrinks the inner
    * j-set and grows the outer i-set) — so the fitted curve is
    * reproducible bit for bit; iso_prob is pinned at the edge.
    *
    * Scale shape: all joins range over the BUCKET DOMAIN (≤ 11 rows at
    * any corpus size — the O(D³) segment enumeration is constant work),
    * after one corpus-wide bin aggregate. Returns one row per bucket
    * (bucket, n, n_pos, frac_pos, iso_e12, iso_prob), monotone in
    * iso_e12.
    */
  def isotonicCalibration(bins: DataFrame): DataFrame = {
    val dec38 = "decimal(38,0)"
    val b = bins.select(col("bucket"), col("n"), col("n_pos"))
    val seg = b.select(col("bucket").as("bi"))
      .join(b.select(col("bucket").as("bj")), col("bi") <= col("bj"))
      .join(b, col("bucket") >= col("bi") && col("bucket") <= col("bj"))
      .groupBy(col("bi"), col("bj"))
      .agg(sum(col("n")).cast(LongType).as("sn"),
        sum(col("n_pos")).cast(LongType).as("sp"))
      .withColumn("fl",
        expr(s"(cast(sp as $dec38) * 1000000000000) div sn"))
    val iso = b.select(col("bucket").as("bt"))
      .join(seg, col("bi") <= col("bt") && col("bj") >= col("bt"))
      .groupBy(col("bt"), col("bi"))
      .agg(min(col("fl")).as("mn"))
      .groupBy(col("bt"))
      .agg(max(col("mn")).cast(dec38).as("iso_scaled"))
    bins.join(iso, col("bucket") === col("bt"))
      // iso_e12 ∈ [0, 10¹²] by construction (a pooled rate ≤ 1), so the
      // certified surface carries it as BIGINT at any scale (wide
      // decimals don't hash portably); both rate doubles pinned at 12
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 12)
          .as("frac_pos"),
        col("iso_scaled").cast(LongType).as("iso_e12"),
        round(col("iso_scaled").cast("double") / lit(1000000000000.0), 12)
          .as("iso_prob"))
  }

  /** Single mean-shift changepoint of a counting process by the exact
    * CUSUM lattice — the feed-monitoring question "WHEN did the volume
    * change", where [[driftChi2]]/[[ksTwoSample]] only answer "did it".
    * For rows bucketed to distinct time values t = 1..H (ascending), the
    * CUSUM deviation at t is |Σ_{i≤t}(x_i − x̄)| = |H·prefix_t − t·T|/H;
    * the scaled numerator is an exact DECIMAL(38,0) integer (prefix
    * sums and ranks both come from ONE [[cumCounts]] sweep — cb = 1 per
    * distinct time makes cumb the rank), so the argmax (ties to the
    * EARLIEST time) is reproducible bit for bit. The last time value is
    * excluded (a split after it leaves no right side), so a single
    * distinct time yields an EMPTY result. Returns ≤ 1 row
    * (cp_time, t, n_times, total, cusum_e12, cusum) with cusum =
    * dev/(H·T) pinned at the edge — 0 exactly on a flat series.
    *
    * Scale shape: one keyed aggregate to per-time counts, the two-pass
    * range sweep, a 1-row broadcast totals cross, TakeOrdered(1) — no
    * data-sized window. Headroom: H·prefix ≤ H·T ≤ 10²² at 10¹¹ events
    * over 10⁶ buckets, far under DECIMAL(38,0).
    */
  def cusumChangepoint(df: DataFrame, time: Column,
      nRanges: Int = 32): DataFrame =
    cusumFromCounts(perTimeCounts(df, time), nRanges)

  /** Per-distinct-time row counts (__x, n) — the mergeable sufficient
    * statistic behind [[cusumChangepoint]] (counts are linear, so
    * per-batch frames fold by per-time SUM — what the streaming
    * feed-shift monitor persists).
    */
  def perTimeCounts(df: DataFrame, time: Column): DataFrame =
    df.select(time.as("__x")).filter(col("__x").isNotNull)
      .groupBy(col("__x"))
      .agg(count(lit(1)).cast(LongType).as("n"))

  /** The CUSUM lattice tail over a (__x, n) per-time counts frame. */
  def cusumFromCounts(perTime: DataFrame, nRanges: Int = 32): DataFrame = {
    require(nRanges >= 1, s"need a positive range count, got $nRanges")
    val dec38 = "decimal(38,0)"
    val per = perTime.select(col("__x"), col("n").cast(LongType).as("ca"))
      .withColumn("cb", lit(1L))
    val cum = cumCounts(per, nRanges)
    val tot = per.agg(sum(col("ca")).cast(LongType).as("total"),
      sum(col("cb")).cast(LongType).as("n_times"))
    cum.crossJoin(broadcast(tot))
      .filter(col("cumb") < col("n_times"))
      .select(col("__x"), col("cumb").as("t"), col("n_times"), col("total"),
        abs(col("cuma").cast(dec38) * col("n_times") -
          col("cumb").cast(dec38) * col("total")).cast(dec38).as("dev_scaled"))
      .orderBy(col("dev_scaled").desc, col("__x"))
      .limit(1)
      // the argmax key stays the full H·T-sized decimal lattice; the
      // certified surface carries cusum_e12 = (dev·10¹²) div (H·T) ∈
      // [0, 10¹²] — BIGINT (wide decimals don't hash portably) — plus
      // the pinned statistic rounded to 12. Bound: dev·10¹² lives in
      // DECIMAL(38,0) → dev ≤ ~10²⁶ (~10¹³ events per side); past it
      // Spark NULLs while DuckDB HUGEINT survives — divergence, not wrap
      .select(col("__x").as("cp_time"), col("t"), col("n_times"),
        col("total"),
        expr("(dev_scaled * 1000000000000) div " +
          "(cast(n_times as decimal(38,0)) * total)")
          .cast(LongType).as("cusum_e12"),
        round(col("dev_scaled").cast("double") /
          (col("n_times").cast("double") * col("total").cast("double")), 12)
          .as("cusum"))
  }

  /** Pettitt rank-based changepoint — WHEN did a VALUE DISTRIBUTION
    * shift, the nonparametric twin of [[cusumChangepoint]]'s volume
    * CUSUM (a fat-tailed feed drags a mean-based statistic; ranks are
    * immune). Pettitt's U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j) reduces by
    * the Mann–Whitney identity to the exact integer
    *
    *   U_t = Σ_{i≤t} r2_i − t·(n+1)
    *
    * where r2 are the DOUBLED tie midranks ([[midranks2]] — the same
    * distributed sweep as Spearman's ρ, integral under ties). Rank sums
    * and row ranks over TIME come from one further [[cumCounts]] sweep
    * (ca = per-bucket Σ r2, cb = per-bucket rows), so the argmax of
    * |U_t| (ties to the earliest time, last bucket excluded) is
    * reproducible bit for bit; u_norm = 4|U|/n² is pinned at the edge.
    * Returns ≤ 1 row (cp_time, t_rows, n, u_abs, u_norm).
    *
    * Headroom: the cumulative doubled-rank sum is ≤ 2n² in a BIGINT
    * lane — exact to n ≈ 2·10⁹ rows; bucket the series first beyond
    * that (the statistic is bucket-compatible: ranks are over values,
    * the sweep over buckets).
    */
  def pettittChangepoint(df: DataFrame, time: Column, value: Column,
      xType: String = "decimal(18,4)", nRanges: Int = 32): DataFrame = {
    require(nRanges >= 1, s"need a positive range count, got $nRanges")
    val dec38 = "decimal(38,0)"
    val rows = df.select(time.as("__t"), value.cast(xType).as("__v"))
      .filter(col("__t").isNotNull && col("__v").isNotNull)
    val r2 = midranks2(rows.select(col("__v").as("__x")), nRanges)
      .select(col("__x").as("__v"), col("r2"))
    val per = rows.join(r2, Seq("__v"))
      .groupBy(col("__t").as("__x"))
      .agg(sum(col("r2")).cast(LongType).as("ca"),
        count(lit(1)).cast(LongType).as("cb"))
    val cum = cumCounts(per, nRanges)
    val tot = per.agg(sum(col("cb")).cast(LongType).as("n"))
    cum.crossJoin(broadcast(tot))
      .filter(col("cumb") < col("n"))
      .select(col("__x"), col("cumb").as("t_rows"), col("n"),
        abs(col("cuma").cast(dec38) -
          col("cumb").cast(dec38) * (col("n") + 1)).cast(dec38).as("u_abs"))
      .orderBy(col("u_abs").desc, col("__x"))
      .limit(1)
      // u_abs ≤ 2n² sits in the SAME BIGINT lane the cumulative sweep
      // already requires (headroom note above), so the certified
      // surface presents it as BIGINT (wide decimals don't hash
      // portably); u_norm pinned at 12
      .select(col("__x").as("cp_time"), col("t_rows"), col("n"),
        col("u_abs").cast(LongType).as("u_abs"),
        round(col("u_abs").cast("double") * lit(4.0) /
          (col("n").cast("double") * col("n").cast("double")), 12).as("u_norm"))
  }

  /** Mann–Kendall trend test over the per-time-bucket counting process —
    * [[theilSen]]'s significance twin: S = Σ_{i<j} sgn(x_j − x_i) over
    * the time-ordered buckets (an exact integer), the tie-corrected
    * variance numerator var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) in
    * DECIMAL(38,0), and the continuity-corrected normal score
    * z = (S − sgn S)/√(var18/18) as one pinned double sequence. Monotone
    * drift that a mean-based test dilutes shows up here regardless of
    * the magnitude profile. Returns one row (n_times, s, var18, z);
    * z is NULL when the variance vanishes (constant or ≤ 1 bucket).
    *
    * Scale shape: the pair set is the time-domain-bounded bucket
    * self-join (calendar², not data²) after one corpus-wide count
    * aggregate; tie groups are one further tiny aggregate.
    */
  def mannKendall(df: DataFrame, time: Column): DataFrame = {
    val dec38 = "decimal(38,0)"
    val per = perTimeCounts(df, time)
    val a = per.select(col("__x").as("ta"), col("n").as("xa"))
    val b = per.select(col("__x").as("tb"), col("n").as("xb"))
    val sAgg = a.join(b, col("tb") > col("ta"))
      .agg(coalesce(sum(signum(col("xb") - col("xa")).cast(LongType)), lit(0L))
        .cast(LongType).as("s"))
    val nt = per.agg(count(lit(1)).cast(LongType).as("n_times"))
    val ties = per.groupBy(col("n")).agg(count(lit(1)).cast(LongType).as("t"))
      .agg(coalesce(sum(expr(s"cast(t as $dec38) * (t - 1) * (2 * t + 5)")),
        lit(0).cast(dec38)).cast(dec38).as("tsum"))
    sAgg.crossJoin(broadcast(nt)).crossJoin(broadcast(ties))
      .select(col("n_times"), col("s"),
        (expr(s"cast(n_times as $dec38) * (n_times - 1) * (2 * n_times + 5)") -
          col("tsum")).cast(dec38).as("var18"))
      // var18 ≤ 2·H³ over CALENDAR-bounded buckets (H = 10⁶ hours is a
      // century) fits BIGINT with 10⁶× headroom, so the certified
      // surface presents it as BIGINT (wide decimals don't hash
      // portably); z pinned at 12
      .select(col("n_times"), col("s"),
        col("var18").cast(LongType).as("var18"),
        when(col("var18") > 0,
          round((col("s") - signum(col("s"))).cast("double") /
            sqrt(col("var18").cast("double") / lit(18.0)), 12)).as("z"))
  }

  /** Theil–Sen robust trend slope of a (x, y) series with UNIQUE integer
    * x — the median of all pairwise slopes, the estimator a single
    * corrupt day cannot drag the way it drags [[regressionBy]]'s OLS
    * line (breakdown point ≈ 29 %). Each slope is the exact FLOOR
    * lattice ⌊Δy·10¹²/Δx⌋, decomposed as
    * `(Δy fdiv Δx)·10¹² + ((Δy fmod Δx)·10¹²) div Δx` with fdiv/fmod the
    * floored pair (pmod keeps 0 ≤ r < Δx, so the identity
    * ⌊aS/b⌋ = qS + ⌊rS/b⌋ holds for NEGATIVE Δy too and each quotient
    * fits a BIGINT); the recombined key lives in DECIMAL(38,0). The
    * median is the exact distributed rank-ceil(m/2) selection
    * ([[exactQuantiles]] — range shuffle, no global window), so the
    * slope is reproducible bit for bit. Returns ≤ 1 row
    * (n_pairs, slope); < 2 distinct x yields EMPTY.
    *
    * Scale shape: the pair set is a self-join of the per-x frame —
    * O(D²) in the DOMAIN size D (days/hours of a feed), independent of
    * row count; the quadratic is bounded by calendar time, not data.
    */
  def theilSen(df: DataFrame, x: Column, y: Column): DataFrame = {
    val dec38 = "decimal(38,0)"
    val a = df.select(x.cast(LongType).as("xa"), y.cast(LongType).as("ya"))
      .filter(col("xa").isNotNull && col("ya").isNotNull)
    val b = a.select(col("xa").as("xb"), col("ya").as("yb"))
    val slopes = a.join(b, col("xb") > col("xa"))
      .select((col("yb") - col("ya")).as("dy"), (col("xb") - col("xa")).as("dx"))
      .select(col("dy"), col("dx"), pmod(col("dy"), col("dx")).as("r"))
      .select((expr(s"cast((dy - r) div dx as $dec38) * 1000000000000") +
        expr(s"(cast(r as $dec38) * 1000000000000) div dx"))
        .cast(dec38).as("slope_scaled"))
    val m = slopes.agg(count(lit(1)).cast(LongType).as("n_pairs"))
    // the median selection runs on the full decimal lattice; the
    // certified surface presents only (n_pairs, slope) — the raw
    // ⌊slope·10¹²⌋ key is data-magnitude-sized (no BIGINT bound to
    // promise) and wide decimals don't hash portably. slope pinned
    // at 12.
    exactQuantiles(slopes, "slope_scaled", Seq(BigDecimal("0.5")))
      .crossJoin(broadcast(m))
      .select(col("n_pairs"),
        round(col("slope_scaled").cast("double") / lit(1000000000000.0), 12)
          .as("slope"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic — the UNBINNED
    * distribution-drift gate (the chi-square form in [[driftChi2]] sees
    * only 8 bins; KS sees every quantile): D = max over observed values
    * of |F_a(x) − F_b(x)|, computed as the INTEGER lattice
    * max |cum_a·n_b − cum_b·n_a| (in DECIMAL(38,0) — two ~1e11-row
    * samples overflow int64's 9.2e18 at this product) with ONE pinned
    * double division at the edge, so the statistic is reproducible bit
    * for bit.
    *
    * Scale shape: one keyed aggregate to per-distinct-value counts, then
    * the distributed prefix sum — range-partition by value, per-range
    * subtotals turned into exclusive prefixes by a bounded nRanges-row
    * window, partition-local cumulative windows — the same two-pass
    * sweep as [[graft.operators.Skyline]]; no single task ever holds
    * more than its value range. Returns one row
    * (n_a, n_b, d_e12, d).
    */
  def ksTwoSample(df: DataFrame, value: Column, isA: Column,
      xType: String = "decimal(18,4)", nRanges: Int = 32): DataFrame = {
    require(nRanges >= 1, s"need a positive range count, got $nRanges")
    val dec38 = "decimal(38,0)"
    val per = df
      .select(value.cast(xType).as("__x"), isA.cast("boolean").as("__a"))
      .filter(col("__x").isNotNull && col("__a").isNotNull)
      .groupBy(col("__x"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).cast(LongType).as("ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).cast(LongType).as("cb"))
    val cum = cumCounts(per, nRanges)
      .select(col("__x"), col("cuma"), col("cumb"))
    val tot = per.agg(sum(col("ca")).cast(LongType).as("n_a"),
      sum(col("cb")).cast(LongType).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(abs(col("cuma").cast(dec38) * col("n_b") -
        col("cumb").cast(dec38) * col("n_a"))).cast(dec38).as("d_scaled"))
      // certified surface: d_e12 = (d_scaled·10¹²) div (n_a·n_b) ∈
      // [0, 10¹²] — BIGINT (the raw lattice is n_a·n_b-sized and wide
      // decimals don't hash portably); exact truncating decimal div,
      // plus the pinned D rounded to 12. Bound: the ·10¹² product in
      // DECIMAL(38,0) caps d_scaled at ~10²⁶ (~10¹³ rows per sample);
      // past it Spark NULLs while DuckDB HUGEINT survives
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          expr("(d_scaled * 1000000000000) div " +
            "(cast(n_a as decimal(38,0)) * n_b)"))
          .cast(LongType).as("d_e12"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("d_scaled").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 12))
          .as("d"))
  }

  /** Robust outlier profile via MEDIAN / MAD — the heavy-tail-safe
    * alternative to σ-thresholds (one corrupt feed day shifts a mean;
    * it barely moves a median). Both medians are EXACT distributed
    * quantiles ([[exactQuantiles]] — range shuffle, no global window);
    * deviations and the 3·MAD threshold stay in DECIMAL, so the flagged
    * count is reproducible bit for bit (a double threshold can flip
    * boundary rows). Returns one row: (median, mad, n_outliers).
    *
    * Cost: two ranked passes + one counting scan — the price of EXACT
    * medians at scale; sketch quantiles would save a pass at the cost
    * of certifiability.
    */
  def madOutliers(df: DataFrame, value: Column,
      xType: String = "decimal(18,4)"): DataFrame = {
    val vals = df.select(value.cast(xType).as("value"))
    val med = exactQuantiles(vals, "value", Seq(BigDecimal("0.5")))
      .select(col("value").as("m"))
    val dev = vals.crossJoin(broadcast(med))
      .select(abs(col("value") - col("m")).as("value"), col("m"))
    val mad = exactQuantiles(dev.select(col("value")), "value",
      Seq(BigDecimal("0.5"))).select(col("value").as("madv"))
    dev.crossJoin(broadcast(mad))
      .agg(
        max(col("m")).cast("double").as("median"),
        max(col("madv")).cast("double").as("mad"),
        sum(when(col("value") > col("madv") * 3, 1).otherwise(0))
          .cast(LongType).as("n_outliers"))
  }

  /** Chi-square INDEPENDENCE test between two categorical columns — the
    * feature↔label screen ([[anovaF]]'s categorical sibling; sklearn's
    * chi2 feature selection). One contingency aggregate, two marginal
    * rollups of that (cell-cardinality) frame, and per-cell terms
    * (obs − exp)²/exp as pinned doubles from exact BIGINT counts. Sum
    * the terms against χ²((r−1)(c−1)) downstream. Returns one row per
    * observed cell: (aCol, bCol, n, chi2_term).
    */
  def chi2Independence(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val c = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).cast(LongType).as("n"))
    val ra = c.groupBy(col(aCol)).agg(sum(col("n")).cast(LongType).as("n_a"))
    val cb = c.groupBy(col(bCol)).agg(sum(col("n")).cast(LongType).as("n_b"))
    val t = c.agg(sum(col("n")).cast(LongType).as("n_tot"))
    val e = col("n_a").cast("double") * col("n_b").cast("double") /
      col("n_tot").cast("double")
    val d = col("n").cast("double") - e
    c.join(ra, Seq(aCol)).join(cb, Seq(bCol)).crossJoin(broadcast(t))
      .select(col(aCol), col(bCol), col("n"), (d * d / e).as("chi2_term"))
  }

  /** Pairwise Pearson correlations of integer-valued columns (pre-scale
    * to a fixed-point unit — cents — so every sufficient statistic is an
    * exact DECIMAL sum) in ONE aggregate pass: n plus Σxᵢ, Σxᵢ², Σxᵢxⱼ
    * for all pairs, then each r = cov/(σᵢσⱼ) as the fixed double
    * sequence of [[regressionBy]]. Output unpivots map-side from the
    * 1-row statistics frame: (x_col, y_col, n, r) for each i < j.
    * Degenerate pairs (zero variance) yield NULL.
    */
  def pearsonPairs(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, s"need at least two columns, got ${cols.size}")
    val named = cols.map { case (n, c) => (n, c.cast("decimal(18,0)")) }
    val aggs =
      named.flatMap { case (n, c) =>
        Seq(sum(c).as(s"s_$n"), sum(c * c).as(s"ss_$n")) } ++
      named.combinations(2).map { case Seq((na, ca), (nb, cb)) =>
        sum(ca * cb).as(s"sp_${na}_$nb") }.toSeq
    val st = df.agg(count(lit(1)).cast(LongType).as("n"), aggs: _*)
    val pairRows = named.combinations(2).map { case Seq((na, _), (nb, _)) =>
      val nD = col("n").cast("double")
      val covN = nD * col(s"sp_${na}_$nb").cast("double") -
        col(s"s_$na").cast("double") * col(s"s_$nb").cast("double")
      val varA = nD * col(s"ss_$na").cast("double") -
        col(s"s_$na").cast("double") * col(s"s_$na").cast("double")
      val varB = nD * col(s"ss_$nb").cast("double") -
        col(s"s_$nb").cast("double") * col(s"s_$nb").cast("double")
      struct(lit(na).as("x_col"), lit(nb).as("y_col"),
        when(varA > 0 && varB > 0, covN / (sqrt(varA) * sqrt(varB))).as("r"))
    }.toSeq
    st.select(col("n"), explode(array(pairRows: _*)).as("p"))
      .select(col("p.x_col").as("x_col"), col("p.y_col").as("y_col"),
        col("n"), col("p.r").as("r"))
  }

  def exactQuantiles(df: DataFrame, valueCol: String,
      qs: Seq[BigDecimal]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1], got $qs")
    val n = df.count()
    val ranked = Surrogates.assignScalable(
      df.select(col(valueCol)), "__rank", Seq(col(valueCol)))
    val spark = df.sparkSession
    import spark.implicits._
    val targets = qs
      .map(q => (q.toDouble, math.max(1L, (q * n).setScale(0, BigDecimal.RoundingMode.CEILING).toLong)))
      .toDF("q", "__rank")
    ranked.join(broadcast(targets), Seq("__rank"))
      .select(col("q"), col(valueCol))
  }
}
