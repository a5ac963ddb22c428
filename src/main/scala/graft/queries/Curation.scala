package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Cleaning.lcount
import graft.functions.TextAnalysis
import graft.operators.{AsOfJoin, Dedup, Sampling, Sketches, Surrogates}
import graft.plans.TopKPairs
import graft.sources.Tables
import graft.queries.Q.C

/** Corpus-curation and temporal-alignment queries: as-of attribution,
  * deterministic train/val/test splits, per-source quota caps, and
  * global vocabulary ranking.
  */
object Curation {

  /** Backward as-of join: every purchase attributed to the same user's
    * latest click at-or-before it (graft.operators.AsOfJoin — single-
    * shuffle union+window formulation). The oracle computes the match
    * per purchase with a correlated max, so the aggregate certifies the
    * operator's match choice and its gap arithmetic.
    */
  private val asof = Q(
    "asof_attribution",
    s"""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
       |           FROM events WHERE event_type = 'click'),
       |p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS pts
       |      FROM events WHERE event_type = 'purchase'),
       |a AS (SELECT p.user_id, p.pts,
       |             (SELECT max(cts) FROM c
       |              WHERE c.user_id = p.user_id AND c.cts <= p.pts) AS last_click
       |      FROM p)
       |SELECT user_id, $C AS n_purchases,
       |       CAST(SUM(CASE WHEN last_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_attributed,
       |       CAST(SUM(CASE WHEN last_click IS NOT NULL
       |                     THEN epoch_us(pts) - epoch_us(last_click)
       |                     ELSE 0 END) AS BIGINT) AS total_gap_us
       |FROM a GROUP BY 1""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    AsOfJoin.asOfBackward(purchases, clicks, "user_id", "ts", "ts")
      .groupBy(col("user_id"))
      .agg(
        lcount().as("n_purchases"),
        sum(when(col("asof").isNotNull, 1).otherwise(0)).cast(LongType)
          .as("n_attributed"),
        sum(when(col("asof").isNotNull,
          unix_micros(col("ts")) - unix_micros(col("asof.ts")))
          .otherwise(0L)).cast(LongType).as("total_gap_us"))
  }

  /** Forward as-of: every click attributed to the same user's EARLIEST
    * purchase at-or-after it — the time-to-convert mirror of
    * [[asof]] (graft.operators.AsOfJoin.asOfForward, same single-shuffle
    * union+window shape, running window reversed). The oracle computes
    * each match with a correlated min, certifying the match choice, the
    * inclusive bound, and the gap arithmetic.
    */
  private val asofFwd = Q(
    "asof_time_to_convert",
    s"""WITH c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS cts
       |           FROM events WHERE event_type = 'click'),
       |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts
       |      FROM events WHERE event_type = 'purchase'),
       |a AS (SELECT c.user_id, c.cts,
       |             (SELECT min(pts) FROM p
       |              WHERE p.user_id = c.user_id AND p.pts >= c.cts) AS next_purchase
       |      FROM c)
       |SELECT user_id, $C AS n_clicks,
       |       CAST(SUM(CASE WHEN next_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_converted,
       |       CAST(SUM(CASE WHEN next_purchase IS NOT NULL
       |                     THEN epoch_us(next_purchase) - epoch_us(cts)
       |                     ELSE 0 END) AS BIGINT) AS total_wait_us
       |FROM a GROUP BY 1""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    AsOfJoin.asOfForward(clicks, purchases, "user_id", "ts", "ts",
        tiebreak = Some("event_id"))
      .groupBy(col("user_id"))
      .agg(
        lcount().as("n_clicks"),
        sum(when(col("asof").isNotNull, 1).otherwise(0)).cast(LongType)
          .as("n_converted"),
        sum(when(col("asof").isNotNull,
          unix_micros(col("asof.ts")) - unix_micros(col("ts")))
          .otherwise(0L)).cast(LongType).as("total_wait_us"))
  }

  /** Deterministic hash-based train/val/test split (~80/10/10 by md5
    * byte of doc_id — graft.operators.Sampling.hashSplit): stable under
    * re-runs and corpus growth, no RNG, no shuffle for the assignment
    * itself. The oracle rebuilds the byte from md5 hex chars.
    */
  private val splitAssign = Q(
    "split_assign",
    s"""WITH a AS (SELECT lang, n_chars,
       |  ${Q.splitCase("doc_id")} AS split
       |  FROM documents)
       |SELECT split, lang, $C AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM a GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(Sampling.hashSplit(col("doc_id")).as("split"),
        col("lang"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(lcount().as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("total_chars"))
  }

  /** Per-source quota cap (at most 12 docs per source, by doc_id) —
    * the domain-balancing step of corpus curation
    * (graft.operators.Sampling.quotaPerGroup).
    */
  private val quota = Q(
    "quota_per_source",
    s"""WITH r AS (SELECT source, n_chars,
       |                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |           FROM documents)
       |SELECT source, $C AS n_kept,
       |       CAST(SUM(n_chars) AS BIGINT) AS kept_chars
       |FROM r WHERE rn <= 12 GROUP BY 1""".stripMargin) { (s, d) =>
    Sampling.quotaPerGroup(Tables.documents(s, d),
        Seq(col("source")), Seq(col("doc_id")), 12)
      .groupBy(col("source"))
      .agg(lcount().as("n_kept"),
        sum(col("n_chars")).cast(LongType).as("kept_chars"))
  }

  /** Global top-20 vocabulary by token frequency — Spark plans the
    * orderBy+limit as TakeOrdered (per-partition top-k then a k-row
    * merge on the driver), never a full global sort. Ties at the cut
    * are broken by token, so the result set is a deterministic total
    * order in both engines.
    */
  private val vocab = Q(
    "vocab_topk",
    s"""SELECT tok, $C AS n
       |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
       |GROUP BY 1 ORDER BY n DESC, tok LIMIT 20""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(lcount().as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(20)
  }

  /** Statistical threshold filtering — the curation step that cuts each
    * language's bottom quartile by a corpus-derived statistic instead of
    * a hand-picked constant: per-lang p25 of n_chars (exact interpolated
    * percentile, bit-identical across engines — see
    * `text_length_quantiles`), broadcast back as a threshold dim, then a
    * map-side filter. One stats aggregate + one broadcast join at any
    * scale; the fact side never reshuffles.
    */
  private val qualityCut = Q(
    "curation_quality_cut",
    s"""WITH thr AS (SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25
       |             FROM documents GROUP BY 1)
       |SELECT d.lang, $C AS n_kept,
       |       CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars, min(thr.p25) AS p25
       |FROM documents d JOIN thr ON d.lang = thr.lang
       |WHERE CAST(d.n_chars AS DOUBLE) >= thr.p25
       |GROUP BY 1""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val thr = docs.groupBy(col("lang"))
      .agg(expr("percentile(CAST(n_chars AS DOUBLE), 0.25)").as("p25"))
    docs
      .join(broadcast(thr), Seq("lang"))
      .filter(col("n_chars").cast("double") >= col("p25"))
      .groupBy(col("lang"))
      .agg(
        lcount().as("n_kept"),
        sum(col("n_chars")).cast(LongType).as("kept_chars"),
        min(col("p25")).as("p25"))
  }

  /** Per-source length outliers at 1.5σ ([[graft.operators.Stats
    * .integerOutliers]]): docs whose length deviates from their source's
    * mean by more than 1.5 standard deviations — truncation/concat
    * artifacts a scrape-quality gate quarantines. Unlike
    * `events_anomalies`' double z-scores, the decision rule here is
    * PURE INTEGER arithmetic (den²·(n·x−S)² > num²·(n·Q−S²)), so rows
    * sitting exactly on the threshold cannot flip between engines.
    */
  private val lengthOutliers = Q(
    "curation_length_outliers",
    """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS grp_n,
      |                  CAST(sum(n_chars) AS BIGINT) AS grp_sum,
      |                  CAST(sum(n_chars * n_chars) AS BIGINT) AS grp_sumsq
      |           FROM documents GROUP BY 1)
      |SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars, g.grp_n
      |FROM documents d JOIN g USING (source)
      |WHERE 4 * (g.grp_n * d.n_chars - g.grp_sum)
      |        * (g.grp_n * d.n_chars - g.grp_sum)
      |      > 9 * (g.grp_n * g.grp_sumsq - g.grp_sum * g.grp_sum)""".stripMargin) {
    (s, d) =>
      graft.operators.Stats.integerOutliers(
        Tables.documents(s, d), Seq("source"), col("n_chars"), num = 3, den = 2)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast(LongType).as("n_chars"), col("grp_n"))
  }

  /** Winsorized length accounting: clip every doc's length into the
    * corpus's exact [p05, p95] band (percentile_disc ranks from
    * [[graft.operators.Stats.exactQuantiles]] — range shuffle, never a
    * single-task window on the engine side) and report per-source
    * clipped totals. Thresholds are DATA VALUES and lengths are
    * integers, so the whole readout is integer-exact — the robust-stats
    * companion to `curation_length_outliers`' σ rule. Rank targets are
    * computed in decimal on both sides (float ⌈q·n⌉ can land one rank
    * off at exact multiples).
    */
  private val winsorized = Q(
    "curation_winsorized",
    """WITH r AS (SELECT n_chars,
      |                 row_number() OVER (ORDER BY n_chars) AS rn,
      |                 count(*) OVER () AS n
      |          FROM documents),
      |t AS (SELECT max(CASE WHEN rn = GREATEST(1, CAST(ceil(CAST(0.05 AS DECIMAL(6,4)) * n) AS BIGINT))
      |                      THEN n_chars END) AS lo,
      |             max(CASE WHEN rn = GREATEST(1, CAST(ceil(CAST(0.95 AS DECIMAL(6,4)) * n) AS BIGINT))
      |                      THEN n_chars END) AS hi
      |      FROM r)
      |SELECT source, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(least(greatest(n_chars, t.lo), t.hi)) AS BIGINT) AS clipped_chars,
      |       CAST(sum(CASE WHEN n_chars < t.lo OR n_chars > t.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
      |FROM documents CROSS JOIN t GROUP BY 1""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val qs = graft.operators.Stats.exactQuantiles(
      docs.select(col("n_chars").cast(LongType).as("value")), "value",
      Seq(BigDecimal("0.05"), BigDecimal("0.95")))
    val thr = qs.groupBy().agg(
      max(when(col("q") === 0.05, col("value"))).as("lo"),
      max(when(col("q") === 0.95, col("value"))).as("hi"))
    val clipped = least(greatest(col("n_chars").cast(LongType), col("lo")), col("hi"))
    docs.crossJoin(broadcast(thr))
      .groupBy(col("source"))
      .agg(
        lcount().as("n"),
        sum(clipped).cast(LongType).as("clipped_chars"),
        sum(when(col("n_chars") < col("lo") || col("n_chars") > col("hi"), 1L)
          .otherwise(0L)).cast(LongType).as("n_clipped"))
  }

  /** Priority sampling ([[Sampling.prioritySample]], Duffield–Lund–
    * Thorup): the 25 documents winning the weight-proportional draw with
    * n_chars as the quality weight — heavy docs (near-)certain, light
    * docs kept with w-proportional probability, no RNG. Every arithmetic
    * step is IEEE-exact-rounded over md5-derived integers, so the kept
    * set AND the raw double priorities hash-match the oracle.
    */
  private val prioritySamp = Q(
    "sample_priority",
    """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, priority FROM (
      |  SELECT doc_id, n_chars,
      |         CAST(n_chars AS DOUBLE) /
      |           (CAST(CAST(('0x' || substr(md5('p|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1
      |                 AS DOUBLE) / 1152921504606846976.0) AS priority
      |  FROM documents)
      |ORDER BY priority DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
    Sampling.prioritySample(
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast(LongType).as("n_chars")),
      weight = col("n_chars"), k = 25, id = col("doc_id"))
  }

  /** Weight-proportional SYSTEMATIC sampling
    * ([[Sampling.systematicWeighted]]): 100 evenly spaced selection
    * points on the cumulative token line pick each document once per
    * point inside its span — exactly 100 picks total, per-doc picks ∈
    * {floor, ceil} of its proportional share, zero randomness (the
    * zero-variance counterpart of [[prioritySamp]]'s randomized draw).
    * The oracle replays the integer lattice closed-form over a window
    * cumsum (≡ the distributed prefix sum by SequencePack's
    * partitioning-independence), so the hash match certifies offsets,
    * the ceil arithmetic, and every pick count.
    */
  private val systematicSamp = Q(
    "sample_systematic",
    """WITH t AS (SELECT doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |           FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |             CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |                  AS BIGINT) AS off,
      |             (SELECT SUM(n_tokens) FROM t) AS tot
      |      FROM t),
      |p AS (SELECT doc_id, n_tokens,
      |             CAST(least(100, ((off + n_tokens) * 100 + tot - 1) // tot)
      |                - least(100, (off * 100 + tot - 1) // tot) AS BIGINT) AS n_picks
      |      FROM c)
      |SELECT doc_id, n_tokens, n_picks FROM p WHERE n_picks > 0""".stripMargin) { (s, d) =>
    Sampling.systematicWeighted(
      Tables.documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens")),
      "doc_id", "n_tokens", k = 100)
  }

  /** DSIR-style importance weights for data selection (Xie et al.: score
    * every document by how much it looks like a TARGET domain — here
    * lang='en' — under hashed-n-gram language models, then sample
    * proportionally). Per token the importance ratio is the add-1
    * smoothed rational
    *
    *   r(b) = ((cnt_target(b)+1) · (N_corpus+B)) / ((cnt_corpus(b)+1) · (N_target+B))
    *
    * over B=1024 md5 hash buckets ([[Sketches.featureBucket]] — no
    * vocabulary pass, the DSIR trick), and a document's weight is the
    * SUM of its tokens' scaled ratios — engine-exact integer arithmetic
    * throughout (the classic log-product form needs libm, whose last-ulp
    * behavior differs across engines; a sum of 10^12-scaled rationals is
    * the same ordering signal, hash-replayable bit for bit). The output
    * weights feed [[Sampling.prioritySample]]/[[Sampling.systematicWeighted]]
    * directly — selection composes, it isn't re-implemented. Cost: two
    * token-grain aggregates + a 1024-row broadcast join; linear, one
    * shuffle per aggregate.
    */
  /** The DSIR-weights oracle, shared VERBATIM by `curation_dsir_weights`
    * (one-shot) and `c20_stream_dsir_store` (weights scored against the
    * incrementally-maintained LM count store) — two queries certifying
    * against one oracle string makes "maintained LM ≡ batch LM" true by
    * construction, the same contract pattern the shingle-HLL pair uses.
    */
  private[queries] def dsirOracleSql: String =
    """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |b AS (SELECT doc_id, lang,
      |             CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT) % 1024 AS bucket
      |      FROM toks),
      |cc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_c FROM b GROUP BY 1),
      |tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_t FROM b WHERE lang = 'en' GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_c,
      |               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t
      |        FROM b),
      |rs AS (SELECT cc.bucket,
      |              CAST((CAST(coalesce(tc.cnt_t, 0) + 1 AS HUGEINT) * (tot.n_c + 1024) * 1000000000000)
      |                   // (CAST(cc.cnt_c + 1 AS HUGEINT) * (tot.n_t + 1024)) AS BIGINT) AS r_scaled
      |       FROM cc LEFT JOIN tc ON cc.bucket = tc.bucket CROSS JOIN tot)
      |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
      |       CAST(SUM(rs.r_scaled) AS BIGINT) AS imp_sum
      |FROM b JOIN rs ON b.bucket = rs.bucket
      |GROUP BY 1""".stripMargin

  private val dsirWeights = Q(
    "curation_dsir_weights", dsirOracleSql) { (s, d) =>
    val toks = graft.sources.Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"),
        Sketches.featureBucket(col("tok"), 1024).as("bucket"))
    val corpusCnt = toks.groupBy(col("bucket")).agg(lcount().as("cnt_c"))
    val targetCnt = toks.filter(col("lang") === "en")
      .groupBy(col("bucket")).agg(lcount().as("cnt_t"))
    val totals = toks.agg(
      lcount().as("n_c"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).cast(LongType).as("n_t"))
    val ratios = corpusCnt
      .join(targetCnt, Seq("bucket"), "left")
      .na.fill(0L, Seq("cnt_t"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        expr("""CAST((CAST(cnt_t + 1 AS DECIMAL(38,0)) * (n_c + 1024) * 1000000000000)
                div (CAST(cnt_c + 1 AS DECIMAL(38,0)) * (n_t + 1024)) AS BIGINT)""")
          .as("r_scaled"))
    toks.join(broadcast(ratios), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(lcount().as("n_toks"),
        // accumulate through DECIMAL(38,0): each ratio term is ~10^12-
        // scaled, so a LongType sum wraps silently (non-ANSI) past ~9.2M
        // tokens in one document — the oracle sums in HUGEINT (the
        // bigramScoreHeldout widen-before-accumulate pattern)
        sum(col("r_scaled").cast("decimal(38,0)")).as("imp_dec"))
      // loud BIGINT-bound guard on the presented cast: past 2⁶³ Spark's
      // non-ANSI decimal→long cast wraps silently while DuckDB's
      // HUGEINT→BIGINT cast errors — the engines would diverge instead
      // of failing together. A feed that far out of bound (≈9.2·10¹⁸ /
      // 10¹² ≈ 9.2M× the expected per-doc ratio mass) now raises on the
      // Spark side too.
      .select(col("doc_id"), col("n_toks"),
        when(col("imp_dec") > lit(Long.MaxValue).cast("decimal(38,0)"),
          raise_error(concat(lit("dsir imp_sum overflows BIGINT for doc_id="),
            col("doc_id").cast("string"))).cast(LongType))
          .otherwise(col("imp_dec").cast(LongType)).as("imp_sum"))
  }

  /** Count–min sketch frequency estimates ([[graft.operators.Sketches]]):
    * a 4×1024 sketch of the token stream, probed with the exact top-20
    * vocabulary so every output row carries (exact_n, cms_n) — cms_n ≥
    * exact_n by construction, equal when the key's lightest bucket is
    * collision-free. The md5 hash family makes sketch contents and
    * estimates bit-replayable by the oracle; the sketch build moves at
    * most depth×width rows per partition regardless of corpus size.
    */
  private val vocabCms = Q(
    "vocab_cms", {
      val bucket = (r: String) =>
        s"CAST(('0x' || substr(md5('$r|' || tok), 1, 15)) AS BIGINT) % 1024"
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |keyed AS (SELECT tok, r,
         |                 CASE r WHEN 0 THEN ${bucket("0")} WHEN 1 THEN ${bucket("1")}
         |                        WHEN 2 THEN ${bucket("2")} ELSE ${bucket("3")} END AS bucket
         |          FROM toks CROSS JOIN range(0, 4) t(r)),
         |sketch AS (SELECT r, bucket, $C AS n FROM keyed GROUP BY 1, 2),
         |top AS (SELECT tok, $C AS exact_n FROM toks
         |        GROUP BY 1 ORDER BY exact_n DESC, tok LIMIT 20),
         |probe AS (SELECT top.tok, top.exact_n, k.r, k.bucket
         |          FROM top JOIN (SELECT DISTINCT tok, r, bucket FROM keyed) k
         |            ON top.tok = k.tok)
         |SELECT probe.tok, probe.exact_n, CAST(min(sketch.n) AS BIGINT) AS cms_n
         |FROM probe JOIN sketch ON sketch.r = probe.r AND sketch.bucket = probe.bucket
         |GROUP BY 1, 2""".stripMargin
    }) { (s, d) =>
    import graft.operators.Sketches
    val toks = Tables.spread(Tables.documents(s, d))
      .select(explode(split(col("text"), " ")).as("tok"))
    val sketch = Sketches.countMin(toks, "tok", depth = 4, width = 1024)
    val top = toks.groupBy(col("tok")).agg(lcount().as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok").asc).limit(20)
    Sketches.cmsEstimate(sketch, top, "tok", depth = 4, width = 1024)
  }

  /** Deterministic ~20% Bernoulli sample of the corpus (md5-threshold,
    * portable): the kept-set is identical in any engine with md5, so the
    * oracle checks membership row for row — grouping the output by `lang`
    * is the stratified-sampling readout (each stratum is sampled at the
    * same deterministic rate with no per-stratum pass).
    */
  private val stratSample = Q(
    "sample_stratified",
    """SELECT doc_id, lang FROM documents
      |WHERE CAST(('0x' || substr(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) * 5
      |      < 4294967296 * 1""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(Sampling.bernoulliKeep(col("doc_id"), 1, 5, "strat"))
      .select(col("doc_id"), col("lang"))
  }

  /** The end-to-end curation readout a training pipeline ships: exact-dup
    * keep-list (group representative per content hash) → quality gate
    * (length + lexical-diversity heuristics) → deterministic split
    * assignment → per-(split, lang) document/token/char accounting.
    * Three shuffles at any scale: the content-hash aggregate, the keep-
    * list semi-join on the id, and the final report aggregate — each
    * stage is the certified operator it composes (`dedup_exact`,
    * `text_quality`, `split_assign`), so a hash match here certifies the
    * COMPOSITION: filters feed each other in the right order with no
    * row loss or double-count.
    */
  /** Quality-gate + split + accounting SQL tail shared by the two
    * end-to-end pipeline oracles — from a relation
    * `kept(doc_id, lang, n_chars, text)`.
    */
  private def pipelineTail: String =
    s"""q AS (SELECT doc_id, lang, n_chars,
       |             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks,
       |             CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS dt
       |      FROM kept),
       |f AS (SELECT doc_id, lang, n_chars, n_toks FROM q
       |      WHERE n_toks >= 20 AND n_toks <= 2000
       |        AND CAST(dt AS DOUBLE) / CAST(n_toks AS DOUBLE) > 0.15)
       |SELECT ${Q.splitCase("doc_id")} AS split,
       |       lang, $C AS n_docs,
       |       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM f GROUP BY 1, 2""".stripMargin

  private val pipeline = Q(
    "curation_pipeline",
    s"""WITH k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |kept AS (SELECT d.doc_id, lang, n_chars, text
       |         FROM documents d JOIN k USING (doc_id)),
       |$pipelineTail""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val keep = Dedup.exactGroups(docs, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    docs
      .join(keep, Seq("doc_id"), "left_semi")
      .filter(TextAnalysis.qualityFlag(col("text")) === 1)
      .select(
        Sampling.hashSplit(col("doc_id")).as("split"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_toks"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(
        lcount().as("n_docs"),
        sum(col("n_toks")).cast(LongType).as("total_tokens"),
        sum(col("n_chars")).cast(LongType).as("total_chars"))
  }

  /** The near-dup-aware twin of [[pipeline]]: MinHash-LSH CLUSTER dedup
    * (keep each component's min-id representative; singletons keep
    * themselves) replaces the exact-hash keep-list, then the same quality
    * gate, hash split, and per-split/lang token accounting. Composes the
    * individually-certified `dedup_clusters`, `text_quality`, and
    * `split_assign` stages — a hash match certifies that near-dup
    * removal, filtering, and splitting chain without row loss or
    * double-count. (For kept docs rep == doc_id, so the per-doc hash
    * split IS the leakage-safe cluster split restricted to
    * representatives.)
    */
  private val dedupPipeline = Q(
    "curation_dedup_pipeline",
    s"""WITH RECURSIVE ${LlmText.sigCte},
       |${LlmText.ccCte},
       |kept AS (SELECT d.doc_id, lang, n_chars, text
       |         FROM documents d LEFT JOIN cl USING (doc_id)
       |         WHERE coalesce(cl.cluster, d.doc_id) = d.doc_id),
       |$pipelineTail""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // consumes the published label store, same as split_by_cluster
    val clusters = LlmText.corpusClusters(s, d)
    docs
      .join(clusters, Seq("doc_id"), "left")
      .filter(coalesce(col("cluster"), col("doc_id")) === col("doc_id"))
      .filter(TextAnalysis.qualityFlag(col("text")) === 1)
      .select(
        Sampling.hashSplit(col("doc_id")).as("split"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_toks"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(
        lcount().as("n_docs"),
        sum(col("n_toks")).cast(LongType).as("total_tokens"),
        sum(col("n_chars")).cast(LongType).as("total_chars"))
  }

  /** MULTIMODAL curation readout — the image/audio validity gate the
    * text-only [[pipeline]] lacks: every document carries a synthetic PNG
    * and WAV payload ([[graft.operators.Multimodal.synthImages]]/
    * [[graft.operators.Multimodal.synthWavs]] — every byte a pure
    * function of the id), a deterministic slice of each is CORRUPTED
    * (truncated to 8 bytes, killing the container header), and the kept
    * set is the docs that pass the text-quality gate AND decode on both
    * modalities with in-range geometry/duration. The real codecs run on
    * every payload ([[graft.operators.Multimodal.decodeImage]]/
    * [[graft.operators.Multimodal.decodeAudio]]); corrupt containers are
    * quarantined inside the decode seam, so the inner joins implement
    * "must decode" with no error handling in the query. The oracle
    * replays corruption, geometry, pixel and sample checksums
    * arithmetically (PNG and WAV PCM are lossless) — a hash match
    * certifies decode, quarantine, gating, split and accounting as ONE
    * composition. Scale shape: two map-side codec passes, two equi-joins
    * on the id, one report aggregate — no shuffle grows faster than the
    * corpus.
    */
  private val multimodalPipeline = Q(
    "curation_multimodal",
    s"""WITH t AS (SELECT doc_id,
       |             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks,
       |             CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS dt
       |           FROM documents),
       |q AS (SELECT doc_id, n_toks FROM t
       |      WHERE n_toks >= 20 AND n_toks <= 2000
       |        AND CAST(dt AS DOUBLE) / CAST(n_toks AS DOUBLE) > 0.15),
       |ids AS (SELECT doc_id,
       |          CAST(16 + doc_id % 32 AS BIGINT) AS w,
       |          CAST(16 + (doc_id // 32) % 32 AS BIGINT) AS h,
       |          CAST(400 + doc_id % 800 AS BIGINT) AS n
       |        FROM documents),
       |img AS (SELECT i.doc_id,
       |          CAST(SUM((i.doc_id + x.x) % 256 + (i.doc_id + y.y) % 256 +
       |                   (i.doc_id + x.x + y.y) % 256) AS BIGINT) AS px_sum
       |        FROM ids i
       |        JOIN (SELECT unnest(range(48)) AS x) x ON x.x < i.w
       |        JOIN (SELECT unnest(range(48)) AS y) y ON y.y < i.h
       |        WHERE i.doc_id % 17 <> 0 AND i.w * i.h >= 700
       |        GROUP BY 1),
       |aud AS (SELECT i.doc_id,
       |          CAST(SUM((i.doc_id * 31 + t.t * 17) % 65536 - 32768) AS BIGINT) AS amp_sum
       |        FROM ids i JOIN (SELECT unnest(range(1200)) AS t) t ON t.t < i.n
       |        WHERE i.doc_id % 23 <> 0 AND i.n >= 600
       |        GROUP BY 1)
       |SELECT ${Q.splitCase("q.doc_id")} AS split, $C AS n_docs,
       |       CAST(SUM(q.n_toks) AS BIGINT) AS total_tokens,
       |       CAST(SUM(img.px_sum) AS BIGINT) AS px_total,
       |       CAST(SUM(aud.amp_sum) AS BIGINT) AS amp_total
       |FROM q JOIN img USING (doc_id) JOIN aud USING (doc_id)
       |GROUP BY 1""".stripMargin) { (s, d) =>
    import graft.operators.Multimodal
    val docs = Tables.documents(s, d)
    // deterministic corruption: every 17th image and every 23rd wav loses
    // all but its first 8 bytes — enough to keep the PNG magic / RIFF tag
    // but not the container header, so the codecs must quarantine, not
    // crash, and the oracle's keep-set excludes exactly these ids
    def corrupt(payloads: DataFrame, everyNth: Int): DataFrame =
      payloads.select(col("doc_id"),
        when(col("doc_id") % everyNth === 0,
          expr("substring(payload, 1, 8)"))
          .otherwise(col("payload")).as("payload"))
    val img = Multimodal.decodeImage(corrupt(Multimodal.synthImages(docs, "doc_id"), 17))
      .filter(col("width").cast(LongType) * col("height") >= 700L)
      .select(col("doc_id"), col("px_sum"))
    val aud = Multimodal.decodeAudio(corrupt(Multimodal.synthWavs(docs, "doc_id"), 23))
      .filter(col("sample_rate") === 8000 && col("n_samples") >= 600L)
      .select(col("doc_id"), col("amp_sum"))
    docs.filter(TextAnalysis.qualityFlag(col("text")) === 1)
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_toks"))
      .join(img, Seq("doc_id"))
      .join(aud, Seq("doc_id"))
      .groupBy(Sampling.hashSplit(col("doc_id")).as("split"))
      .agg(
        lcount().as("n_docs"),
        sum(col("n_toks")).cast(LongType).as("total_tokens"),
        sum(col("px_sum")).cast(LongType).as("px_total"),
        sum(col("amp_sum")).cast(LongType).as("amp_total"))
  }

  /** Temperature-style source rebalancing — the data-MIXING stage: each
    * source is down-sampled at rate min(1, K/√|source|), so dominant
    * sources shrink toward the inverse-sqrt mixture and small sources
    * survive whole. The rate turns into an integer md5-hash threshold
    * (floor(rate·2³²)) computed once per source — every arithmetic step
    * (sqrt, divide, floor) is IEEE-exact and engine-identical, so the
    * kept-set is deterministic and the oracle checks it row for row.
    * Scale shape: one count aggregate, a broadcast of the tiny per-source
    * threshold dim, a map-side hash filter, one report aggregate.
    */
  private val tempSample = Q(
    "sample_temperature",
    s"""WITH c AS (SELECT source, $C AS n_total FROM documents GROUP BY 1),
       |r AS (SELECT source, n_total,
       |             CAST(floor(least(1.0, 4.0 / sqrt(CAST(n_total AS DOUBLE)))
       |                        * 4294967296.0) AS BIGINT) AS thr
       |      FROM c),
       |k AS (SELECT d.source, d.n_chars
       |      FROM documents d JOIN r ON d.source = r.source
       |      WHERE CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |            < r.thr)
       |SELECT r.source, r.n_total,
       |       CAST((SELECT count(*) FROM k WHERE k.source = r.source) AS BIGINT) AS n_kept,
       |       CAST((SELECT coalesce(sum(n_chars), 0) FROM k WHERE k.source = r.source) AS BIGINT) AS kept_chars
       |FROM r""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val rates = docs.groupBy(col("source"))
      .agg(lcount().as("n_total"))
      .withColumn("thr",
        floor(least(lit(1.0), lit(4.0) / sqrt(col("n_total").cast("double")))
          * lit(4294967296.0)).cast(LongType))
    val h = conv(substring(md5(concat_ws("|", lit("mix"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast(LongType)
    docs
      .join(broadcast(rates), Seq("source"))
      .withColumn("kept", h < col("thr"))
      .groupBy(col("source"), col("n_total"))
      .agg(
        sum(when(col("kept"), 1L).otherwise(0L)).cast(LongType).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).cast(LongType)
          .as("kept_chars"))
      .select(col("source"), col("n_total"), col("n_kept"), col("kept_chars"))
  }

  /** Token-budget sequence packing ([[graft.operators.SequencePack]]):
    * documents concatenate in doc_id order and cut into 512-token packs.
    * The Spark side computes the global offsets with the DISTRIBUTED
    * prefix sum (range shuffle + per-partition subtotals + parallel
    * per-partition windows — no single-task global window); the oracle is
    * the textbook single-threaded cumulative sum, so a hash match proves
    * the distributed reassembly is exactly the sequential semantics.
    */
  private val packSeq = Q(
    "pack_sequences",
    """WITH t AS (SELECT doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |           FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |             CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |                  AS BIGINT) AS "offset"
      |      FROM t)
      |SELECT doc_id, n_tokens, "offset",
      |       CAST("offset" // 512 AS BIGINT) AS start_pack,
      |       CAST(("offset" + n_tokens - 1) // 512 AS BIGINT) AS end_pack
      |FROM c""".stripMargin) { (s, d) =>
    graft.operators.SequencePack.pack(
      Tables.documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens")),
      "doc_id", "n_tokens", packSize = 512)
  }

  /** The per-pack manifest over the same packing: every pack but the last
    * is exactly full (512 tokens), and the oracle rebuilds each pack's
    * document count and fill from the sequential offsets.
    */
  private val packManifest = Q(
    "pack_manifest",
    """WITH t AS (SELECT doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |           FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |             CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |                  AS BIGINT) AS "offset"
      |      FROM t WHERE n_tokens > 0),
      |sp AS (SELECT "offset", n_tokens, unnest(range("offset" // 512,
      |              ("offset" + n_tokens - 1) // 512 + 1)) AS pack
      |       FROM c)
      |SELECT pack, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(least("offset" + n_tokens, (pack + 1) * 512)
      |                - greatest("offset", pack * 512)) AS BIGINT) AS n_tokens
      |FROM sp GROUP BY 1""".stripMargin) { (s, d) =>
    graft.operators.SequencePack.manifest(
      graft.operators.SequencePack.pack(
        Tables.documents(s, d)
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens")),
        "doc_id", "n_tokens", packSize = 512),
      packSize = 512)
  }

  /** Leakage-safe train/val/test split: the split is decided by the md5
    * byte of each document's DUP-CLUSTER representative (min doc id of
    * its MinHash-LSH connected component; singletons represent
    * themselves), so a near-duplicate can never land in train while its
    * twin lands in test — the contamination mode a plain per-doc hash
    * split ([[splitAssign]]) cannot prevent. Cost on top of the dedup
    * clustering the pipeline already runs: one left join of the corpus
    * against the (small) clustered-doc relation.
    */
  private val clusterSplit = Q(
    "split_by_cluster",
    s"""WITH RECURSIVE ${LlmText.sigCte},
       |${LlmText.ccCte},
       |a AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS rep
       |      FROM documents d LEFT JOIN cl USING (doc_id))
       |SELECT doc_id, rep,
       |       ${Q.splitCase("rep")} AS split
       |FROM a""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // the label store the clustering job published (LlmText.corpusClusters)
    // — the split consumes labels, it doesn't re-run the clustering
    val clusters = LlmText.corpusClusters(s, d)
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("rep"))
      .withColumn("split", Sampling.hashSplit(col("rep")))
  }

  /** Portable HyperLogLog cardinality sketch over the corpus's distinct
    * word-3-shingles (a ~16k-cardinality domain at test SF — the n ≳ 2.5m
    * regime the raw estimator is designed for; the 31-token vocabulary
    * would sit in the linear-counting range). The certification is exact:
    * register maxima, the integer harmonic sum, and the pinned-double
    * estimate are all bit-replayed by the oracle, and the exact
    * COUNT(DISTINCT) rides along as the readout's error reference. Scale
    * shape: the sketch is ONE map-side-partial aggregate to ≤256 rows —
    * the exact side is the certification readout, not part of the sketch
    * cost. See [[graft.operators.Sketches.hllRegisters]].
    */
  /** The b=8 shingle-HLL readout oracle, shared VERBATIM by
    * `sketch_hll_distinct` and `sketch_hll_incremental`: the incremental
    * query's whole contract is that batch-merged registers replay the
    * one-shot readout bit for bit, so the two queries certifying against
    * ONE oracle string makes that contract true by construction (an
    * HLL-constant fix can never drift between them).
    */
  private val hllOracleSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |sh AS (SELECT l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
      |       FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, len(l) - 1)) AS i) t),
      |h AS (SELECT CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh),
      |r AS (SELECT h % 256 AS register, CAST(h // 256 AS BIGINT) AS w FROM h),
      |rho AS (SELECT register,
      |          CASE WHEN w = 0 THEN 53 ELSE strpos(lpad(bin(w), 52, '0'), '1') END AS rho
      |        FROM r),
      |reg AS (SELECT register, CAST(max(rho) AS BIGINT) AS m_rho FROM rho GROUP BY 1),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_present,
      |               CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - m_rho AS INT)) AS BIGINT) AS s_present
      |        FROM reg),
      |e AS (SELECT CAST(count(DISTINCT shingle) AS BIGINT) AS exact_n FROM sh)
      |SELECT CAST(256 AS BIGINT) AS m,
      |       CAST(256 - n_present AS BIGINT) AS n_zero,
      |       CAST(s_present + (256 - n_present) * 9007199254740992 AS BIGINT) AS s_inv,
      |       CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
      |         * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE)
      |         / CAST(s_inv AS DOUBLE) AS raw_est,
      |       exact_n
      |FROM agg CROSS JOIN e""".stripMargin

  private val hllDistinct = Q(
    "sketch_hll_distinct", hllOracleSql) { (s, d) =>
    val sh = Tables.spread(Tables.documents(s, d))
      .select(explode(TextAnalysis.shingles(col("text"), 3)).as("shingle"))
    // ONE corpus shingle pass for sketch AND exact reference: both
    // consumers read the distinct-shingle frame — its exchange subtree
    // is identical in the two branches, so ReuseExchange materializes
    // the corpus scan + explode once (was two full passes: the register
    // build and a separate countDistinct). Register maxima over the
    // distinct keys are bit-identical to maxima over the raw stream
    // (max-merge absorbs duplicates), and the md5/rho arithmetic now
    // runs on the vocabulary, not the corpus.
    val dist = sh.distinct()
    val est = Sketches.hllEstimate(Sketches.hllRegisters(dist, "shingle", b = 8), b = 8)
    val exact = dist.agg(count(lit(1)).cast(LongType).as("exact_n"))
    est.crossJoin(broadcast(exact))
  }

  /** KMV (k minimum values) set-overlap sketch: how much two corpus
    * halves (even vs odd doc_id) share of their word-3-shingle sets,
    * estimated from two 128-value bottom-k sketches instead of a full
    * distinct-key shuffle. The sketches are built by the native
    * duplicate-aware bounded-TreeSet aggregate
    * ([[graft.plans.KmvSketch]] — ≤ k values per map partition reach the
    * shuffle; a `distinct` + `LIMIT k` formulation would shuffle every
    * distinct shingle), merged driver-free by array ops on the two 1-row
    * frames: union sketch = first k of the sorted hash union, θ = its
    * max, ρ = union-sketch members present in BOTH sides (any union-
    * sketch member of A is inside A's bottom-k, because A's k-th minimum
    * ≥ the union's). |A∪B| ≈ (k_u−1)·2^52/θ and Ĵ = ρ/k are the
    * textbook KMV estimators, every float op a pinned left-to-right
    * double expression; sketch contents are md5-derived, so the oracle
    * bit-replays registers AND estimates, with the exact union /
    * intersection riding along as the error reference.
    */
  private val kmvOverlap = Q(
    "sketch_kmv_overlap",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |sh AS (SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s
      |       FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, len(l) - 1)) AS i) t),
      |ha AS (SELECT DISTINCT CAST(('0x' || substr(md5(s), 1, 13)) AS BIGINT) AS h
      |       FROM sh WHERE doc_id % 2 = 0),
      |hb AS (SELECT DISTINCT CAST(('0x' || substr(md5(s), 1, 13)) AS BIGINT) AS h
      |       FROM sh WHERE doc_id % 2 = 1),
      |ka AS (SELECT h FROM ha ORDER BY h LIMIT 128),
      |kb AS (SELECT h FROM hb ORDER BY h LIMIT 128),
      |u AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 128),
      |hk AS (SELECT CAST(max(h) AS BIGINT) AS h_k, CAST(count(*) AS BIGINT) AS ku FROM u),
      |rho AS (SELECT CAST(count(*) AS BIGINT) AS rho FROM u
      |        WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
      |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union
      |       FROM (SELECT h FROM ha UNION SELECT h FROM hb)),
      |ei AS (SELECT CAST(count(*) AS BIGINT) AS exact_inter
      |       FROM ha WHERE h IN (SELECT h FROM hb))
      |SELECT CAST(128 AS BIGINT) AS k, ku, h_k, rho,
      |       CAST(ku - 1 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
      |         / CAST(h_k AS DOUBLE) AS est_union,
      |       CAST(rho AS DOUBLE) / CAST(128 AS DOUBLE) AS jaccard_est,
      |       CAST(rho AS DOUBLE) / CAST(128 AS DOUBLE)
      |         * (CAST(ku - 1 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
      |            / CAST(h_k AS DOUBLE)) AS est_inter,
      |       exact_union, exact_inter
      |FROM hk CROSS JOIN rho CROSS JOIN ex CROSS JOIN ei""".stripMargin) { (s, d) =>
    val k = 128
    val sh = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(TextAnalysis.shingles(col("text"), 3)).as("s"))
      .select((col("doc_id") % 2 === 0).as("even"),
        Sketches.hash52(col("s")).as("h"))
    // The exact union/intersection reference must shuffle the full hash
    // vocabulary anyway, and kmv_sketch is duplicate-aware (bottom-k SET
    // per side), so the parity sketches ride the SAME grouped frame:
    // kmv over the distinct hashes with ia=1 is bit-identical to kmv
    // over every raw hash from even docs. One corpus scan + one shuffle
    // on h + one global agg replaces three corpus subtrees and two
    // crossJoins; the 1-row global-agg shape (empty corpus included) is
    // unchanged. kmv_sketch skips null inputs like any SQL aggregate,
    // so the `when` conditionals reproduce the original parity filters.
    val byH = sh.groupBy(col("h"))
      .agg(max(when(col("even"), 1).otherwise(0)).as("ia"),
        max(when(!col("even"), 1).otherwise(0)).as("ib"))
    byH
      .agg(
        call_function("kmv_sketch",
          when(col("ia") === 1, col("h")), lit(k)).as("a"),
        call_function("kmv_sketch",
          when(col("ib") === 1, col("h")), lit(k)).as("b"),
        lcount().as("exact_union"),
        lcount(when(col("ia") === 1 && col("ib") === 1, 1)).as("exact_inter"))
      .withColumn("u", slice(array_sort(array_union(col("a"), col("b"))), 1, k))
      .withColumn("ku", size(col("u")).cast(LongType))
      .withColumn("h_k",
        when(size(col("u")) > 0, element_at(col("u"), size(col("u")))))
      .withColumn("rho",
        size(array_intersect(array_intersect(col("u"), col("a")), col("b")))
          .cast(LongType))
      .withColumn("est_union",
        (col("ku") - 1).cast("double") * lit(4503599627370496.0) /
          col("h_k").cast("double"))
      .withColumn("jaccard_est", col("rho").cast("double") / lit(k.toDouble))
      .withColumn("est_inter", col("jaccard_est") * col("est_union"))
      .select(lit(k.toLong).as("k"), col("ku"), col("h_k"), col("rho"),
        col("est_union"), col("jaccard_est"), col("est_inter"),
        col("exact_union"), col("exact_inter"))
  }

  /** Deterministic contrastive negative sampling: 3 pseudo-random
    * negatives per anchor document via a HASH RING — doc positions are
    * 52-bit md5 points, each (anchor, j) seed is another md5 point, and
    * the negative is the first document clockwise of the seed. Uniform
    * (positions and seeds are independent hashes), reproducible in any
    * engine, and joinless per draw. The ring is cut into 64 buckets by
    * the position's HIGH bits so the successor search is the bucketed
    * forward as-of join ([[graft.operators.AsOfJoin.asOfForward]] —
    * single shuffle on the bucket key, per-bucket window sort, never a
    * global window); a seed past its bucket's last doc wraps to the
    * bucket's own first doc (a broadcast 64-row frame), keeping the wrap
    * local instead of ring-global. Self-matches (the anchor drawn as its
    * own negative) are dropped. The oracle replays the successor with a
    * bounded p >= seed join at test SF — same answer, quadratic shape the
    * Spark side avoids.
    */
  private val negatives = {
    val B = 64
    val W = 1L << 46 // 2^52 / 64: bucket = high 6 bits of the position
    Q(
      "curation_negative_samples",
      s"""WITH d AS (SELECT doc_id FROM documents),
         |pos AS (SELECT doc_id,
         |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS p
         |        FROM d),
         |posb AS (SELECT doc_id, p, p // $W AS bucket FROM pos),
         |seeds AS (SELECT d.doc_id, CAST(t.j AS BIGINT) AS j,
         |            CAST(('0x' || substr(md5('neg' || CAST(t.j AS VARCHAR) || '|'
         |              || CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS sp
         |          FROM d CROSS JOIN (SELECT unnest([1, 2, 3]) AS j) t),
         |seedb AS (SELECT doc_id, j, sp, sp // $W AS bucket FROM seeds),
         |succ AS (SELECT s.doc_id, s.j, min(pb.p) AS mp
         |         FROM seedb s JOIN posb pb
         |           ON pb.bucket = s.bucket AND pb.p >= s.sp
         |         GROUP BY 1, 2),
         |succdoc AS (SELECT s.doc_id, s.j, min(pb.doc_id) AS neg
         |            FROM succ s JOIN posb pb ON pb.p = s.mp GROUP BY 1, 2),
         |bmin AS (SELECT bucket, min(p) AS mp FROM posb GROUP BY 1),
         |bmindoc AS (SELECT b.bucket, min(pb.doc_id) AS neg
         |            FROM bmin b JOIN posb pb
         |              ON pb.bucket = b.bucket AND pb.p = b.mp
         |            GROUP BY 1)
         |SELECT sb.doc_id, sb.j,
         |       COALESCE(sd.neg, bm.neg) AS neg_doc
         |FROM seedb sb
         |LEFT JOIN succdoc sd ON sd.doc_id = sb.doc_id AND sd.j = sb.j
         |LEFT JOIN bmindoc bm ON bm.bucket = sb.bucket
         |WHERE COALESCE(sd.neg, bm.neg) <> sb.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val pos = docs.select(
        col("doc_id"), Sketches.hash52(col("doc_id")).as("p"))
        .withColumn("bucket", expr(s"p DIV $W"))
      val seeds = docs
        .select(col("doc_id"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
        .withColumn("sp", Sketches.hash52(
          concat(lit("neg"), col("j").cast("string"), lit("|"),
            col("doc_id").cast("string"))))
        .withColumn("bucket", expr(s"sp DIV $W"))
      val matched = AsOfJoin.asOfForward(
        seeds, pos.withColumnRenamed("doc_id", "ring_doc"),
        key = "bucket", leftTs = "sp", rightTs = "p",
        tiebreak = Some("ring_doc"))
      val bucketFirst = pos
        .groupBy(col("bucket"))
        .agg(min(struct(col("p"), col("doc_id"))).as("m"))
        .select(col("bucket"), col("m.doc_id").as("wrap_doc"))
      matched
        .join(broadcast(bucketFirst), Seq("bucket"), "left")
        .select(col("doc_id"), col("j"),
          coalesce(col("asof.ring_doc"), col("wrap_doc")).as("neg_doc"))
        .filter(col("neg_doc") =!= col("doc_id"))
    }
  }

  /** Mixture water-filling: given a token budget of HALF the corpus and
    * an equal-share target per source, solve Σ_s min(tokens_s, L) = T for
    * the water level L — small sources contribute everything, large
    * sources are capped at L, and the solve is EXACT: the level is found
    * by integer comparisons on the sorted per-source token counts
    * (`num = T − P_{k}`, `den = n − k`, valid iff c_k·den ≤ num < c_{k+1}
    * ·den — no float until the final pinned rate readout), so both
    * engines pick the identical pivot row. Scale shape: the window that
    * sorts runs over the SOURCE-cardinality aggregate (n rows, not the
    * corpus), the level is a 1-row broadcast, and the corpus itself is
    * touched only by the one grouped token-count aggregate.
    */
  private val waterfill = Q(
    "curation_mixture_waterfill",
    """WITH caps AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |              FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n FROM caps),
      |w AS (SELECT source, tokens, total // 2 AS t, n,
      |        CAST(row_number() OVER (ORDER BY tokens, source) AS BIGINT) AS rn,
      |        CAST(SUM(tokens) OVER (ORDER BY tokens, source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p,
      |        lag(tokens) OVER (ORDER BY tokens, source) AS prev_c
      |      FROM caps CROSS JOIN tot),
      |lvl AS (SELECT t - (p - tokens) AS level_num, n - rn + 1 AS level_den
      |        FROM w
      |        WHERE t - (p - tokens) < tokens * (n - rn + 1)
      |          AND (prev_c IS NULL OR t - (p - tokens) >= prev_c * (n - rn + 1))),
      |sel AS (SELECT c.source, c.tokens,
      |          CAST(l.level_num AS BIGINT) AS level_num,
      |          CAST(l.level_den AS BIGINT) AS level_den,
      |          LEAST(CAST(c.tokens AS DOUBLE),
      |                CAST(l.level_num AS DOUBLE) / CAST(l.level_den AS DOUBLE)) AS take_tokens
      |        FROM caps c CROSS JOIN lvl l)
      |SELECT source, tokens, level_num, level_den, take_tokens,
      |       take_tokens / CAST(tokens AS DOUBLE) AS rate
      |FROM sel""".stripMargin) { (s, d) =>
    val caps = Tables.spread(Tables.documents(s, d))
      .select(col("source"), size(split(col("text"), " ")).cast(LongType).as("t"))
      .groupBy(col("source")).agg(sum(col("t")).cast(LongType).as("tokens"))
    val tot = caps.agg(sum(col("tokens")).cast(LongType).as("total"),
      lcount().as("n"))
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("tokens"), col("source"))
    val w = caps.crossJoin(broadcast(tot))
      .withColumn("t", expr("total DIV 2"))
      .withColumn("rn", row_number().over(win).cast(LongType))
      .withColumn("p", sum(col("tokens")).over(
        win.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)).cast(LongType))
      .withColumn("prev_c", lag(col("tokens"), 1).over(win))
    val num = col("t") - (col("p") - col("tokens"))
    val den = col("n") - col("rn") + 1
    val lvl = w
      .filter(num < col("tokens") * den &&
        (col("prev_c").isNull || num >= col("prev_c") * den))
      .select(num.cast(LongType).as("level_num"), den.cast(LongType).as("level_den"))
    caps.crossJoin(broadcast(lvl))
      .withColumn("take_tokens",
        least(col("tokens").cast("double"),
          col("level_num").cast("double") / col("level_den").cast("double")))
      .select(col("source"), col("tokens"), col("level_num"), col("level_den"),
        col("take_tokens"),
        (col("take_tokens") / col("tokens").cast("double")).as("rate"))
  }

  /** Incremental sketch maintenance: the corpus arrives as THREE batches
    * (doc_id mod 3) whose register sketches are max-merged — and the
    * merged readout must be BIT-IDENTICAL to the oracle's one-shot
    * recompute over everything, proving a sketch refresh can shuffle only
    * the delta batch while 100 TB of history stays summarized in ≤ m
    * register rows (the sketch analog of the `c7_delta_agg` decimal-state
    * merge; register max-merge is associative, commutative, and
    * retraction-free). Readout and exact reference as in
    * `sketch_hll_distinct`.
    */
  private val hllIncremental = Q(
    "sketch_hll_incremental", hllOracleSql) { (s, d) =>
    val sh = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(TextAnalysis.shingles(col("text"), 3)).as("shingle"))
    // The three per-batch sketches build in ONE grouped pass
    // ([[Sketches.hllRegistersBy]] keyed on the batch id) instead of
    // three filtered scans — same (batch, register, m_rho) rows, same
    // max-merge, one corpus read where there were three (plus the exact
    // reference's: 4 -> 2 scans total). The isin guard reproduces the
    // original filters' semantics exactly (a negative doc_id matched no
    // batch and was dropped).
    val batched = sh.withColumn("__b", col("doc_id") % 3)
      .filter(col("__b").isin(0, 1, 2))
    val merged = Sketches.hllRegistersBy(batched, "shingle", Seq("__b"), b = 8)
      .groupBy(col("register"))
      .agg(max(col("m_rho")).cast(LongType).as("m_rho"))
    val est = Sketches.hllEstimate(merged, b = 8)
    val exact = sh.agg(countDistinct(col("shingle")).cast(LongType).as("exact_n"))
    est.crossJoin(broadcast(exact))
  }

  /** Pairwise corpus-overlap matrix from GROUPED KMV sketches: which
    * sources share shingle vocabulary with which — the duplicate-feed
    * detector a multi-source ingest runs before mixing. One grouped
    * `kmv_sketch` aggregate builds a 64-value bottom-k sketch PER SOURCE
    * (≤ k values per source per map partition — the corpus is scanned
    * once for all sources), then every source pair gets union-sketch /
    * ρ / Ĵ estimates from pure array ops on the source-cardinality
    * sketch frame — the pair join is bounded by (#sources)², a
    * dimension-sized nested-loop the sweep whitelists, never a corpus
    * join. Sketches are md5-derived, so the oracle bit-replays every
    * sketch row and estimate.
    */
  private val kmvMatrix = Q(
    "sketch_kmv_matrix",
    """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      |sh AS (SELECT source, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s
      |       FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, len(l) - 1)) AS i) t),
      |hs AS (SELECT DISTINCT source, CAST(('0x' || substr(md5(s), 1, 13)) AS BIGINT) AS h
      |       FROM sh),
      |sk AS (SELECT source, h FROM (
      |         SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r
      |         FROM hs) WHERE r <= 64),
      |srcs AS (SELECT DISTINCT source FROM documents),
      |pairs AS (SELECT a.source AS sa, b.source AS sb
      |          FROM srcs a JOIN srcs b ON a.source < b.source),
      |uu AS (SELECT sa, sb, h FROM (
      |         SELECT u.sa, u.sb, u.h,
      |                row_number() OVER (PARTITION BY u.sa, u.sb ORDER BY u.h) AS r
      |         FROM (SELECT DISTINCT p.sa, p.sb, k.h
      |               FROM pairs p JOIN sk k ON k.source = p.sa OR k.source = p.sb) u)
      |       WHERE r <= 64),
      |st AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS ku,
      |              CAST(max(h) AS BIGINT) AS h_k
      |       FROM uu GROUP BY 1, 2),
      |rh AS (SELECT uu.sa, uu.sb, CAST(count(*) AS BIGINT) AS rho
      |       FROM uu
      |       JOIN sk a ON a.source = uu.sa AND a.h = uu.h
      |       JOIN sk b ON b.source = uu.sb AND b.h = uu.h
      |       GROUP BY 1, 2)
      |SELECT st.sa, st.sb, st.ku, st.h_k,
      |       COALESCE(rh.rho, CAST(0 AS BIGINT)) AS rho,
      |       CAST(COALESCE(rh.rho, 0) AS DOUBLE) / CAST(64 AS DOUBLE) AS jaccard_est
      |FROM st LEFT JOIN rh ON rh.sa = st.sa AND rh.sb = st.sb""".stripMargin) { (s, d) =>
    val k = 64
    val hs = Tables.spread(Tables.documents(s, d))
      .select(col("source"),
        explode(TextAnalysis.shingles(col("text"), 3)).as("sh"))
      .select(col("source"), Sketches.hash52(col("sh")).as("h"))
    val sk = hs.groupBy(col("source"))
      .agg(call_function("kmv_sketch", col("h"), lit(k)).as("sk"))
    val a = sk.select(col("source").as("sa"), col("sk").as("ska"))
    val b = sk.select(col("source").as("sb"), col("sk").as("skb"))
    a.join(broadcast(b), col("sa") < col("sb"))
      .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("ku", size(col("u")).cast(LongType))
      .withColumn("h_k",
        when(size(col("u")) > 0, element_at(col("u"), size(col("u")))))
      .withColumn("rho",
        size(array_intersect(array_intersect(col("u"), col("ska")), col("skb")))
          .cast(LongType))
      .select(col("sa"), col("sb"), col("ku"), col("h_k"), col("rho"),
        (col("rho").cast("double") / lit(k.toDouble)).as("jaccard_est"))
  }

  /** Rendezvous (highest-random-weight) shard assignment: each document
    * goes to the shard with the max md5 weight of (shard, doc) — THE
    * minimal-movement placement scheme: growing the fleet from 8 to 9
    * shards moves ONLY the ~1/9 of documents whose new shard-9 weight
    * wins (a mod-N scheme would reshuffle ~8/9 of the corpus). The
    * readout is the (shard_8, shard_9) transition matrix, which proves
    * the property by construction: every off-diagonal row has
    * shard_9 = 8. Assignment is a per-row argmax over 8/9 weight
    * expressions — map-side, no join, no shuffle beyond the final
    * matrix rollup; weights are the portable md5 family, ties
    * (probability ~2^-52) break to the lower shard via max-struct in
    * both engines.
    */
  private val shardAssign = Q(
    "curation_shard_assign",
    """WITH d AS (SELECT doc_id FROM documents),
      |w AS (SELECT doc_id, s,
      |        CAST(('0x' || substr(md5('hrw' || CAST(s AS VARCHAR) || '|'
      |          || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS wt
      |      FROM d CROSS JOIN (SELECT unnest(range(0, 9)) AS s) t),
      |a8 AS (SELECT doc_id, CAST(s AS BIGINT) AS shard8 FROM (
      |         SELECT doc_id, s, row_number() OVER (
      |           PARTITION BY doc_id ORDER BY wt DESC, s) AS r
      |         FROM w WHERE s < 8) WHERE r = 1),
      |a9 AS (SELECT doc_id, CAST(s AS BIGINT) AS shard9 FROM (
      |         SELECT doc_id, s, row_number() OVER (
      |           PARTITION BY doc_id ORDER BY wt DESC, s) AS r
      |         FROM w) WHERE r = 1)
      |SELECT a8.shard8, a9.shard9, CAST(count(*) AS BIGINT) AS n
      |FROM a8 JOIN a9 ON a9.doc_id = a8.doc_id
      |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    def weight(shard: Int): Column = Sketches.hash52(
      concat(lit("hrw"), lit(shard.toString), lit("|"), col("doc_id").cast("string")))
    // argmax via max-struct over (weight, -shard): highest weight wins,
    // ties to the LOWER shard — mirrors the oracle's (wt DESC, s) order
    def assign(nShards: Int): Column =
      (-array_max(array((0 until nShards).map(sh =>
        struct(weight(sh).as("w"), lit(-sh.toLong).as("ns"))): _*))
        .getField("ns")).cast(LongType)
    Tables.documents(s, d)
      .select(col("doc_id"), assign(8).as("shard8"), assign(9).as("shard9"))
      .groupBy(col("shard8"), col("shard9"))
      .agg(lcount().as("n"))
  }

  /** Deterministic k-per-group downsampling: the 5 lowest md5-keyed docs
    * per language — the "cap every stratum at k" step a mixture pipeline
    * runs, WITHOUT a per-group sort: [[graft.plans.TopKPairs.perGroup]]
    * ranks the negated key, ascending. The 32-bit md5-prefix key is exact
    * in its double score.
    */
  private val kPerGroup = Q(
    "sample_k_per_group",
    """WITH k AS (SELECT lang, doc_id,
      |        CAST(('0x' || substr(md5('kpg|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS key32
      |      FROM documents),
      |r AS (SELECT lang, doc_id, key32,
      |        CAST(row_number() OVER (PARTITION BY lang ORDER BY key32, doc_id) AS BIGINT) AS rnk
      |      FROM k)
      |SELECT lang, doc_id, key32, rnk FROM r WHERE rnk <= 5""".stripMargin) { (s, d) =>
    val key32 = conv(
      substring(md5(concat(lit("kpg|"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast(LongType)
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), key32.as("key32"))
    TopKPairs.perGroup(docs, col("lang"), -col("key32").cast("double"),
        col("doc_id"), 5)
      .select(col("lang"), col("id").as("doc_id"),
        (-col("score")).cast(LongType).as("key32"), col("rank").as("rnk"))
  }

  /** Per-epoch deterministic training shuffle: each epoch is a different
    * but exactly reproducible permutation of the corpus (order key =
    * md5(epoch|doc_id)), materialized as the (epoch, doc_id, shuffle_pos)
    * manifest a data loader reads. Positions come from the distributed
    * range-shuffle rank assigner ([[graft.operators.Surrogates
    * .assignScalable]]) over (epoch, key) — a sort that scales out, not a
    * single-task global window — and the per-epoch position is recovered
    * from the global rank by integer arithmetic (every epoch carries all
    * N docs). The epoch axis is an `explode` over a literal array:
    * map-side replication, no join.
    */
  private val epochOrder = Q(
    "curation_epoch_order",
    """WITH e AS (SELECT CAST(unnest([0, 1]) AS BIGINT) AS epoch),
      |k AS (SELECT epoch, doc_id,
      |        md5('ep' || CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)) AS k
      |      FROM documents CROSS JOIN e)
      |SELECT epoch, doc_id,
      |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS BIGINT) AS shuffle_pos
      |FROM k""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val n = docs.count()
    val keyed = docs
      .select(col("doc_id"), explode(array(lit(0L), lit(1L))).as("epoch"))
      .select(col("epoch"), col("doc_id"),
        md5(concat(lit("ep"), col("epoch").cast("string"), lit("|"),
          col("doc_id").cast("string"))).as("k"))
    Surrogates.assignScalable(keyed, "__rank",
        Seq(col("epoch"), col("k"), col("doc_id")))
      .select(col("epoch"), col("doc_id"),
        (col("__rank") - col("epoch") * lit(n)).cast(LongType).as("shuffle_pos"))
  }

  val queries: Seq[Q] = Seq(asof, asofFwd, splitAssign, quota, vocab, vocabCms,
    stratSample, prioritySamp, systematicSamp, dsirWeights, qualityCut, lengthOutliers, winsorized,
    pipeline, dedupPipeline, multimodalPipeline, tempSample, packSeq,
    packManifest, clusterSplit,
    hllDistinct, hllIncremental, kPerGroup, epochOrder, kmvOverlap, kmvMatrix,
    negatives, waterfill, shardAssign)
}
