package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextAnalysis

/** Document deduplication for training-data pipelines, designed for the
  * banded-LSH shape that scales: candidate pairs come from per-bucket pair
  * generation after a single shuffle on the bucket key — never an all-pairs
  * cross join, and never a second pass over the corpus.
  *
  * Scale notes (100 TB): the shingle explode is map-side and runs at full
  * parallelism — big inputs arrive pre-split by parquet, and a small or
  * unsplittable input (one row group) is conditionally re-spread first
  * (Tables.spread, identity on big scans); signatures take one shuffle on
  * (doc, seed); banding one shuffle on (doc, band); pair generation one
  * shuffle on (band, band_key). Bucket membership lists are bounded by the
  * duplicate-cluster size — a pathological mega-bucket means the banding
  * parameters are wrong, not that the plan should degrade to a cross join.
  * Exact dedup is a single hash aggregate on the text hash.
  *
  * One form per operator: SimHash is the portable 32-bit md5 family
  * ([[simhashPortable]]), and the Hamming-pair and substring operators
  * take the signature or span-occurrence frame (`…FromSig`, `…FromOcc`)
  * that the catalog and the streaming folds persist and share.
  */
object Dedup {

  /** Exact duplicate groups: md5(text) → representative id + group size. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("fp"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).cast(LongType).as("n_dups"))

  /** Exact duplicate groups keeping the LONGEST member (lowest id on
    * ties) — the keep-policy real pipelines use, where [[exactGroups]]'
    * min-id is the neutral baseline: among byte-identical texts any
    * member works, but the same policy applied to near-dup clusters
    * keeps the most complete version. Two small aggregates + a group-key
    * join (group sizes are duplicate counts — tiny); no window.
    */
  def exactGroupsKeepLongest(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val g = docs.select(
      md5(col(textCol)).as("fp"), length(col(textCol)).as("len"), col(idCol))
    val m = g.groupBy(col("fp").as("m_fp")).agg(
      max(col("len")).as("keep_len"),
      count(lit(1)).cast(LongType).as("n_dups"))
    g.join(m, col("fp") === col("m_fp") && col("len") === col("keep_len"))
      .groupBy(col("fp"), col("keep_len"), col("n_dups"))
      .agg(min(col(idCol)).as("keep_id"))
      .select(col("fp"), col("keep_id"), col("n_dups"),
        col("keep_len").cast(LongType).as("keep_len"))
  }

  /** Distinct (id, shingle) pairs — the MinHash input set. The explode
    * runs at full parallelism: big inputs arrive pre-split by parquet
    * (maxPartitionBytes), and a small-file input is conditionally
    * re-spread first ([[graft.sources.Tables.spread]] — identity on big
    * scans), so one unsplittable row group can't serialize the shingling.
    * The dedup shuffle moves exploded shingles, never raw document text.
    */
  def shingleSet(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    graft.sources.Tables.spread(docs)
      .select(col(idCol), explode(TextAnalysis.shingles(col(textCol), n)).as("shingle"))
      .distinct()

  /** Boilerplate phrase density per group (the phrase-grained analog of
    * CCNet-style line dedup): a distinct n-gram shingle whose document
    * frequency reaches `minDf` is boilerplate (headers, footers, injected
    * notices repeated across pages), and each `groupCol` value (source,
    * domain, crawl) is scored by the fraction of its distinct shingles
    * that are boilerplate. Output: (groupCol, n_shingles, n_boiler,
    * boiler_ratio).
    *
    * Plan shape: the shingle document-frequency aggregate (one shuffle on
    * the shingle), joined back to the shingle stream (second shuffle) and
    * aggregated per group (third) — no per-phrase driver loop, no
    * all-pairs work; the hot-phrase side collapses to one row per shingle
    * before the join, so a phrase shared by millions of docs costs one
    * aggregate row, not a blowup.
    */
  def boilerplateStats(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int = 3, minDf: Int = 3): DataFrame = {
    // sh feeds both the df aggregate and the per-source join leg:
    // checkpoint so the corpus shingle explode runs once, not twice
    val sh = Pin(shingleSet(docs, idCol, textCol, n))
    val boiler = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("shingle"), lit(1).as("hit"))
    sh.join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
      .join(boiler, Seq("shingle"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0)))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast(LongType).as("n_shingles"),
        sum(col("hit")).cast(LongType).as("n_boiler"),
        (sum(col("hit")).cast("double") /
          count(lit(1)).cast("double")).as("boiler_ratio"))
  }

  /** All `numHashes` minhashes as ONE aggregation on the doc id: each
    * seed's `min(hash(seed || '|' || shingle))` is its own agg column, so
    * the shingle rows are never replicated `numHashes`× and the whole
    * signature computation costs a single shuffle. Shingle duplicates
    * don't need pre-deduping — min over a multiset equals min over its
    * set. Output: (id, mh0 … mh{n-1}).
    *
    * The hash VALUE is the high 60 bits of the md5 as a BIGINT (still
    * portable: `CAST('0x' || substr(md5(..),1,15) AS BIGINT)` in ANSI
    * engines). Numeric minhashes matter for the plan: `min` over a
    * fixed-width long plans as a partial-aggregating HashAggregate, where
    * `min` over a variable-length string forces a SortAggregate that
    * SORTS every exploded shingle row before aggregating — at corpus
    * scale that sort dwarfs the hashing itself.
    */
  def minhashWide(shingles: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map { i =>
      min(conv(substring(md5(concat(lit(s"$i|"), col("shingle"))), 1, 15), 16, 10)
        .cast(LongType)).as(s"mh$i")
    }
    shingles.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Long-format unpivot of an existing wide signature frame — map-side
    * only, so consumers that already hold (or persist) the wide frame pay
    * no re-aggregation.
    */
  def signaturesFromWide(wide: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val stackArgs = (0 until numHashes)
      .map(i => s"${i}L, mh$i").mkString(", ")
    wide.select(col(idCol),
      expr(s"stack($numHashes, $stackArgs)").as(Seq("seed", "minhash")))
  }

  /** All unordered (a < b) pairs drawn from an array column — nested
    * `transform` over the sorted member list, flattened. Pure Catalyst
    * expressions (codegen'd); output size is sum over buckets of C(n,2).
    * Public because it's the generic per-group pair generator for groups
    * with a NATURAL size bound (market baskets in dm_part_affinity: one
    * order's line items) — one shuffle on the group key, pairs generated
    * map-side from each list. Dedup's LSH/pigeonhole buckets do NOT use
    * it: a bucket there can grow with the corpus, so they pair via the
    * count-filtered bucket equi-join ([[candidatePairs]]) instead of
    * materializing a bucket as one aggregation row.
    */
  def pairsFromSortedArray(ids: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    flatten(
      transform(ids, (a, i) =>
        transform(
          slice(ids, i + 2, greatest(size(ids) - i - 1, lit(0))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))

  /** The shared size-filtered bucket-pair generator behind every
    * LSH/pigeonhole candidate operator: all unordered same-bucket pairs
    * (a < b, distinct), restricted to buckets whose population passes
    * `sizeFilter`. Two properties make it the scale shape:
    *
    *  - no bucket is ever materialized as one aggregation row (a
    *    collect_set would OOM on an adversarial bucket holding a large
    *    corpus fraction); pairs stream through join tasks instead;
    *  - the bucket population comes from a count-over-WINDOW on the same
    *    keys the self-join shuffles on, so the band lineage upstream is
    *    computed ONCE: both join sides are the identical subplan and
    *    Spark's ReuseExchange serves the second side from the first's
    *    shuffle files (an aggregate+semi-join formulation would compute
    *    the lineage again for the size branch).
    *
    * `carry` columns ride each side, suffixed `_a`/`_b` (e.g. the
    * simhash value for the Hamming residual filter).
    */
  def bucketPairs(bands: DataFrame, bucketCols: Seq[String], idCol: String,
      carry: Seq[String] = Nil,
      sizeFilter: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        _ > 1): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bucketCols.map(col): _*)
    val sized = bands
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(sizeFilter(col("__bn")))
      .drop("__bn")
    def side(sfx: String) = sized.select(
      (bucketCols.map(col) :+ col(idCol).as(s"doc$sfx")) ++
        carry.map(c => col(c).as(s"$c$sfx")): _*)
    side("_a").join(side("_b"), bucketCols)
      .filter(col("doc_a") < col("doc_b"))
      .drop(bucketCols: _*)
      .distinct()
  }

  /** Candidate near-dup pairs: docs sharing any band bucket (a < b) —
    * [[bucketPairs]] over the (band, band_key) buckets.
    */
  def candidatePairs(bands: DataFrame, idCol: String): DataFrame =
    bucketPairs(bands.select(col("band"), col("band_key"), col(idCol)),
      Seq("band", "band_key"), idCol)

  /** Candidate pairs for an INCREMENTAL batch against a growing corpus:
    * pairs sharing a band bucket where at least one side is new. The
    * historical side arrives as its (persisted) band keys — history is
    * never re-shingled or re-hashed; only the new batch computes
    * signatures, and the bucket equi-join touches exactly the buckets
    * the new docs land in. `allBands` must already include `newBands`
    * (append new to the store, then pass the whole store), so
    * new-vs-new pairs surface too. One shuffle on the bucket key.
    *
    * Invariant (spec-asserted): one-shot pairs over the full corpus ==
    * pairs(batch₁) ∪ incremental(batch₂ vs batch₁∪batch₂).
    */
  def incrementalCandidatePairs(allBands: DataFrame, newBands: DataFrame,
      idCol: String): DataFrame =
    newBands.select(col("band"), col("band_key"), col(idCol).as("new_id"))
      .join(
        allBands.select(col("band"), col("band_key"), col(idCol).as("other_id")),
        Seq("band", "band_key"))
      .filter(col("new_id") =!= col("other_id"))
      .select(
        least(col("new_id"), col("other_id")).as("doc_a"),
        greatest(col("new_id"), col("other_id")).as("doc_b"))
      .distinct()

  /** Per-band bucket keys straight from the wide signature row — pure
    * map-side (no second aggregation): band b's key is the seed-ordered
    * concat of its minhashes.
    */
  def bandKeysFromWide(wide: DataFrame, idCol: String, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      struct(
        lit(b.toLong).as("band"),
        concat_ws(",",
          (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
          .as("band_key"))
    }
    wide
      .select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.band_key"))
  }

  /** End-to-end MinHash-LSH candidate pairs: TWO shuffles total (wide
    * signatures, bucket grouping) regardless of `numHashes` — and the
    * signature shuffle is tiny, because the 16 min-aggregates combine
    * map-side to one row per (doc, partition) before moving anything.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3): DataFrame = {
    // no distinct: min() is duplicate-insensitive, so the dedup shuffle
    // of shingleSet is pure overhead here
    val shingles = graft.sources.Tables.spread(docs)
      .select(col(idCol), explode(TextAnalysis.shingles(col(textCol), shingleN)).as("shingle"))
    candidatePairs(
      bandKeysFromWide(
        minhashWide(shingles, idCol, numHashes), idCol, numHashes, rowsPerBand),
      idCol)
  }

  /** Duplicate clusters from candidate pairs: connected components by
    * min-label propagation with pointer jumping. Each round, every node
    * adopts the smallest of three labels, all read from the previous
    * round's labels: its own, its neighbors', and the label of its label
    * (`labels ⋈ labels` on `cluster = id`). Round 1 is the initial
    * labeling itself — one aggregate, no join — because there every label
    * is still the node's own id.
    *
    * Convergence: labels only decrease, and every label is the id of a
    * node in the same component, so the component's minimum node keeps
    * its own id and no label drops below it. A round with no change means
    * no node's label exceeds a neighbor's, so labels are constant on each
    * component — equal to its minimum. The loop therefore always ends,
    * and in no more rounds than plain propagation (its labels are
    * pointwise ≤ plain propagation's). The jump is what makes deep
    * components cheap: a 1000-node chain converges in 12 rounds where
    * plain propagation needs 1000; dup clusters from banded LSH are
    * shallow and converge in 2-4.
    *
    * Each round's inputs are pinned ([[Pin]]), not merely cached: a
    * cache leaves the full logical plan in place, so round N re-plans
    * (and Janino-recompiles) the whole upstream LSH pipeline N times
    * over — measured as a >150s cold stall at sf0.1. Checkpointing
    * truncates lineage, making per-round planning O(1). The previous
    * round's label is carried through the aggregate (`max` ignores the
    * other branches' nulls), so convergence is a bounded `limit(1)`
    * probe on the just-materialized round — no extra join, no extra job.
    * Checkpoint blocks are released by Spark's ContextCleaner as the
    * intermediate datasets go out of scope; callers own nothing.
    *
    * Output: (doc_id, cluster) where cluster = min doc id of the
    * component; only docs that appear in some pair are labeled.
    */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val edges = Pin(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val noPrev = lit(null).cast(edges.schema("src").dataType).as("prev")
    var labels = Pin(edges.groupBy(col("src")).agg(min(col("dst")).as("m"))
      .select(col("src").as("id"), least(col("src"), col("m")).as("cluster")))
    var converged = false
    while (!converged) {
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("cluster"), noPrev)
      val jumped = labels.withColumnRenamed("cluster", "via")
        .join(labels.withColumnRenamed("id", "via"), Seq("via"))
        .select(col("id"), col("cluster"), noPrev)
      val own = labels.select(col("id"), col("cluster"),
        col("cluster").as("prev"))
      val next = Pin(own.union(neighborLabels).union(jumped)
        .groupBy(col("id"))
        .agg(min(col("cluster")).as("cluster"), max(col("prev")).as("prev")))
      converged = next.filter(col("cluster") =!= col("prev")).limit(1).isEmpty
      labels = next.select(col("id"), col("cluster"))
    }
    labels.select(col("id").as("doc_id"), col("cluster"))
  }

  /** Incremental cluster maintenance: fold a NEW batch's candidate pairs
    * into an already-computed labeling without re-clustering history.
    * The old labeling is itself a star graph (member → component rep)
    * that preserves exactly the old connectivity, so running CC over
    * {old star edges} ∪ {new pairs} yields the same components — and the
    * same min-id cluster ids — as one-shot clustering of the full pair
    * set. Pair generation for the new batch comes from
    * [[incrementalCandidatePairs]] (history is never re-shingled), so
    * the whole incremental path touches old data only through its
    * persisted labels and band keys.
    *
    * Scale: the star edges are one row per already-clustered doc (far
    * smaller than the historical pair set), and history is pre-collapsed,
    * so the loop's rounds follow the new pairs' components.
    */
  def mergeClusters(labels: DataFrame, newPairs: DataFrame): DataFrame =
    dupClusters(
      labels.filter(col("doc_id") =!= col("cluster"))
        .select(col("doc_id").as("doc_a"), col("cluster").as("doc_b"))
        .union(newPairs.select(col("doc_a"), col("doc_b"))))

  /** Train→eval n-gram contamination report — the decontamination step a
    * training pipeline runs before accepting a train/test split: for each
    * doc in `evalSplit`, how many of its word n-grams also occur anywhere
    * in the train split (and the worst-case train document frequency).
    *
    * Scale shape: the split predicate pushes down into both branch scans
    * (each branch explodes only its own split's documents — disjoint
    * subsets, no duplicated shingling), the train side collapses to ONE
    * row per distinct shingle (a partial-aggregated count of train docs),
    * and the eval side joins that 1:1 on the shingle key — so the join
    * output is bounded by the eval shingle count, never a doc × doc
    * blowup when a stop-phrase occurs in millions of train documents.
    * Shuffles: one shingle-dedup per branch, the train-df aggregate, the
    * shingle-keyed join, and the per-doc report aggregate.
    *
    * Output: (id, n_shingles, n_contaminated, max_train_df) — one row per
    * eval doc with ≥ 1 shingle; n_contaminated > 0 flags a leak.
    */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
      splitCol: String, n: Int = 5, trainSplit: String = "train",
      evalSplit: String = "test"): DataFrame = {
    // sh feeds both the train-df aggregate and the eval probe side, but
    // deliberately NOT checkpointed: materializing the distinct 5-gram
    // strings costs more than re-running the pipelined explode (measured
    // 7.3 vs 6.2 s at sf1 — the opposite balance from boilerplateStats'
    // 3-gram frame, which is consumed by two JOIN legs)
    val sh = graft.sources.Tables.spread(docs)
      .select(col(idCol), col(splitCol),
        explode(TextAnalysis.shingles(col(textCol), n)).as("shingle"))
      .distinct()
    val trainDf = sh.filter(col(splitCol) === trainSplit)
      .groupBy(col("shingle"))
      .agg(count(lit(1)).cast(LongType).as("train_df"))
    sh.filter(col(splitCol) === evalSplit)
      .select(col(idCol), col("shingle"))
      .join(trainDf, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast(LongType).as("n_shingles"),
        count(col("train_df")).cast(LongType).as("n_contaminated"),
        max(coalesce(col("train_df"), lit(0L))).as("max_train_df"))
  }

  /** Exact duplicated-substring occurrences: one row per L-token window
    * position, keyed by the md5 of the window's text. The distributed
    * re-expression of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): a span
    * of ≥ L tokens duplicated anywhere in the corpus necessarily
    * duplicates every L-token window inside it, so the window index finds
    * exactly the positions suffix arrays would — with a map-side window
    * explode + hash aggregates instead of a global sort/suffix structure
    * no cluster can build at 100 TB. Windows come off each doc's token
    * array in place (like [[shingleSet]]); only (id, pos, hash) rows
    * shuffle, never text.
    */
  def spanOccurrences(docs: DataFrame, idCol: String, textCol: String,
      l: Int): DataFrame =
    graft.sources.Tables.spread(docs)
      .select(col(idCol),
        posexplode(TextAnalysis.shingles(col(textCol), l)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos").cast(LongType).as("pos"),
        md5(col("gram")).as("span_h"))

  /** The corpus's duplicated-span index over a [[spanOccurrences]] frame:
    * every L-token window text that occurs more than once (within OR
    * across documents — suffix-array semantics; within-doc
    * self-repetition is duplication too), with its occurrence and
    * document counts. One hash aggregate on the span hash. Consumers
    * share one (possibly persisted) occurrence frame instead of
    * re-windowing the corpus.
    */
  def duplicatedSpanIndexFromOcc(occ: DataFrame, idCol: String): DataFrame =
    occ
      .groupBy(col("span_h"))
      .agg(
        count(lit(1)).cast(LongType).as("n_occ"),
        countDistinct(col(idCol)).cast(LongType).as("n_docs"))
      .filter(col("n_occ") > 1)

  /** The persisted span-count store over a [[spanOccurrences]] frame: one
    * row per distinct L-token window text with its corpus occurrence
    * count — the substring analog of the LSH band-key store. Incremental
    * maintenance appends a batch's counts instead of re-windowing history.
    */
  def spanCountStoreFromOcc(occ: DataFrame): DataFrame =
    occ
      .groupBy(col("span_h"))
      .agg(count(lit(1)).cast(LongType).as("n_old"))

  /** Incremental substring-dedup maintenance: the spans that are
    * duplicated corpus-wide AND involve the new batch, computed from the
    * persisted count store plus the NEW batch's occurrences only —
    * history text is never re-windowed, and the keyed left join touches
    * exactly the store rows the new spans land on. `store` is the
    * PRE-batch state (unlike the band-key store contract, which appends
    * first): totals are store + new, so new-vs-new duplication — a span
    * occurring twice inside the batch but absent from history — surfaces
    * too. Output: (span_h, n_occ, n_new), n_occ > 1.
    */
  def incrementalDuplicatedSpans(store: DataFrame, newOcc: DataFrame): DataFrame =
    newOcc
      .groupBy(col("span_h"))
      .agg(count(lit(1)).cast(LongType).as("n_new"))
      .join(store, Seq("span_h"), "left")
      .select(
        col("span_h"),
        (coalesce(col("n_old"), lit(0L)) + col("n_new")).as("n_occ"),
        col("n_new"))
      .filter(col("n_occ") > 1)

  /** Per-document duplicated-token coverage: how many of each doc's
    * tokens sit inside some L-token window whose text occurs ≥ 2 times in
    * the corpus — the quantity Lee et al. cut on. Overlapping duplicated
    * windows are merged into islands first (interval union), so a long
    * duplicated passage counts each token once, not once per window.
    *
    * Plan shape: the window functions are PARTITIONED BY document (the
    * per-doc position list is bounded by doc length, never corpus-wide),
    * the duplicate filter is a left-semi join on the span hash, and the
    * final join back to the corpus is per-doc 1:1. Output:
    * (id, n_tokens, n_dup_tokens) for every document, 0 for clean docs.
    *
    * `occ` is `docs`' [[spanOccurrences]] frame at the same `l`. It feeds
    * BOTH the duplicate-key aggregate and the semi-join probe side, so
    * pass a persisted or pinned frame, or the corpus is windowed twice.
    */
  def duplicatedSpanCoverageFromOcc(docs: DataFrame, occ: DataFrame,
      idCol: String, textCol: String, l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dupKeys = occ.groupBy(col("span_h"))
      .agg(count(lit(1)).as("n_occ")).filter(col("n_occ") > 1)
      .select(col("span_h"))
    val dupPos = occ.join(dupKeys, Seq("span_h"), "left_semi")
      .select(col(idCol), col("pos"))
    val before = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upTo = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = dupPos
      .withColumn("prev_end", max(col("pos") + l).over(before))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(upTo))
    val covered = islands
      .groupBy(col(idCol), col("island"))
      .agg((max(col("pos") + l) - min(col("pos"))).as("covered"))
      .groupBy(col(idCol))
      .agg(sum(col("covered")).cast(LongType).as("n_dup_tokens"))
    docs
      .select(col(idCol),
        size(split(col(textCol), " ")).cast(LongType).as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
  }

  /** APPLY the substring-dedup policy — the transform a pipeline runs
    * AFTER [[duplicatedSpanCoverageFromOcc]] measures the cut quantity. Each
    * doc's duplicated L-token windows merge into islands (same interval
    * union), then:
    *  - DROP a document whose islands cover at least half its tokens
    *    (2·n_dup_tokens ≥ n_tokens — integer arithmetic, no float
    *    threshold to diverge across engines);
    *  - TRIM everyone else with duplication: remove exactly the island
    *    tokens, keep the rest in order;
    *  - KEEP clean documents verbatim.
    *
    * Output: (id, action, n_tokens, n_dup_tokens, text_clean), one row
    * per input doc; text_clean is NULL for dropped docs. Retained text ≡
    * original minus indexed islands (DedupSpec proves it against
    * brute-force position marking).
    *
    * Plan shape: the island windows stay doc-partitioned (bounded by doc
    * length), the trim is a per-doc anti-join of token positions against
    * island ranges, and the rebuild is one ordered per-doc aggregation —
    * no corpus-wide window, no global sort, text only ever grouped by
    * its own doc id.
    */
  def duplicatedSpanApply(docs: DataFrame, occ: DataFrame, idCol: String,
      textCol: String, l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dupKeys = occ.groupBy(col("span_h"))
      .agg(count(lit(1)).as("n_occ")).filter(col("n_occ") > 1)
      .select(col("span_h"))
    val dupPos = occ.join(dupKeys, Seq("span_h"), "left_semi")
      .select(col(idCol), col("pos"))
    val before = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upTo = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = dupPos
      .withColumn("prev_end", max(col("pos") + l).over(before))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(upTo))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos") + l).as("e"))
    val covered = islands.groupBy(col(idCol))
      .agg(sum(col("e") - col("s")).cast(LongType).as("n_dup_tokens"))
    val base = docs
      .select(col(idCol), col(textCol),
        size(split(col(textCol), " ")).cast(LongType).as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .withColumn("n_dup_tokens", coalesce(col("n_dup_tokens"), lit(0L)))
    val toks = docs.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
      .select(col(idCol), col("pos").cast(LongType).as("pos"), col("tok"))
    val ranges = islands
      .select(col(idCol).as("__iid"), col("s"), col("e"))
    val kept = toks.join(ranges,
      col(idCol) === col("__iid") && col("pos") >= col("s") && col("pos") < col("e"),
      "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("__trimmed"))
    val dropCond = col("n_dup_tokens") * 2 >= col("n_tokens")
    base.join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        when(dropCond, "drop")
          .when(col("n_dup_tokens") > 0, "trim")
          .otherwise("keep").as("action"),
        col("n_tokens"), col("n_dup_tokens"),
        when(dropCond, lit(null).cast("string"))
          .when(col("n_dup_tokens") > 0, col("__trimmed"))
          .otherwise(col(textCol)).as("text_clean"))
  }

  /** Exact Jaccard similarity for given (doc_a, doc_b) pairs — the
    * verification stage after LSH candidate generation.
    *
    * Shape: semi-join the shingle stream down to docs that appear in a
    * pair (candidates are output-bounded), aggregate each candidate
    * doc's shingles into ONE per-doc array (bounded by that doc's own
    * size — the legal grain for a collected array; unordered, since
    * `size`/`array_intersect` are order-insensitive), then attach both
    * arrays to each pair and intersect them MAP-SIDE
    * (`array_intersect`). A shingle-grain intersection join would
    * explode every candidate pair into |doc| rows before re-aggregating
    * (measured 17M intermediate rows for 334k candidates at sf1); here
    * the post-candidate cost is two |pairs|-row joins and an O(|a|+|b|)
    * per-row intersect, and no corpus-wide shuffle survives past the
    * semi-join.
    *
    * Contract (same as the original intersection-join shape): a pair
    * with ZERO shared shingles produces no output row, and a pair
    * naming a doc with no shingles at all likewise vanishes.
    */
  def jaccardForPairs(shingles: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    pairOverlapCounts(shingles, idCol, pairs)
      .select(
        col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double")).as("jaccard"))

  /** The shared verify stage of [[jaccardForPairs]] and
    * [[overlapCoefficientPairs]]: per-pair exact set sizes and
    * intersection counts (doc_a, doc_b, n_inter, na, nb), zero-overlap
    * pairs dropped — the similarity formula is the only thing that
    * differs between the set-similarity measures.
    */
  private def pairOverlapCounts(shingles: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val candDocs = pairs.select(col("doc_a").as(idCol))
      .unionByName(pairs.select(col("doc_b").as(idCol)))
      .distinct()
    val docArrays = shingles.join(candDocs, Seq(idCol), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("arr"))
    pairs
      .join(docArrays.select(col(idCol).as("doc_a"), col("arr").as("__arr_a")),
        Seq("doc_a"))
      .join(docArrays.select(col(idCol).as("doc_b"), col("arr").as("__arr_b")),
        Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        size(array_intersect(col("__arr_a"), col("__arr_b")))
          .cast(LongType).as("n_inter"),
        size(col("__arr_a")).cast(LongType).as("na"),
        size(col("__arr_b")).cast(LongType).as("nb"))
      .filter(col("n_inter") > 0)
  }

  /** Exact OVERLAP-COEFFICIENT (Szymkiewicz–Simpson) near-dup pairs:
    * C(a,b) = |a∩b| / min(|a|,|b|) ≥ threshold — the CONTAINMENT face
    * symmetric Jaccard misses: a short document quoted wholesale inside
    * a long one scores C ≈ 1 but J ≈ |short|/|long| ≈ 0, so a Jaccard
    * gate keeps the quote-duplicate a training pipeline wants gone.
    * Same brute-force shape as [[bruteForceJaccardPairs]] (bound the doc
    * sample; the LSH/prefix candidate paths slot in front of the same
    * verify for the full corpus): shingle equi-join candidates, the
    * shared map-side array-intersect verify, one pinned double division.
    */
  def overlapCoefficientPairs(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"overlap coefficient needs 0 < threshold <= 1, got $threshold")
    val sh = shingleSet(docs, idCol, textCol, shingleN)
    val all = sh.select(col(idCol).as("doc_a"), col("shingle"))
      .join(sh.select(col(idCol).as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    pairOverlapCounts(sh, idCol, all)
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("overlap"))
      .filter(col("overlap") >= threshold)
  }

  /** [[jaccardForPairs]] restricted to `jaccard >= threshold`, with a
    * HASH prefilter ahead of the exact string verify: candidate docs'
    * shingle sets are first collected as xxhash64 values (8-byte longs
    * vs ~20-byte shingle strings — the verify joins ship 2.5× less
    * data), pairs are scored on the hash sets, and only survivors reach
    * [[jaccardForPairs]]' string arrays.
    *
    * EXACT despite the hashing: a within-doc collision only SHRINKS a
    * set (|h(s)| <= |s|) and a cross-doc collision only GROWS the
    * intersection, so hash-Jaccard >= true Jaccard on every pair — the
    * prefilter's survivors are a superset of the true >= t pairs, and
    * the string verify still computes the reported values. (At sf1 the
    * survivor set is ~1% of candidates, so the second collect touches a
    * trivial doc population.)
    */
  def jaccardForPairsAtLeast(shingles: DataFrame, idCol: String,
      pairs: DataFrame, threshold: Double): DataFrame = {
    // materialize the candidate pairs ONCE, then pick the verify shape
    // on the real pair count: below ~64k pairs the hash prefilter's
    // extra collect/join stages cost more than the string verify they
    // would prune (A/B r17, sf0.1: prefilter 4.8 s vs direct 3.5 s
    // warm; at sf1's 334k candidates the prefilter wins ~19 → ~13.5 s).
    // Callers that can tell large-scale from a frame they have already
    // materialized (the PPJoin's prefix index) branch without this
    // count — see prefixJaccardPairsFrom.
    val p = Pin(pairs)
    if (p.count() < 65536)
      jaccardForPairs(shingles, idCol, p)
        .filter(col("jaccard") >= threshold)
    else prefilteredVerify(shingles, idCol, p, threshold)
  }

  /** The hash-prefiltered exact verify of [[jaccardForPairsAtLeast]],
    * unconditionally: callers must pass a MATERIALIZED pair frame (it is
    * consumed twice here and its survivors three more times downstream).
    *
    * `pairs` is consumed by the candDoc derivation and the survivors
    * scoring join, and `survivors` feeds [[jaccardForPairs]] which
    * consumes its pairs three more times — both are checkpointed (the
    * caller's `pairs` contract + the pin below) so the candidate join
    * never re-runs (~5× re-derivation before r17's fix).
    */
  private def prefilteredVerify(shingles: DataFrame, idCol: String,
      p: DataFrame, threshold: Double): DataFrame = {
    val candDocs = p.select(col("doc_a").as(idCol))
      .unionByName(p.select(col("doc_b").as(idCol)))
      .distinct()
    val hashArrays = shingles.join(candDocs, Seq(idCol), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(xxhash64(col("shingle"))).as("arr"))
    val survivors = Pin(p
      .join(hashArrays.select(col(idCol).as("doc_a"), col("arr").as("__ha")),
        Seq("doc_a"))
      .join(hashArrays.select(col(idCol).as("doc_b"), col("arr").as("__hb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("__ha"), col("__hb")))
          .cast(LongType).as("__ni"),
        size(col("__ha")).cast(LongType).as("__na"),
        size(col("__hb")).cast(LongType).as("__nb"))
      .filter(col("__ni") > 0)
      .filter(col("__ni").cast("double") /
        (col("__na") + col("__nb") - col("__ni")).cast("double") >= threshold)
      .select(col("doc_a"), col("doc_b")))
    jaccardForPairs(shingles, idCol, survivors)
      .filter(col("jaccard") >= threshold)
  }

  /** All exact-Jaccard pairs above a threshold — brute force, for recall
    * testing at small scale only (O(n²) via the shingle join, not a cross
    * join, but still quadratic in matching docs).
    */
  def bruteForceJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    val sh = shingleSet(docs, idCol, textCol, shingleN)
    val all = sh.select(col(idCol).as("doc_a"), col("shingle"))
      .join(sh.select(col(idCol).as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    jaccardForPairsAtLeast(sh, idCol, all, threshold)
  }

  /** EXACT Jaccard-similarity join by prefix filtering (the AllPairs /
    * PPJoin family — Bayardo et al., "Scaling Up All Pairs Similarity
    * Search"; Xiao et al., PPJoin): every pair with
    * `jaccard >= threshold`, with NO false negatives, without MinHash's
    * probabilistic recall and without the brute-force shingle self-join.
    *
    * How: order every document's shingles by a single global total order
    * — (document frequency ASC, shingle) — so the RAREST shingles come
    * first. If `J(a,b) >= t` then `|a∩b| >= ceil(t·|s|)` for both sets
    * `s`, and the prefix-filter lemma says the first
    * `|s| - ceil(t·|s|) + 1` shingles of each side must share at least
    * one shingle. Candidates therefore come from an equi-join of PREFIX
    * rows only — dominated by rare shingles, so bucket sizes stay small
    * where a full shingle join would square the hot-shingle rows. A size
    * filter (`min_sz >= t·max_sz`, also implied by `J >= t`) prunes
    * further. Survivors are verified exactly by [[jaccardForPairs]].
    *
    * Beyond the basic prefix filter, the full PPJoin candidate pruning:
    *
    *  - ASYMMETRIC INDEX PREFIX (Xiao et al. §4): for a true pair the
    *    smaller side y satisfies `o >= 2t/(1+t)·|y|` (from
    *    `o >= t/(1+t)·(|x|+|y|)` with `|x| >= |y|`), so y only needs its
    *    shorter "index prefix" of `|y| - ceil(2t/(1+t)·|y|) + 1`
    *    shingles. The candidate join is probe-prefix (full prefix, the
    *    `>=`-sized side) ⋈ index-prefix (the `<=`-sized side) — at
    *    t=0.7 the index side shrinks from 30% to ~18% of each doc's
    *    shingles, and hot-bucket join populations shrink with the
    *    PRODUCT of the two prefixes.
    *  - POSITIONAL FILTER (Xiao et al. §3.2): a join row matching
    *    shingle w at rank `rp` in the probe doc and `ri` in the index
    *    doc bounds the overlap by `1 + min(szp-rp, szi-ri)` — for the
    *    pair's FIRST shared shingle in the global order, nothing before
    *    w is shared, so the bound is tight there and the witness row
    *    always survives; rows failing
    *    `(1 + min(szp-rp, szi-ri))·(1+t) >= t·(szp+szi)` are pruned
    *    before the distinct/verify.
    *
    * Exactness: every pruning rule is a necessary condition of `J >= t`
    * on the pair's witness row (its globally-first shared shingle, which
    * provably sits in both prefixes), and the verify stage recomputes
    * the true Jaccard — so the output equals brute force (DedupSpec
    * asserts it at t=0.3/0.7/0.95; the registered query's oracle IS the
    * brute-force formulation).
    *
    * Scale shape: df aggregate (shuffle on shingle), per-DOC windows for
    * the prefix ranks (never a global window), prefix equi-join (shuffle
    * on shingle), verify join (shuffles on doc id) — all keyed; nothing
    * all-pairs, nothing single-task. All threshold arithmetic is in
    * DECIMAL (multiplication only on the PPJoin rules — no division, so
    * no repeating-decimal rounding) so prefix lengths and bounds never
    * wobble on float representation (0.7·10 = 7.000000000000001 would
    * ceil to 8 and SHORTEN a prefix, dropping true pairs).
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: BigDecimal, shingleN: Int = 3): DataFrame = {
    // validate BEFORE the pin below: an invalid threshold must fail
    // fast, not after materializing a full corpus shingle checkpoint
    // (prefixRanked/prefixJaccardPairsFrom re-check, but only after the
    // eager pin has already run)
    require(threshold > 0 && threshold <= 1,
      s"prefix filtering needs 0 < threshold <= 1, got $threshold")
    // the shingle set feeds the df agg, the ranked frame, and the verify
    // join's three legs; the ranked frame feeds both candidate sides.
    // checkpoint each once instead of re-shingling / re-windowing the
    // corpus per consumer (see Pin for the checkpoint tradeoff)
    val sh = Pin(shingleSet(docs, idCol, textCol, shingleN))
    val ranked = Pin(prefixRanked(sh, idCol, threshold))
    prefixJaccardPairsFrom(sh, ranked, idCol, threshold)
  }

  /** The probe-prefix index of [[prefixJaccardPairs]] as a standalone
    * plan (no materialization — the caller checkpoints or persists it):
    * rarity-ordered shingle ranks, filtered to each doc's probe prefix.
    *
    * NOTE on sharing: do NOT wire this through `Frames.shared` —
    * session-sharing the sh/ranked frames across executions was A/B'd
    * (r16, `Debug --repeat=3` same window) at 2.4× SLOWER than the
    * operator's per-execution localCheckpoints: cached inputs degrade
    * the candidate/verify join planning. The split exists for plan
    * composition (and so an external caller with a genuinely reliable
    * checkpoint dir CAN persist it), not as a speed lever here.
    */
  def prefixRanked(sh: DataFrame, idCol: String,
      threshold: BigDecimal): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"prefix filtering needs 0 < threshold <= 1, got $threshold")
    val t = lit(threshold.underlying()) // exact decimal literal
    val dfs = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).cast(LongType).as("df"))
    // sz and the prefix rank share ONE shuffle on the doc id: an
    // unordered count-over-partition and the ordered row_number are two
    // window execs over the same exchange
    val byDocAll = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val byDoc = byDocAll.orderBy(col("df"), col("shingle"))
    // only PROBE-PREFIX rows are ever consumed downstream — the index
    // prefix is a subset (2t/(1+t) >= t for t <= 1 only shortens it) and
    // the verify stage reads `sh`, not `ranked` — so the probe filter
    // runs BEFORE the materialization: the persisted frame holds the
    // ~30% prefix rows at t=0.7 instead of every (doc, shingle) row, and
    // the unused df column is dropped with it
    sh.join(dfs, Seq("shingle"))
      .withColumn("sz", count(lit(1)).over(byDocAll))
      .withColumn("rn", row_number().over(byDoc))
      // probe prefix: rn <= sz - ceil(t·sz) + 1
      .filter(col("rn") <= col("sz") - ceil(col("sz") * t) + lit(1))
      .select(col(idCol), col("shingle"), col("sz"), col("rn"))
  }

  /** [[prefixJaccardPairs]]' candidate + verify stages over an existing
    * MATERIALIZED (checkpointed/persisted) shingle set and
    * [[prefixRanked]] frame — `ranked.count()` is taken below to pick
    * the verify shape, so a lazy frame would compute twice.
    */
  /** Probe-side projection of a prefix-rank frame (pid/psz/prn). */
  def ppjoinProbe(ranked: DataFrame, idCol: String): DataFrame =
    ranked.select(col(idCol).as("pid"), col("shingle"),
      col("sz").as("psz"), col("rn").as("prn"))

  /** Index-side projection of a prefix-rank frame: the shorter index
    * prefix `rn <= sz - ceil(2t/(1+t)·sz) + 1`, division-free as
    * `2t·sz <= (sz - rn + 1)·(1+t)` (RHS integer·decimal — exact; the
    * ceil drops because ceil(x) <= n ⟺ x <= n for integer n).
    */
  def ppjoinIndex(ranked: DataFrame, idCol: String,
      threshold: BigDecimal): DataFrame = {
    val t = lit(threshold.underlying())
    ranked
      .filter(col("sz") * t * lit(2) <= (col("sz") - col("rn") + lit(1)) * (t + lit(1)))
      .select(col(idCol).as("iid"), col("shingle"),
        col("sz").as("isz"), col("rn").as("irn"))
  }

  /** The PPJoin candidate stage over prepared probe/index prefix frames
    * ([[ppjoinProbe]]/[[ppjoinIndex]] projections): shingle equi-join +
    * size/length/positional filters → distinct (doc_a < doc_b) pairs.
    * Factored out so the one-shot operator and the streaming maintainer
    * ([[graft.streaming.StreamDedup.applyPrefixBatch]]) share EXACTLY
    * the same pruning rules. Every rule is a necessary condition of
    * J >= t on the pair's witness row under the frames' total shingle
    * order — ANY total order: the witness (the pair's first shared
    * shingle in that order) provably sits in both prefixes regardless of
    * how shingles are ranked; rarity ordering only shrinks candidate
    * counts.
    */
  def ppjoinCandidates(probe: DataFrame, index: DataFrame,
      threshold: BigDecimal): DataFrame = {
    val t = lit(threshold.underlying())
    val onePlusT = t + lit(1)
    probe.join(index, Seq("shingle"))
      .filter(col("pid") =!= col("iid") &&
        col("psz") >= col("isz") && // probe is the >=-sized side
        col("isz").cast("decimal(20,0)") >= col("psz") * t && // length filter
        // positional filter: overlap upper bound on the witness row
        (lit(1) + least(col("psz") - col("prn"), col("isz") - col("irn"))) *
          onePlusT >= (col("psz") + col("isz")) * t)
      .select(least(col("pid"), col("iid")).as("doc_a"),
        greatest(col("pid"), col("iid")).as("doc_b"))
      .distinct()
  }

  /** [[prefixRanked]] under the FIXED (xxhash64(shingle), shingle) total
    * order instead of rarity: document-frequency-free, so a document's
    * prefix NEVER drifts as the corpus grows — the property the
    * incremental/streaming PPJoin needs (a df-ordered prefix would have
    * to re-rank every stored document whenever arrivals shift shingle
    * frequencies). Exactness is order-independent (see
    * [[ppjoinCandidates]]); rarity ordering is a candidate-count
    * optimization the one-shot operator keeps.
    */
  def prefixRankedStable(sh: DataFrame, idCol: String,
      threshold: BigDecimal): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"prefix filtering needs 0 < threshold <= 1, got $threshold")
    val t = lit(threshold.underlying())
    val byDocAll = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val byDoc = byDocAll.orderBy(xxhash64(col("shingle")), col("shingle"))
    sh
      .withColumn("sz", count(lit(1)).over(byDocAll))
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * t) + lit(1))
      .select(col(idCol), col("shingle"), col("sz"), col("rn"))
  }

  def prefixJaccardPairsFrom(sh: DataFrame, ranked: DataFrame,
      idCol: String, threshold: BigDecimal): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"prefix filtering needs 0 < threshold <= 1, got $threshold")
    val cands = ppjoinCandidates(
      ppjoinProbe(ranked, idCol),
      ppjoinIndex(ranked, idCol, threshold), threshold)
    // Adaptive verify, branched on the prefix-index row count — free on
    // the materialized `ranked` frame, and it tracks the candidate
    // population (~0.41 pairs per prefix row at BOTH measured scales:
    // 33.4k/80.9k at sf0.1, 334k/809k at sf1). Below ~160k prefix rows
    // (~64k pairs) the single-job direct verify wins: the hash
    // prefilter's extra collect/join stages plus the pair-count
    // materialization cost ~1.3 s against a string verify that is
    // itself sub-second (A/B r17 sf0.1, warm min-of-3: direct 3.6 s vs
    // prefilter 4.8 s). Above it the prefilter prunes the string verify
    // to ~1% of candidates and wins big (sf1: 13.5 s vs 19.1 s). The
    // direct path's three consumers of `cands` do NOT share exchanges
    // (each prunes different columns into the distinct subtree, so the
    // exchanges never canonicalize equal — Prof r20 showed the candidate
    // join re-running 3x at ~23 s task time), so `cands` is pinned here
    // too; this branch only runs when the candidate set is small, so the
    // pinned state is bounded by exactly the condition that chose it.
    if (ranked.count() < 160000)
      jaccardForPairs(sh, idCol, Pin(cands))
        .filter(col("jaccard") >= threshold.toDouble)
    else prefilteredVerify(sh, idCol, Pin(cands), threshold.toDouble)
  }

  /** Portable 32-bit SimHash per document over its token set: per bit
    * position, sum ±1 weighted by each token-hash's bit, take the sign.
    * The per-token hash family is md5 hex — computable bit-for-bit by any
    * engine with md5 (bit p of a token = whether hex char p of its md5
    * has its high bit set), so the whole hash is verifiable by an
    * external SQL oracle, not just by recall. The 32 positions are 32 sum
    * aggregates over the token rows (one shuffle on doc id), NOT a 32×
    * row explosion.
    */
  def simhashPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val toks = graft.sources.Tables.spread(docs)
      .select(col(idCol), explode(array_distinct(split(col(textCol), " "))).as("tok"))
      .withColumn("m", md5(col("tok")))
    val bitSums = (0 until 32).map { p =>
      sum(
        when(substring(col("m"), p + 1, 1).isin(highHex: _*), 1).otherwise(-1))
        .as(s"b$p")
    }
    toks
      .groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col(idCol),
        (0 until 32)
          .map(p => when(col(s"b$p") > 0, lit(1L << p)).otherwise(0L))
          .reduce(_ + _)
          .as("simhash32"))
  }

  /** The pigeonhole chunk emission of [[simhashHammingPairsFromSig]] as
    * a standalone frame — (id, h, chunk, chunk_val), one row per doc per
    * chunk. Shared with the streaming fold
    * ([[graft.streaming.StreamDedup.applyHammingBatch]]) so stored
    * signatures always chunk identically to batch ones (the chunk is
    * derived from the signature alone — pure map-side shift/mask, so
    * re-chunking a stored 32-bit signature is free; only the TEXT hash
    * is expensive and that never re-runs on history).
    */
  private[graft] def simhashChunks(sig: DataFrame, idCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist < 32,
      s"maxDist must be in [1, 31] so every one of the maxDist+1 chunks holds a bit, got $maxDist")
    val nChunks = maxDist + 1
    // balanced boundaries: chunk c = bits [32c/n, 32(c+1)/n) — widths
    // differ by at most one bit, and none is ever empty (an empty chunk
    // would be one degenerate all-docs bucket)
    val bounds = (0 to nChunks).map(c => 32 * c / nChunks)
    val chunks = (0 until nChunks).map { c =>
      val width = bounds(c + 1) - bounds(c)
      shiftright(col("simhash32"), bounds(c)).bitwiseAND((1L << width) - 1)
    }
    sig
      .select(
        col(idCol).as("id"), col("simhash32").as("h"),
        posexplode(array(chunks: _*)))
      .select(col("id"), col("h"), col("pos").as("chunk"), col("col").as("chunk_val"))
  }

  /** EXACT Hamming-≤d near-dup pairs over the portable 32-bit SimHash,
    * with the LSH plan shape: split each hash into d+1 chunks of
    * near-equal width (chunk c covers bits ⌊32c/(d+1)⌋ … ⌊32(c+1)/(d+1)⌋,
    * so every chunk holds ≥ 1 real bit for any d < 32) — by pigeonhole,
    * any pair within Hamming distance d agrees on at least one chunk —
    * bucket-join on (chunk index, chunk value), then keep only pairs
    * whose full Hamming distance (bit_count of xor, codegen'd) is within
    * the bound. Unlike [[simhashCandidatesPortable]] this is not a
    * candidate set: the pigeonhole guarantee + residual filter make the
    * result exactly the brute-force all-pairs answer, at bucket-join cost
    * (sum over buckets of C(n,2) comparisons instead of C(N,2)). Wider
    * chunks (smaller d) mean fewer, more selective buckets.
    *
    * `sig` is an `(id, simhash32)` signature frame ([[simhashPortable]]),
    * possibly persisted or session-shared: the signature aggregate is the
    * dominant cost and the production contract keeps it in a store.
    *
    * Output: (doc_a, doc_b, hamming), a < b.
    */
  def simhashHammingPairsFromSig(sig: DataFrame, idCol: String,
      maxDist: Int): DataFrame = {
    // Size-filtered bucket EQUI-JOIN ([[bucketPairs]]), not a per-bucket
    // collect_set: a collect_set would materialize each (chunk,
    // chunk_val) bucket as a single aggregation row, and on an
    // adversarial corpus (many near-identical docs) one bucket can hold
    // a large fraction of all docs → executor OOM at scale before the
    // pair count even matters. The equi-join emits exactly the same
    // pairs but streams them across tasks, and the singleton-bucket
    // majority never reaches the join.
    val bands = simhashChunks(sig, idCol, maxDist)
    bucketPairs(bands, Seq("chunk", "chunk_val"), "id", carry = Seq("h"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** SimHash near-dup candidates over the PORTABLE 32-bit md5 SimHash
    * ([[simhashPortable]]), banded into 4 byte-wide chunks with a
    * HOT-BUCKET CAP: docs sharing any chunk whose bucket holds at most
    * `maxBucket` docs are candidates. Uncapped, pigeonhole guarantees
    * every pair within Hamming distance 3 — but on a near-dup-heavy
    * corpus the byte chunks of biased simhash bits produce buckets of
    * thousands of docs (sf0.1: one 1370-doc bucket ⇒ ~1M pairs from one
    * key; 76% of ALL doc pairs became candidates), so the cap is the
    * standard LSH skew guard real dedup pipelines apply: a bucket bigger
    * than the cap carries ~no discrimination signal and is skipped, its
    * pairs left to the other 3 chunks. Deterministic and SQL-replayable,
    * so the full band → bucket-size filter → pair pipeline is oracle-
    * certified end to end.
    *
    * Scale shape: [[bucketPairs]] with the size filter capped at
    * `maxBucket` — bucket populations from a count-over-window on the
    * join's own exchange, no bucket ever one aggregation row, each join
    * key fanning out at most maxBucket² — no all-pairs join, no
    * unbounded state.
    *
    * Output: (doc_a, doc_b), a < b, distinct.
    */
  def simhashCandidatesPortable(docs: DataFrame, idCol: String, textCol: String,
      maxBucket: Int = 64): DataFrame =
    bucketPairs(
      simhashPortable(docs, idCol, textCol)
        .select(
          col(idCol),
          posexplode(
            array((0 until 4).map(c =>
              shiftright(col("simhash32"), c * 8).bitwiseAND(0xFFL)): _*)))
        .select(col(idCol), col("pos").as("chunk"), col("col").as("chunk_val")),
      Seq("chunk", "chunk_val"), idCol,
      sizeFilter = _.between(2, maxBucket))

  /** EXACT edit-distance-≤d self-join (PassJoin-family pigeonhole —
    * Li et al., "PassJoin: a partition-based method for similarity
    * joins", VLDB 2012; same family as [[simhashHammingPairsFromSig]]'s
    * chunk buckets, extended to handle the alignment SHIFT that
    * insertions and deletions introduce).
    *
    * Candidate generation: each string of length L ≥ d+1 is split into
    * d+1 balanced contiguous segments. If ED(a,b) ≤ d then, by
    * pigeonhole, some segment of `a` is untouched by any of the ≤ d edit
    * operations and therefore appears VERBATIM in `b`, shifted by at
    * most d positions (the net insertions/deletions before it). So the
    * "segment" role emits its d+1 segments keyed by (L, segIdx, text)
    * and the "probe" role emits, for every admissible partner length
    * L ∈ [len−d, len+d] and shift δ ∈ [−d, d], the substring of itself
    * at the segment geometry of L — an equi-join on the key yields every
    * true pair's candidate, never an all-pairs product. Strings of
    * length ≤ d (near-universal matchers: ED ≤ d reaches only partners
    * of length ≤ 2d) go through one constant-key bucket instead.
    * Candidates then verify with `levenshtein` — the filter is a
    * necessary condition, so the result is EXACTLY the brute-force
    * answer at bucket-join cost.
    *
    * Two skew/scale guards on top of the basic PassJoin shape:
    *
    *  - VALUE-GRAIN candidates: generation and verification run over
    *    DISTINCT string values, then doc pairs re-expand by joining the
    *    surviving value pairs (and the identical-value groups, dist 0)
    *    back to the (id, value) frame. Exact-duplicate explosion — the
    *    dominant real-corpus skew, where n docs share one value and the
    *    doc-grain candidate count squares through every one of the
    *    value's hot segment buckets — costs ONE value row here; its n²
    *    output pairs materialize only in the final expansion join, which
    *    is the output's own size, not wasted candidate work.
    *  - SHIFT-PRUNED probes: a probe for segment i at length offset
    *    `off` (partner − self) and alignment shift δ needs ≥ |δ| edits
    *    before the segment (net insertions to shift it) and
    *    ≥ |off + δ| after (net change behind it), so combos with
    *    |δ| + |off + δ| > d cannot witness a true pair and are never
    *    emitted (at d=1 this is 10 probe structs instead of 18; at
    *    off=0 only δ=0 survives — the classic equal-length bound
    *    2|δ| ≤ d). Both sides of the pruning are necessary conditions,
    *    so exactness is untouched.
    *
    * Scale shape: probe emission is map-side and shift-pruned
    * (`array_distinct` collapses repeats); one shuffle on the segment
    * key. Candidate rows carry the value string as their identity (the
    * verify is a direct `levenshtein` on the pair — no re-join to fetch
    * strings), so candidate-row width is O(|s|); long-string inputs
    * should key on a bounded prefix or fingerprint first — edit distance
    * itself is O(|s|²) per verify anyway.
    *
    *  - HOT-SEGMENT REFINEMENT (two-level PassJoin): a segment string
    *    shared by more than `hotSegDf` DISTINCT values (a constant field
    *    prefix — the adversarial shape for any positional-key scheme)
    *    would stream a quadratically-populated bucket through the
    *    equi-join. Buckets whose segment-side population exceeds the cap
    *    are instead re-keyed by a SECOND pigeonhole over the REMAINDER:
    *    if ED(a,b) ≤ d with witness segment i intact, the optimal script
    *    splits into a prefix script and a suffix script around the
    *    untouched block, so ED(prefix_a ++ suffix_a, prefix_b ++
    *    suffix_b) ≤ d (concatenating the two scripts is a valid script);
    *    splitting rem_a into d+1 pieces guarantees one piece appears
    *    verbatim in rem_b, shifted by ≤ d — the same theorem one level
    *    down, with the same shift pruning (the remainder lengths differ
    *    by exactly the primary length offset). Hot-bucket candidates
    *    therefore join on (segment key, piece index, piece string):
    *    exactness is untouched (the refined key is a weaker necessary
    *    condition than the levenshtein verify that still runs), and the
    *    constant-prefix corpus now buckets on its discriminating tail.
    *    The residual moves one level up: quadratic candidates now need
    *    TWO constant regions (e.g. constant prefix AND suffix with only
    *    a short variable middle) — corpora whose true pair count is
    *    typically itself quadratic. `hotSegDf = 0` disables the split
    *    (single-level join everywhere).
    *
    * Output: (id_a, id_b, dist), id_a < id_b, dist ≤ maxDist.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1, hotSegDf: Int = 1024): DataFrame = {
    val d = maxDist
    require(d >= 1, s"maxDist must be >= 1, got $d")
    val ids = docs.select(col(idCol).as("__id"), col(strCol).as("__s"))
    // threshold'd verify: the banded DP costs O(d·min|s|) per candidate
    // instead of the full O(|s|²) matrix, and over-threshold pairs abort
    // early as -1 (values for kept pairs are exact, so oracle parity is
    // untouched)
    val valuePairs = editDistanceValuePairs(docs, idCol, strCol, maxDist, hotSegDf)
      .select(col("va"), col("vb"),
        levenshtein(col("va"), col("vb"), d).as("dist"))
      .filter(col("dist") >= 0)
    // expand to doc pairs: distinct-value pairs cross their id sets;
    // identical-value groups contribute their internal pairs at dist 0.
    // The two branches are disjoint (different vs same value), so no
    // final distinct is needed.
    val crossPairs = valuePairs
      .join(ids.select(col("__id").as("xa"), col("__s").as("va")), Seq("va"))
      .join(ids.select(col("__id").as("xb"), col("__s").as("vb")), Seq("vb"))
      .select(least(col("xa"), col("xb")).as("id_a"),
        greatest(col("xa"), col("xb")).as("id_b"), col("dist"))
    val samePairs = ids.select(col("__id").as("xa"), col("__s"))
      .join(ids.select(col("__id").as("xb"), col("__s")), Seq("__s"))
      .filter(col("xa") < col("xb"))
      .select(col("xa").as("id_a"), col("xb").as("id_b"),
        lit(0).cast("int").as("dist"))
    crossPairs.unionByName(samePairs)
  }

  /** Distinct candidate VALUE pairs of [[editDistancePairs]] — (va, vb),
    * va < vb, unverified (a superset of the true ≤ maxDist value pairs).
    * Package-visible so specs can assert the hot-segment refinement
    * keeps candidate counts sub-quadratic on adversarial corpora.
    */
  /** (`__s`, `__len`) over DISTINCT values — the grain every PassJoin
    * stage operates at (`vals` must expose a `__s` string column).
    */
  private[graft] def editBase(vals: DataFrame): DataFrame =
    vals.select(col("__s")).distinct()
      .select(col("__s"), length(col("__s")).as("__len"))

  /** Balanced segment geometry for a string of length L: segment i
    * (0-based) is one char longer for i < L mod k, and none is empty
    * when L >= k — widths differ by at most one. Column-typed index so
    * the hot-path remainder split can reuse the geometry with a runtime
    * segment index.
    */
  private[graft] def editSegStart(l: org.apache.spark.sql.Column,
      i: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    (i * floor(l / k).cast("int") + least(i, l % k) + 1).cast("int")
  private[graft] def editSegLen(l: org.apache.spark.sql.Column,
      i: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    when(i < l % k, floor(l / k).cast("int") + 1)
      .otherwise(floor(l / k).cast("int")).cast("int")

  /** Segment-role emission of the PassJoin pigeonhole: each value of
    * length ≥ d+1 emits its d+1 balanced segments keyed by
    * (length, segment index, segment text). Shared by the one-shot
    * [[editDistancePairs]] and the streaming fold
    * ([[graft.streaming.StreamDedup.applyEditBatch]]) so stored segment
    * keys never drift from the probe emission.
    */
  private[graft] def editSegs(base: DataFrame, d: Int): DataFrame = {
    val k = d + 1
    base.filter(col("__len") >= k).select(
      col("__s"),
      explode(array((0 until k).map { i =>
        struct(
          col("__len").cast("int").as("klen"), lit(i).as("kidx"),
          col("__s").substr(editSegStart(col("__len"), lit(i), k),
            editSegLen(col("__len"), lit(i), k)).as("kstr"))
      }: _*)).as("kk"))
  }

  /** Probe-role emission with shift pruning: for every admissible
    * partner length L ∈ [len−d, len+d] and alignment shift δ ∈ [−d, d]
    * with |δ| + |off+δ| ≤ d, the value's substring at the segment
    * geometry of L — see [[editDistancePairs]] for the witness argument.
    */
  private[graft] def editProbes(base: DataFrame, d: Int): DataFrame = {
    val k = d + 1
    val probeStructs = for {
      off <- (-d to d).toSeq; i <- 0 until k; delta <- -d to d
      // shift pruning: ≥ |δ| edits must land before the segment and
      // ≥ |off + δ| after it, so a combo exceeding d can't witness a
      // true pair (off = partner − self, δ = partner-relative shift,
      // net change self→partner = off)
      if math.abs(delta) + math.abs(off + delta) <= d
    } yield {
      val tl = col("__len") + off // the partner (segmented-side) length
      val st = editSegStart(tl, lit(i), k) + delta
      val ln = editSegLen(tl, lit(i), k)
      when(tl >= k && st >= 1 && st + ln - 1 <= col("__len"),
        struct(tl.cast("int").as("klen"), lit(i).as("kidx"),
          col("__s").substr(st, ln).as("kstr")))
    }
    base.select(
      col("__s"),
      explode(array_distinct(
        filter(array(probeStructs: _*), _.isNotNull))).as("kk"))
  }

  private[graft] def editDistanceValuePairs(docs: DataFrame, idCol: String,
      strCol: String, maxDist: Int, hotSegDf: Int): DataFrame = {
    val d = maxDist
    val k = d + 1
    require(hotSegDf == 0 || hotSegDf >= 2,
      s"hotSegDf must be 0 (off) or >= 2, got $hotSegDf")
    val base = editBase(docs.select(col(strCol).as("__s")))

    // local sugar over the shared geometry (the hot-path remainder split
    // reuses it with a runtime segment index)
    def segStartC(l: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      editSegStart(l, i, k)
    def segLenC(l: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      editSegLen(l, i, k)
    def segStart(l: org.apache.spark.sql.Column, i: Int) = segStartC(l, lit(i))
    def segLen(l: org.apache.spark.sql.Column, i: Int) = segLenC(l, lit(i))

    val segs = editSegs(base, d)
    val probes = editProbes(base, d)

    def hotSplitCandidates(hotKeys: DataFrame): DataFrame = {
        val coldCand = segs.join(hotKeys, Seq("kk"), "left_anti").as("a")
          .join(probes.as("b"), col("a.kk") === col("b.kk"))
          .select(col("a.__s").as("ia"), col("b.__s").as("ib"))
        // seg side of the hot path: remainder = the value minus its own
        // witness segment, split into k balanced pieces
        val remLen = col("kk.klen") - segLenC(col("kk.klen"), col("kk.kidx"))
        val segsHot = segs.join(hotKeys, Seq("kk"))
          .withColumn("__rem", {
            val la = length(col("__s"))
            val st = segStartC(la, col("kk.kidx"))
            val wl = segLenC(la, col("kk.kidx"))
            concat(col("__s").substr(lit(1), st - 1),
              col("__s").substr(st + wl, la))
          })
          .select(col("__s"), col("kk"),
            explode(array((0 until k).map { j =>
              struct(lit(j).as("j"),
                col("__rem").substr(segStart(remLen, j), segLen(remLen, j))
                  .as("pstr"))
            }: _*)).as("rk"))
        // probe side: re-derive probes WITH (off, delta) retained — the
        // witness window position in the probe value depends on both —
        // keep only hot-bucket rows, then emit remainder pieces at the
        // PARTNER's remainder geometry. The remainder lengths differ by
        // exactly the primary off (both lose the same window width), so
        // the shift pruning is the primary rule with a runtime off.
        val probeStructsD = for {
          off <- (-d to d).toSeq; i <- 0 until k; delta <- -d to d
          if math.abs(delta) + math.abs(off + delta) <= d
        } yield {
          val tl = col("__len") + off
          val st = segStart(tl, i) + delta
          val ln = segLen(tl, i)
          when(tl >= k && st >= 1 && st + ln - 1 <= col("__len"),
            struct(
              struct(tl.cast("int").as("klen"), lit(i).as("kidx"),
                col("__s").substr(st, ln).as("kstr")).as("kk"),
              lit(off).as("koff"), lit(delta).as("kdel")))
        }
        val probesHot = base.select(col("__s"),
            explode(filter(array(probeStructsD: _*), _.isNotNull)).as("pk"))
          .select(col("__s"), col("pk.kk").as("kk"),
            col("pk.koff").as("koff"), col("pk.kdel").as("kdel"))
          .join(hotKeys, Seq("kk")) // hotKeys is distinct: inner == semi
          .withColumn("__pb",
            segStartC(col("kk.klen"), col("kk.kidx")) + col("kdel"))
          .withColumn("__wl", segLenC(col("kk.klen"), col("kk.kidx")))
          .withColumn("__remb",
            concat(col("__s").substr(lit(1), col("__pb") - 1),
              col("__s").substr(col("__pb") + col("__wl"),
                length(col("__s")))))
          .select(col("__s"), col("kk"),
            explode(array_distinct(filter(array((for {
              j <- (0 until k).toSeq; d2 <- -d to d
            } yield {
              val st2 = segStart(remLen, j) + d2
              val ln2 = segLen(remLen, j)
              when(lit(math.abs(d2)) + abs(col("koff") + d2) <= d &&
                  st2 >= 1 && st2 + ln2 - 1 <= length(col("__remb")),
                struct(lit(j).as("j"),
                  col("__remb").substr(st2, ln2).as("pstr")))
            }): _*), _.isNotNull))).as("rk"))
        val hotCand = segsHot.as("a")
          .join(probesHot.as("b"),
            col("a.kk") === col("b.kk") && col("a.rk") === col("b.rk"))
          .select(col("a.__s").as("ia"), col("b.__s").as("ib"))
        coldCand.unionByName(hotCand)
      }

    val longCand =
      if (hotSegDf == 0) {
        segs.as("a")
          .join(probes.as("b"), col("a.kk") === col("b.kk"))
          .select(col("a.__s").as("ia"), col("b.__s").as("ib"))
      } else {
        // hot buckets (> hotSegDf distinct values behind one segment key)
        // route through the remainder re-key; the key set is tiny (at
        // most segRows / hotSegDf) and eagerly pinned so the three joins
        // against it don't recompute the aggregation
        val hotKeys = Pin(segs.groupBy(col("kk"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > hotSegDf)
          .select(col("kk")))
        if (hotKeys.isEmpty) {
          // no bucket over the cap (the overwhelmingly common corpus):
          // skip the anti-join and the hot machinery entirely — the only
          // cost of the guard was the df aggregation itself
          segs.as("a")
            .join(probes.as("b"), col("a.kk") === col("b.kk"))
            .select(col("a.__s").as("ia"), col("b.__s").as("ib"))
        } else hotSplitCandidates(hotKeys)
      }


    // length-keyed buckets for the length-≤d stragglers: the short side
    // keys on its own length, the partner side (length ≤ 2d — beyond
    // that ED > d is forced by the length gap) emits each admissible
    // short length in [len−d, d]. A genuine hash equi-join — a literal
    // constant key would constant-fold into a nested-loop product
    val shortCand = base.filter(col("__len") <= d)
      .select(col("__s").as("ia"), col("__len").as("kb"))
      .join(base.filter(col("__len") <= 2 * d)
        .select(col("__s").as("ib"),
          explode(sequence(greatest(lit(0), col("__len") - d), lit(d)))
            .as("kb")), Seq("kb"))
      .select(col("ia"), col("ib"))

    // candidates at value grain: the identity IS the string; the caller
    // verifies with levenshtein, so every branch above only needs to be
    // a NECESSARY condition
    longCand.unionByName(shortCand)
      .filter(col("ia") =!= col("ib"))
      .select(least(col("ia"), col("ib")).as("va"),
        greatest(col("ia"), col("ib")).as("vb"))
      .distinct()
  }
}
