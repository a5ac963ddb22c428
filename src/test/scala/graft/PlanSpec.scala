package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Physical-plan shape assertions — the properties that decide whether a
  * query survives a 100 TB scale-up: dimension joins broadcast, filters
  * reach the parquet scan, projections prune the read schema, partition
  * filters prune the fact, hot paths stay in whole-stage codegen.
  */
class PlanSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("star join broadcasts every dimension (fact side never reshuffles for dims)") {
    val p = plan("j7_star_year_region")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3,
      s"customer/nation/region must broadcast:\n$p")
  }

  test("snowflake dim traversal uses no sort-merge join at all") {
    val p = plan("j8_snowflake")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p)
  }

  test("3-level snowflake broadcasts all three dims (customer side never reshuffles)") {
    val p = plan("j8b_snowflake3")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3 &&
      !p.contains("SortMergeJoin"),
      s"city/nation/region must all broadcast:\n$p")
  }

  test("constant filter is pushed down to the parquet scan") {
    val p = plan("p2_filter_agg")
    assert(p.contains("EqualTo(l_returnflag,R)"), s"PushedFilters missing:\n$p")
  }

  test("projection prunes the read schema to the referenced columns") {
    val p = plan("s1_scan_project")
    assert(
      p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"column pruning failed:\n$p")
  }

  test("year filter prunes fact partitions (G3)") {
    val p = plan("g3_partition_prune")
    assert(p.contains("PartitionFilters") && p.contains("1998"),
      s"partition pruning missing:\n$p")
  }

  test("aggregation hot path runs in whole-stage codegen") {
    // AQE prints codegen stages only in the final plan -> execute first
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no WholeStageCodegen stage:\n$p")
  }

  test("no registered query plans an unbounded cartesian or nested-loop join") {
    // Joins with no equi-condition are the one plan shape that cannot
    // survive a 100 TB scale-up. Whitelisted: plans where one side is a
    // constant-size literal frame, so the product is bounded by design.
    val bounded = Set(
      "j5_const_cross", // 3-row literal spec frame × aggregate (reference J5 theta join)
      "scd2_two_source", // 1-row broadcast segment lookup (J5 constant-assign pattern)
      "embed_ann_ivf", // corpus × limit(nCentroids) broadcast centroid set (IVF assignment)
      "embed_ann_ivf_kmeans", // same probe stage over the k-means-refined centroid set
      "embed_ann_ivf_kmeans_portable", // corpus × 16-row broadcast centroid frame (native-dot assignment)
      "embed_ann_incremental", // history/new-batch × 16-row broadcast centroid frame (index maintenance)
      "text_tfidf_topk", // 1-row broadcast corpus-count frame (scalar N in the idf ratio)
      "text_keyword_search", // 1-row broadcast df/N frames (scalar idf inputs for the score)
      "qa_key_skew", // 1-row broadcast total-count frame (the share denominator)
      "qa_histogram", // 1-row broadcast min/max frame (the bucket-width inputs)
      "qa_histogram_depth", // 1-row broadcast quantile-boundary array frame
      "curation_winsorized", // 1-row broadcast p05/p95 threshold frame
      "s12_purge_audit", // 1-row × 1-row count frames per audit row (rows_before × rows_removed)
      "text_bm25_search", // 1-row broadcast df/N/avgdl frames (scalar BM25 inputs)
      "c26_stream_bm25_index", // same bm25Rank tail: 1-row broadcast df/N/avgdl frames over the maintained index
      "text_collocations", // 1-row broadcast token-total frame (the lift numerator scalar)
      "sketch_hll_distinct", // 1-row sketch readout × 1-row exact-count reference
      "sketch_hll_incremental", // 1-row merged-sketch readout × 1-row exact reference
      "sketch_kmv_matrix", // (#sources)² pair join on the source-cardinality sketch frame
      "curation_mixture_waterfill", // 1-row total and 1-row water-level frames
      "qa_benford", // 1-row broadcast total frame (the share denominator)
      "qa_drift", // 1-row bounds frame + 1-row column-total frame (chi-square inputs)
      "text_bpe_merges", // 1-row broadcast winning-pair frame per merge round
      "text_bpe_vocab", // same 1-row winning-pair frames feeding the final vocabulary
      "qa_anova", // 1-row group-rollup × 1-row sum-of-squares frame (the F inputs)
      "qa_mad", // 1-row median and 1-row MAD frames (the robust thresholds)
      "ml_chi2_select", // 1-row broadcast grand-total frame (the expectation denominator)
      "ml_quantile_bin", // 1-row broadcast decile-boundary array frame
      "sample_systematic", // 1-row broadcast total-weight frame (the lattice denominator)
      "curation_dsir_weights", // 1-row broadcast token-total frame (the smoothing denominators)
      "c20_stream_dsir_store", // same 1-row total frame, over the maintained LM counts
      "embed_semdedup", // corpus × ≤65536-row broadcast centroid frame (capped stride seeding)
      "embed_knn_density", // same shared assignment frame (capped centroid broadcast)
      "embed_decontamination", // corpus × fixed 20-row broadcast benchmark frame
      "embed_curation_pipeline", // the same capped-centroid + benchmark broadcasts, composed
      "c21_stream_semdedup", // batch × ≤65536-row broadcast frozen-centroid frame per fold
      "embed_pca_power", // two 1-row broadcast max-abs frames (the normalization scalars)
      "qa_ks_test", // 1-row broadcast sample-total frame (the lattice scalars)
      "events_hits", // four 1-row broadcast max frames (the ppm normalizers)
      "qa_cramers_v", // 1-row broadcast margins-total frame (the lattice scalars)
      "ml_auc", // 1-row lattice frame × 1-row class-total frame (the AUC edge division)
      "c29_stream_auc", // same AUC tail over the maintained score-count store
      "ml_pr_points", // 1-row broadcast class-total frame (the tp/fp complements)
      "ml_stump_gini", // 1-row broadcast class-total frame (the split complements)
      "c31_stream_stump", // same stump tail over the maintained score-count store
      "events_changepoint", // 1-row broadcast totals frame (the CUSUM scalars)
      "c34_stream_changepoint", // same CUSUM tail over the maintained per-hour count store
      "qa_pettitt", // 1-row broadcast row-total frame (the U_t lattice scalar)
      "ml_isotonic", // ≤11-row bucket-domain self-joins (the PAV segment enumeration)
      "events_mann_kendall", // calendar-bounded bucket pair join + 1-row S/n/tie frames
      "text_lm_heldout", // 1-row broadcast train-vocabulary-size frame (the Laplace denominator)
      "events_theilsen", // (days)² pair join on the calendar-bounded daily frame + 1-row count
      "dm_assoc_rules", // 1-row broadcast basket-total frame (the support/lift denominator)
      "embed_sq8", // 1-row broadcast per-dim min/max array frame (the quantizer range)
      "embed_cosine_dups", // ≤100×100 literal-bounded (vec_id < 100) array self-join
      "embed_dedup_clusters", // same bounded cosine-pair sample feeding the cluster loop
      "dedup_clusters_star" // same bounded cosine-pair sample, star-contraction variant
    )
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(bounded)
      .flatMap { n =>
        val p = SparkEntry.queries(n)(spark, sfDir).queryExecution.sparkPlan.toString
        val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(p.contains)
        if (bad.isEmpty) None else Some(s"$n: ${bad.mkString(",")}")
      }
    assert(offenders.isEmpty, s"unscalable join shapes:\n${offenders.mkString("\n")}")
  }

  test("no registered query surfaces a decimal-typed column (driver hash gate)") {
    // The r17 correctness red was exactly this shape: 12 queries whose
    // certified output schema contained a DecimalType hash-mismatched the
    // DuckDB oracle while being value-identical — the two engines format
    // and scale decimals differently, and the driver's compare hashes the
    // textual values. The certified surface convention is BIGINT lattices
    // (`*_e12`) plus `round(double, 12)` terminals; DECIMAL(38,x) stays a
    // legitimate INTERNAL accumulator type, so only the PRESENTED schema
    // is constrained here. This guard turns the next decimal-surfaced
    // query into a local test failure instead of a round-trip through the
    // driver's correctness gate.
    def hasDecimal(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: org.apache.spark.sql.types.DecimalType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasDecimal(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasDecimal(a.elementType)
      case m: org.apache.spark.sql.types.MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _ => false
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
      val bad = SparkEntry.queries(n)(spark, sfDir).schema.fields
        .filter(f => hasDecimal(f.dataType)).map(_.name)
      if (bad.isEmpty) None else Some(s"$n: ${bad.mkString(",")}")
    }
    assert(offenders.isEmpty,
      s"decimal-typed certified surface (use BIGINT lattices / round(_,12)):\n${offenders.mkString("\n")}")
  }

  test("dedup family reads the persisted signature store instead of re-shingling") {
    // The MinHash consumers share ONE persisted wide-signature frame
    // (LlmText.corpusWide) — the production contract that the signature
    // store is persisted state. If a rewire silently reintroduces a
    // per-query shingle recompute, the cached scan disappears from the
    // plan and this fails. (Cluster queries checkpoint eagerly, so the
    // cache is invisible in their final plans — the pair queries below
    // are the lineage that feeds them.)
    for (n <- Seq("dedup_minhash_signatures", "dedup_minhash_pairs",
        "dedup_incremental_pairs", "dedup_substring_index",
        "dedup_substring_coverage", "dedup_substring_incremental")) {
      assert(plan(n).contains("InMemoryTableScan"),
        s"$n does not read its shared persisted frame")
    }
  }

  test("snapshot diff reconciles in exactly one full-outer join") {
    val p = SparkEntry.queries("s11_snapshot_diff")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(p.contains("FullOuter"), s"diff must be a full-outer join:\n$p")
    val joins = SparkEntry.queries("s11_snapshot_diff")(spark, sfDir)
      .queryExecution.sparkPlan.collect {
        case j if j.nodeName.contains("Join") => j
      }
    assert(joins.size == 1,
      s"the diff must touch each snapshot exactly once, found ${joins.size} joins:\n$p")
  }

  test("centroid assignment paths plan no window exec at all") {
    // The n×k scale guard: assigning each vector its nearest centroid
    // via row_number().over(partitionBy(vec_id)) exchanges all n×k
    // cross rows before any reduction — at the SemDeDup k-cap (65 536)
    // that shuffles 65 536× the corpus. The aggregate shape (max_by /
    // topk_pairs) partial-reduces map-side, so these plans must contain
    // NO WindowExec anywhere.
    for (n <- Seq("embed_semdedup", "embed_ann_ivf", "embed_ann_ivf_kmeans",
        "embed_brute_topk", "embed_ann_ivf_portable",
        "embed_ann_ivf_kmeans_portable", "embed_bitext_margin",
        "embed_knn_density")) {
      val windows = SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
      assert(windows.isEmpty,
        s"$n must assign centroids via aggregates, found ${windows.size} WindowExec")
    }
  }

  test("native LSH buckets fold with the fused dot, not interpreted zip_with/aggregate") {
    // zip_with and aggregate are CodegenFallback: one per plane per row
    // would run interpreted inside the bucket projection
    val exprs = SparkEntry.queries("embed_ann_lsh")(spark, sfDir)
      .queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.ZipWith => e.prettyName
        case e: org.apache.spark.sql.catalyst.expressions.ArrayAggregate => e.prettyName
      }))
    assert(exprs.isEmpty, s"embed_ann_lsh plans interpreted folds: ${exprs.distinct}")
  }

  test("sequence packing plans no single-task global window") {
    val df = SparkEntry.queries("pack_sequences")(spark, sfDir)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "packing should use per-partition windows")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "an unpartitioned window would funnel the whole corpus through one task:\n" +
        df.queryExecution.sparkPlan)
  }

  test("substring apply plans only doc-partitioned windows") {
    val df = SparkEntry.queries("dedup_substring_apply")(spark, sfDir)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "island merging should use per-doc windows")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "an unpartitioned window would funnel the whole corpus through one task:\n" +
        df.queryExecution.sparkPlan)
  }

  test("orchestrated fact re-keys dates through a broadcast of the date dim") {
    val p = plan("s9_fact_date_fk")
    assert(p.contains("BroadcastHashJoin"),
      s"date dim must broadcast against the fact:\n$p")
  }

  test("spread parallelizes a single-split scan and is identity on wide plans") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assert(docs.rdd.getNumPartitions == 1, "harness file should be one row group")
    val respread = graft.sources.Tables.spread(docs)
    assert(respread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // already at/above parallelism -> no exchange is added
    val wide = docs.repartition(spark.sparkContext.defaultParallelism + 2)
    assert(graft.sources.Tables.spread(wide) eq wide)
    // same rows either way
    assert(respread.count() == docs.count())
  }

  test("bucketed join consumes both scans' bucketing: no exchange on either side") {
    // Both tables are bucketed on the join key with the same bucket
    // count, so the sort-merge join must read the on-disk partitioning
    // directly — a ShuffleExchange hashing on either order key means the
    // co-located layout was NOT consumed and the join would move both
    // tables across a real cluster on every run.
    val df = graft.queries.Relational.bucketedJoin(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$p")
    // the scans really are bucketed reads, not plain file scans
    assert(p.contains("Bucketed: true"), s"scan did not select buckets:\n$p")
  }

  test("bucketed point lookup prunes to a single bucket's files") {
    // The other win of the standing bucketed layout: an equality filter
    // on the bucket column plans a scan of 1 bucket out of 16 — at
    // 100 TB a key lookup reads 1/16th of the files, no index needed.
    graft.queries.Relational.bucketedJoin(spark, sfDir) // ensure tables exist
    val name = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("bkt_"))
      .find(n => spark.table(n).columns.contains("l_orderkey"))
      .getOrElse(fail("bucketed lineitem table not registered"))
    // autoBucketedScan=false: the planner's DisableUnnecessaryBucketedScan
    // rule turns the bucketed read off for a bare filter (no downstream
    // join/agg needs the distribution) — which also forfeits the bucket
    // PRUNING this test pins; a production point-lookup path sets the same
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val p = spark.table(name).filter(col("l_orderkey") === 1L)
        .queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 16"),
        s"point filter must prune to one bucket:\n$p")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("salted join equals the plain join on skewed data") {
    val probe = (1 to 2000).map(i => (if (i % 10 == 0) 1L else i.toLong, s"v$i"))
      .toDF("k", "v") // key 1 is hot
    val build = (1 to 50).map(i => (i.toLong, s"b$i")).toDF("k", "b")
    val plainJ = probe.join(build, Seq("k"))
    val saltedJ = Skew.saltedJoin(probe, build, Seq("k"), saltFactor = 8)
      .select(plainJ.columns.map(col): _*)
    assert(saltedJ.exceptAll(plainJ).isEmpty && plainJ.exceptAll(saltedJ).isEmpty)
  }
}
