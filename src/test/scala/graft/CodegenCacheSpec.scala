package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.plans.GraftExtensions

/** A repeated query compiles no code: Spark's generated-class cache,
  * sized by [[GraftExtensions]], holds a whole report mix, so no
  * execution evicts another query's classes.
  *
  * The set is the benchmark's `query_mix`: one pass compiles well over
  * Spark's default 100 entries. Pass 1 also builds the memoized frames
  * and BuildCache artifacts, whose plans are not the steady state's, so
  * only pass 3 is held to zero.
  */
class CodegenCacheSpec extends SparkSpec {

  private val mix = Seq(
    "j7_star_year_region", "scd2_point_in_time", "s5_pipeline_view",
    "c6_incremental_view", "q8_fact_null_fk_reinsert", "m13_dm_fact_rekey",
    "embed_brute_topk", "embed_coreset", "dedup_minhash_pairs",
    "events_pagerank", "text_bm25_search")

  /** Classes compiled (JVM-wide) by each query of the mix, run once,
    * construction included, through a noop write.
    */
  private def pass(): Seq[(String, Long)] = mix.map { name =>
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("the session carries the codegen cache size GraftExtensions sets") {
    val want = GraftExtensions.CodegenCacheEntries.toString
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") == want)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == want)
  }

  test("the third pass over the report mix compiles no class") {
    val passes = Seq.fill(3)(pass())
    info(passes.map(_.map(_._2).sum).mkString("classes compiled per pass: ", ", ", ""))
    val recompiled = passes(2).filter(_._2 > 0)
    assert(recompiled.isEmpty, s"repeated queries recompiled: ${recompiled.mkString(", ")}")
  }
}
