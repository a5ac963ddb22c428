package graft.plans

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point (`spark.sql.extensions=graft.plans.GraftExtensions`):
  * registers the native expressions so they resolve by name in SQL and via
  * `functions.call_function`, and sizes Spark's generated-class cache
  * ([[GraftExtensions.CodegenCacheEntries]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    SparkEnv.get.conf.setIfMissing("spark.sql.codegen.cache.maxEntries",
      GraftExtensions.CodegenCacheEntries.toString)
    ext.injectFunction((
      new FunctionIdentifier("dot_productf"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_productf"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_productf(a, b) takes two arrays")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("topk_pairs"),
      new ExpressionInfo(classOf[TopKPairs].getName, "topk_pairs"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "topk_pairs(score, id, k) takes three arguments")
        TopKPairs(children(0), children(1), children(2)).toAggregateExpression()
      }))
    // Spark's own runtime-filter expressions (what InjectRuntimeFilters
    // plans internally), surfaced by name so the semi-join reduction
    // operator (graft.operators.BloomPrune) can build/probe them
    // explicitly where the optimizer's automatic injection doesn't reach.
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "bloom_agg(xxhash64(key), estimatedItems, numBits) takes three arguments")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "bloom_might_contain(bloom, xxhash64(key)) takes two arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("ngram_stats"),
      new ExpressionInfo(classOf[NgramStats].getName, "ngram_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "ngram_stats(text, n) takes two arguments")
        val n = children(1) match {
          case e if e.foldable && e.dataType ==
            org.apache.spark.sql.types.IntegerType =>
            e.eval().asInstanceOf[Int]
          case _ => throw new IllegalArgumentException(
            "ngram_stats n must be an integer literal")
        }
        NgramStats(children.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("ngram_top"),
      new ExpressionInfo(classOf[NgramTop].getName, "ngram_top"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "ngram_top(text, n) takes two arguments")
        val n = children(1) match {
          case e if e.foldable && e.dataType ==
            org.apache.spark.sql.types.IntegerType =>
            e.eval().asInstanceOf[Int]
          case _ => throw new IllegalArgumentException(
            "ngram_top n must be an integer literal")
        }
        NgramTop(children.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "pq_encode(vec, codebook, nSub) takes three arguments")
        PqEncode(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketch].getName, "kmv_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_sketch(hash, k) takes two arguments")
        KmvSketch(children(0), children(1)).toAggregateExpression()
      }))
  }
}

object GraftExtensions {

  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    *
    * One pass of a report mix compiles hundreds of distinct classes
    * (about 250 for the benchmark's 11 `query_mix` queries), so at 100
    * entries each execution evicts the next query's classes and every
    * repeated query recompiles its own: a quarter of the benchmark's
    * timed CPU samples went to Janino and the class loading it drives.
    * At this size a repeated query compiles nothing.
    *
    * Set here because this hook is the one place every graft session
    * loads, including sessions not built by `graft.Session`. It runs
    * after the SparkContext exists and before the session state copies
    * its static confs, and Spark sizes the cache once per JVM, from the
    * conf of the session that generates code first. Precondition: no
    * code generation in the JVM before the first graft session, else the
    * cache keeps the size it was built with. An explicit value in the
    * Spark conf wins.
    *
    * Memory bound: a cached class retains its source and byte code,
    * measured at about 25 KB of live heap per class (+4.3 MB for 165
    * more retained classes on `query_mix`, +7.3 MB for 312 on
    * `etl_load`), so a full cache holds about 2000 × 25 KB = 50 MB.
    */
  val CodegenCacheEntries: Int = 2000
}
