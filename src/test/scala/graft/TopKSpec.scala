package graft

import org.apache.spark.sql.functions._

import graft.plans.TopKPairs

/** The per-group top-k ([[TopKPairs.perGroup]] over the bounded-heap
  * `topk_pairs` aggregate) must agree exactly with the window row_number
  * formulation — same rows, same ranks, same tie-breaks, NaN greatest —
  * including across partial-aggregation merges.
  */
class TopKSpec extends SparkSpec {

  test("topk_pairs == window row_number top-k, across partial merges") {
    // deterministic scores with heavy planted ties (1000 distinct values
    // over ~1400 rows per key), plus one NaN score in each of keys 0-4,
    // ±Infinity, and a key whose ties straddle the rank-5 boundary; 13
    // partitions force partial-buffer merges
    val base = spark.range(10000).toDF("i")
      .select(
        (col("i") % 7).as("qid"),
        col("i").as("nid"),
        when(col("i") % 2003 === 0, lit(Double.NaN))
          .when(col("i") % 3001 === 0, lit(Double.PositiveInfinity))
          .when(col("i") % 1009 === 0, lit(Double.NegativeInfinity))
          .otherwise((col("i") * 48271 % 1000) / lit(1000.0)).as("cosine"))
    // key 7: a NaN, then a three-way tie straddling rank 5; key 8: a
    // signed-zero tie (0.0 and -0.0 are equal in Spark's sort order)
    val boundary = spark.createDataFrame(Seq(
        (7L, 50L, Double.NaN), (7L, 40L, 0.9), (7L, 30L, 0.9), (7L, 31L, 0.5),
        (7L, 20L, 0.5), (7L, 10L, 0.5), (7L, 11L, 0.1),
        (8L, 9L, 0.0), (8L, 6L, 0.0), (8L, 4L, -0.0), (8L, 3L, -1.0),
        (8L, 2L, -1.0), (8L, 1L, -2.0)))
      .toDF("qid", "nid", "cosine")
    val scored = base.unionByName(boundary).repartition(13)

    val heap = TopKPairs.perGroup(scored, col("qid"), col("cosine"), col("nid"), 5)
      .toDF("qid", "nid", "cosine", "rank")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    val win = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("cosine"), col("rank"))

    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType))
    assert(shape(heap) == shape(win), s"${heap.schema} vs ${win.schema}")
    assert(heap.count() == 9 * 5)
    // NaN ranks greatest, above +Infinity
    val firsts = heap.filter(col("rank") === 1).orderBy("qid")
      .select("cosine").collect().map(_.getDouble(0)).toSeq
    assert(firsts.take(5).forall(_.isNaN) && firsts(5) == Double.PositiveInfinity,
      s"rank-1 scores $firsts")
    def ranked(q: Long) = heap.filter(col("qid") === q).orderBy("rank")
      .select("nid").collect().map(_.getLong(0)).toSeq
    assert(ranked(7) == Seq(50L, 30L, 40L, 10L, 20L))
    assert(ranked(8) == Seq(4L, 6L, 9L, 2L, 3L))
    assert(heap.exceptAll(win).isEmpty && win.exceptAll(heap).isEmpty,
      "heap top-k must equal window top-k row for row")
  }

  test("topk_pairs aggregates partially (map-side combine before the shuffle)") {
    val df = spark.range(100).toDF("nid")
      .select((col("nid") % 3).as("qid"), col("nid"), (col("nid") * 0.5).as("cosine"))
    val plan = TopKPairs.perGroup(df, col("qid"), col("cosine"), col("nid"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_pairs"),
      s"no partial aggregation stage:\n$plan")
  }

  test("topk_pairs handles keys with fewer than k rows") {
    val tiny = spark.range(3).toDF("nid")
      .select(lit(0L).as("qid"), col("nid"), (col("nid") * 0.1).as("cosine"))
    val out = TopKPairs.perGroup(tiny, col("qid"), col("cosine"), col("nid"), 10)
    assert(out.select("id", "rank").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sortBy(_._2) == Seq((2L, 1L), (1L, 2L), (0L, 3L)))
  }
}
