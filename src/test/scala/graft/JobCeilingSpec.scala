package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.functions.col

import graft.pipeline.Runner
import graft.sources.Tables

/** Exact regression guard on the warehouse build's Spark job counts at
  * sf0.001: each Runner call must stay within its pinned ceiling, and every
  * job it starts — including those of its concurrent write threads — must
  * carry the caller's job group, which per-call accounting keys on. Job
  * counts do not depend on host speed, so the ceilings are the measured
  * counts; a change that adds jobs must raise them deliberately.
  */
class JobCeilingSpec extends SparkSpec {

  private val ceilings = Map(
    "stage" -> 11, "loadDims" -> 34, "loadFact" -> 10,
    "refreshViews" -> 18, "qaReport" -> 22,
    "batch.stage" -> 14, "batch.loadDims" -> 74, "batch.loadFact" -> 10)

  test("each Runner call stays within its job ceiling and keeps the caller's job group") {
    // source plans are memoized per JVM; plan them first so the first call
    // pays no inference other specs may or may not have paid already
    Tables.all.filterNot(Set("events", "documents", "embeddings")).foreach(Tables(spark, sfDir, _))
    val runDate = Date.valueOf("2024-01-01")
    val full = new Runner(spark, sfDir, Files.createTempDirectory("graft_jobs").toString)
    val inc = new Runner(spark, sfDir, Files.createTempDirectory("graft_jobs").toString)
    val even = Map("orders" -> (col("o_orderkey") % 2 === 0),
      "lineitem" -> (col("l_orderkey") % 2 === 0))
    inc.stage(1, even)
    inc.loadDims(1, runDate)
    inc.loadFact(1)
    val odd = Map("orders" -> (col("o_orderkey") % 2 === 1),
      "lineitem" -> (col("l_orderkey") % 2 === 1))
    val calls: Seq[(String, () => Unit)] = Seq(
      "stage" -> (() => full.stage(1)),
      "loadDims" -> (() => full.loadDims(1, runDate)),
      "loadFact" -> (() => full.loadFact(1)),
      "refreshViews" -> (() => full.refreshViews()),
      "qaReport" -> (() => { full.qaReport().collect(); () }),
      "batch.stage" -> (() => inc.stage(2, odd)),
      "batch.loadDims" -> (() => inc.loadDims(2, runDate)),
      "batch.loadFact" -> (() => inc.loadFact(2)))
    val sc = spark.sparkContext
    val counts = calls.map { case (name, call) =>
      val group = s"ceiling-$name"
      val (_, groups) = Jobs.during(spark) {
        sc.setJobGroup(group, name)
        try call() finally sc.clearJobGroup()
      }
      assert(groups.forall(_.contains(group)),
        s"$name: jobs outside the caller's group: ${groups.filterNot(_.contains(group))}")
      name -> groups.size
    }
    info(counts.map { case (n, c) => s"$n=$c" }.mkString(" "))
    val over = counts.filter { case (n, c) => c > ceilings(n) }
    assert(over.isEmpty, s"calls over their job ceilings $ceilings: $over")
  }
}
