package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.sql.Date

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.pipeline.Runner
import graft.queries._

/** One timed call and its Spark accounting. */
final case class Op(name: String, family: String, wallS: Double, ok: Boolean, counts: Counts)

/** Benchmark process: one workload in one JVM with one client thread.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace, data
  * (input tables), work (a private scratch directory), out (result file),
  * digests (expected query outputs), cpus, and for `query_mix` prepared
  * (the BuildCache tree each run starts from). `--prepare 1` fills that
  * tree instead of measuring; `--record <file>` writes the digests it
  * observes instead of checking them.
  *
  * The result file holds the end-to-end metrics, the per-layer metrics of
  * the traced run and, when traced, every span.
  */
object Harness {
  val RunDate: Date = Date.valueOf("2024-06-30")
  val Stages: Seq[String] = Seq("stage", "loadDims", "loadFact", "refreshViews", "qaReport", "batch")
  val StageFields: Seq[String] = Seq("wall_s", "jobs", "task_s", "busy", "shuffle_mb", "write_mb")
  val Families: Seq[String] = Seq("Relational", "WarehouseQueries", "PipelineQueries",
    "QuirkQueries", "DmQueries", "LlmEmbed", "LlmText", "graph")
  val FamilyFields: Seq[String] = Seq("wall_s", "plan_s", "jobs", "tasks", "task_s",
    "shuffle_mb", "spill_mb", "fallback_exprs")

  /** The `query_mix` workload: (family, queries), a family being the object
    * that defines its queries, except `graph`, the iterative graph queries
    * of `Relational`. A few queries per family, chosen for the operators
    * they exercise and small enough that a round fits the run.
    */
  val Mix: Seq[(String, Seq[String])] = Seq(
    "Relational" -> Seq("j7_star_year_region"),
    "WarehouseQueries" -> Seq("scd2_point_in_time"),
    "PipelineQueries" -> Seq("s5_pipeline_view", "c6_incremental_view"),
    "QuirkQueries" -> Seq("q8_fact_null_fk_reinsert"),
    "DmQueries" -> Seq("m13_dm_fact_rekey"),
    "LlmEmbed" -> Seq("embed_brute_topk", "embed_coreset"),
    "LlmText" -> Seq("dedup_minhash_pairs", "text_bm25_search"),
    "graph" -> Seq("events_pagerank"))

  def mixQueries: Seq[(String, Q)] = {
    val defining = Map(
      "Relational" -> Relational.queries, "WarehouseQueries" -> WarehouseQueries.queries,
      "PipelineQueries" -> PipelineQueries.queries, "QuirkQueries" -> QuirkQueries.queries,
      "DmQueries" -> DmQueries.queries, "LlmEmbed" -> LlmEmbed.queries,
      "LlmText" -> LlmText.queries, "graph" -> Relational.queries)
    Mix.flatMap { case (fam, names) =>
      names.map(n => fam -> defining(fam).find(_.name == n)
        .getOrElse(sys.error(s"$n is not defined by $fam")))
    }
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Monotonic time on the epoch scale of Spark's event times, so the
    * harness's spans and the listener's job spans share one clock.
    */
  def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Row count and order-independent content hash of `df`, computed in the
    * same single execution that materializes every output column.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench-digest")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        while (it.hasNext) {
          val r = proj(it.next())
          n += 1
          h += XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L)
        }
        Iterator.single((n, h))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Live heap after full collections, MB. A collection lets Spark's
    * ContextCleaner drop the blocks of unreferenced RDDs, shuffles and
    * broadcasts on its own thread, which frees more for the next one, so
    * collect until the figure moves by less than 1 MB (at most five times).
    */
  def liveHeapMb(): Double = {
    def used: Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = used
    var cur = used
    var n = 2
    while (prev - cur >= 1.0 && n < 5) { prev = cur; cur = used; n += 1 }
    cur
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val cpus = o("cpus").toInt
    val work = Paths.get(o("work")).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      // the session settings of graft.Bench, at this host's core count
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      .config("spark.sql.files.openCostInBytes", "524288")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "131072")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val run = new Run(spark, o, sessionS, work)
    val result =
      try (if (workload == "etl_load") run.etl() else run.queries())
      finally spark.stop()
    Files.write(Paths.get(o("out")), result.getBytes("UTF-8"))
  }
}

/** State of one benchmark process. */
final class Run(spark: SparkSession, o: Map[String, String], sessionS: Double, work: Path) {
  import Harness._

  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble
  private val traced = o("trace") == "1"
  private val cpus = o("cpus").toInt
  private val meter = new Meter(spark, traced)
  private val rng = new scala.util.Random(seed)
  private val ops = ArrayBuffer.empty[Op]
  private val notes = ArrayBuffer.empty[String]
  private val heapSamples = ArrayBuffer.empty[Double]
  private var pinnedPeak = 0.0
  private val rootSpan = meter.newId()
  private implicit val formats: Formats = DefaultFormats
  // harness work inside the timed loop (output checks, heap samples),
  // kept out of its wall time
  private var pausedMs = 0.0

  private def untimed[T](body: => T): T = {
    val t0 = nowMs
    try body finally pausedMs += nowMs - t0
  }

  /** Live heap after GC, sampled after each round or load cycle; the
    * metric is the peak sample.
    */
  private def sampleHeap(): Unit = untimed { heapSamples += liveHeapMb() }

  /** Time one call under its own job group; a thrown error or a failed
    * `check` makes the operation a failure.
    */
  private def timed[T](name: String, family: String, round: Int, parent: Int)(
      body: => T)(check: T => Boolean): Op = {
    val id = meter.newId()
    val g = meter.open(id)
    val t0 = nowMs
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = nowMs
    val c = meter.collect(g)
    val ok = untimed(out match {
      case Right(v) =>
        try check(v) catch { case e: Throwable => note(s"$name: check failed: $e"); false }
      case Left(e) => note(s"$name: ${e.toString.take(300)}"); false
    })
    System.err.println(f"[perfbench] r$round $name%-32s ${(t1 - t0) / 1e3}%.3f s")
    if (traced) {
      meter.record(id, parent, "call", name, t0, t1)
      pinnedPeak = math.max(pinnedPeak, meter.pinnedMb)
    }
    Op(name, family, (t1 - t0) / 1e3, ok, c)
  }

  private def note(s: String): Unit = {
    notes += s
    System.err.println(s"[perfbench] $s")
  }

  // ---------------------------------------------------------------- queries

  private def loadDigests(path: String): Map[String, (Long, Long, Boolean)] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t'))
      .map(f => f(0) -> ((f(1).toLong, f(2).toLong, f(3) == "hash")))
      .toMap

  /** Copy the prepared BuildCache tree into this run's own cache root. */
  private def adoptPrepared(): Unit = o.get("prepared").foreach { src =>
    val from = Paths.get(src, "whcache")
    val to = Paths.get(sys.env("SPARK_GRAFT_CACHE_DIR"))
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val d = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    } finally w.close()
  }

  /** One execution of each query: pays code generation and first-touch
    * memos before timing, and (with `--prepare`) fills the BuildCache the
    * timed runs start from. Returns the number that failed.
    */
  private def warm(qs: Seq[(String, Q)], dir: String,
      check: String => ((Long, Long)) => Boolean, parent: Int): Int =
    qs.count { case (fam, q) =>
      !timed(q.name, fam, 0, parent)(digest(q.fn(spark, dir)))(check(q.name)).ok
    }

  def queries(): String = {
    val qs = mixQueries
    val dir = o("data")
    val record = o.get("record")
    val expected = if (record.isEmpty) loadDigests(o("digests")) else Map.empty[String, (Long, Long, Boolean)]
    val seen = scala.collection.mutable.Map.empty[String, Set[(Long, Long)]]
    def check(name: String)(d: (Long, Long)): Boolean = {
      seen(name) = seen.getOrElse(name, Set.empty) + d
      record.nonEmpty || (expected.get(name) match {
        case Some((rows, hash, byHash)) =>
          val ok = d._1 == rows && (!byHash || d._2 == hash)
          if (!ok) note(s"$name: got rows=${d._1} hash=${d._2}, expected rows=$rows hash=$hash")
          ok
        case None => note(s"$name: no recorded digest"); false
      })
    }

    if (o.contains("prepare")) {
      // Build every BuildCache artifact the queries read, once per build:
      // the warehouse builds alone take longer than a whole timed run, and
      // etl_load times that load path directly.
      val t0 = nowMs
      val failed = warm(qs, dir, check, rootSpan)
      return Serialization.write(Map("buildcache_s" -> (nowMs - t0) / 1e3, "failed" -> failed))
    }

    // Set-up: adopt a pristine copy of the prepared artifacts, then one
    // untimed pass that pays code generation and first-touch memos.
    val s0 = nowMs
    val setupSpan = meter.newId()
    adoptPrepared()
    val warmFailed = warm(qs, dir, check, setupSpan)
    val setupS = (nowMs - s0) / 1e3
    meter.record(setupSpan, rootSpan, "setup", "warm", s0, nowMs)
    note(f"set-up: session ${sessionS}%.2f s, warm-up ${setupS}%.2f s")
    if (warmFailed > 0) note(s"$warmFailed queries failed in warm-up")

    // Timed closed loop, one client: whole rounds of the queries in seeded
    // order, three at least, then until the time is up. Whole rounds keep the
    // latency sample the same multiset of queries on every run.
    val start = nowMs
    pausedMs = 0.0
    def elapsedMs = nowMs - start - pausedMs
    val roundQps = ArrayBuffer.empty[Double]
    while (roundQps.size < 3 || elapsedMs < seconds * 1e3) {
      val round = roundQps.size + 1
      val rs = meter.newId()
      val r0 = nowMs
      rng.shuffle(qs).foreach { case (fam, q) =>
        ops += timed(q.name, fam, round, rs)(digest(q.fn(spark, dir)))(check(q.name))
      }
      roundQps += qs.size / ((nowMs - r0) / 1e3)
      meter.record(rs, rootSpan, "round", s"round $round", r0, nowMs)
      sampleHeap()
    }
    val wallS = elapsedMs / 1e3
    meter.record(rootSpan, 0, "workload", o("workload"), s0, nowMs)

    record.foreach { path =>
      val lines = qs.map { case (_, q) =>
        val ds = seen.getOrElse(q.name, Set.empty)
        val (rows, hash) = ds.headOption.getOrElse((-1L, 0L))
        if (ds.size == 1) s"${q.name}\t$rows\t$hash\thash"
        else s"${q.name}\t$rows\t$hash\trows\toutput differs between executions"
      }
      Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }

    val lat = ops.map(_.wallS).toSeq
    val metrics = Map(
      "setup_s" -> (sessionS + setupS),
      "p50_s" -> quantile(lat, 0.5),
      "p90_s" -> quantile(lat, 0.9),
      "qps" -> ops.size / wallS,
      "heap_live_mb" -> heapSamples.max)
    val perQuery = ops.groupBy(_.name).values.toSeq
    val families = Families.flatMap { fam =>
      val members = perQuery.filter(_.head.family == fam)
      def sumMed(f: Op => Double): Double = members.map(xs => median(xs.map(f).toSeq)).sum
      Seq(
        "wall_s" -> sumMed(_.wallS),
        "plan_s" -> sumMed(_.counts.planNs / 1e9),
        "jobs" -> sumMed(_.counts.jobs.toDouble),
        "tasks" -> sumMed(_.counts.tasks.toDouble),
        "task_s" -> sumMed(_.counts.taskMs / 1e3),
        "shuffle_mb" -> sumMed(_.counts.shuffleBytes / 1e6),
        "spill_mb" -> sumMed(_.counts.spillBytes / 1e6),
        "fallback_exprs" -> sumMed(_.counts.fallbacks.toDouble))
        .map { case (k, v) => s"queries.$fam.$k" -> v }
    }
    val prepareS = o.get("prepared")
      .map(p => new String(Files.readAllBytes(Paths.get(p, "buildcache_s"))).trim.toDouble)
      .getOrElse(0.0)
    val layers = families ++ zeroStages ++ Seq(
      "spark.pinned_mb" -> pinnedPeak,
      "drift" -> roundQps.last / roundQps.head,
      "setup.buildcache_s" -> prepareS,
      "setup.warm_s" -> setupS,
      "pipeline.store_amp" -> 0.0,
      "trace.qps" -> metrics("qps"))
    finish(metrics, layers.toMap, ops.size, ops.count(!_.ok),
      Seq("executions" -> ops.size.toDouble, "rounds" -> roundQps.size.toDouble,
        "warm_failed" -> warmFailed.toDouble))
  }

  private def zeroStages: Seq[(String, Double)] =
    for (s <- Stages; f <- StageFields) yield s"pipeline.$s.$f" -> 0.0

  // ------------------------------------------------------------------- load

  /** Incremental batch filters: order keys hashed with a seeded salt. */
  private def batches(k: Int, salt: Long): Seq[(Int, Map[String, Column])] =
    (0 until k).map { b =>
      (100 + b) -> Map(
        "orders" -> (pmod(xxhash64(col("o_orderkey"), lit(salt)), lit(k)) === b),
        "lineitem" -> (pmod(xxhash64(col("l_orderkey"), lit(salt)), lit(k)) === b))
    }

  /** A load cycle's operations, with the full build's and each batch's
    * calls, and whether the cycle's cross-store checks held.
    */
  private final case class Cycle(ops: Seq[Op], full: Seq[Op], batches: Seq[Seq[Op]],
      fullDir: Path, ok: Boolean)

  /** One load cycle into fresh stores under `base`: a full build, K seeded
    * incremental batches, and a replay of one applied batch. Every Runner
    * call is an operation.
    */
  private def cycle(data: String, base: Path, round: Int, k: Int): Cycle = {
    val cs = meter.newId()
    val c0 = nowMs
    val record = ArrayBuffer.empty[Op]
    def call[T](name: String)(body: => T)(check: T => Boolean = (_: T) => true): Unit =
      record += timed(name, "pipeline", round, cs)(body)(check)
    // first read in a check, so the load's first call pays Spark SQL's cold
    // start as a scheduled load does
    lazy val lineitems = graft.sources.Tables.lineitem(spark, data).count()
    val violationRows = Set("scd2_active_violations", "scd2_product_violations",
      "scd2_employee_violations", "fct_na_date_sk")
    def qaClean(runner: Runner)(qa: Array[Row]): Boolean = {
      val rows = qa.map(r => r.getString(0) -> r.getLong(1)).toMap
      val bad = rows.filter { case (t, n) => if (violationRows(t)) n != 0 else n <= 0 }
      val facts = runner.table("fct_orders").count()
      if (bad.nonEmpty) note(s"qaReport: violations $bad")
      if (facts != lineitems) note(s"qaReport: fact rows $facts != lineitem rows $lineitems")
      bad.isEmpty && facts == lineitems
    }

    val fullDir = base.resolve(s"full_$round")
    val full = new Runner(spark, data, fullDir.toString)
    call("stage")(full.stage(1))()
    call("loadDims")(full.loadDims(1, RunDate))()
    call("loadFact")(full.loadFact(1))()
    call("refreshViews")(full.refreshViews())()
    call("qaReport")(full.qaReport().collect())(qaClean(full))
    val fullOps = record.toList

    val inc = new Runner(spark, data, base.resolve(s"inc_$round").toString)
    val split = batches(k, rng.nextLong())
    val batchOps = split.map { case (loadId, filters) =>
      val before = record.size
      call("batch.stage")(inc.stage(loadId, filters))()
      call("batch.loadDims")(inc.loadDims(loadId, RunDate))()
      call("batch.loadFact")(inc.loadFact(loadId))()
      record.drop(before).toList
    }
    call("batch.refreshViews")(inc.refreshViews())()
    call("batch.qaReport")(inc.qaReport().collect())(qaClean(inc))
    val c6 = untimed(
      digest(full.table("yearly_sales_profit")) == digest(inc.table("yearly_sales_profit")))
    if (!c6) note("c6: incremental yearly_sales_profit differs from the full build")

    // replay an applied batch: the duplicate-load guard must refuse it and
    // leave every staged table unchanged
    val (replayId, replayFilters) = split(rng.nextInt(k))
    val staged = Seq("scr_orders", "scr_lineitem", "scr_customer", "scr_supplier", "scr_part")
    val before = untimed(staged.map(t => inc.table(t).count()))
    call("replay") {
      try { inc.stage(replayId, replayFilters); false }
      catch { case _: IllegalStateException => true }
    } { refused =>
      val unchanged = staged.map(t => inc.table(t).count()) == before
      if (!refused) note(s"replay of batch $replayId was not refused")
      if (!unchanged) note(s"replay of batch $replayId changed the staged tables")
      refused && unchanged
    }
    meter.record(cs, rootSpan, "round", s"cycle $round", c0, nowMs)
    Cycle(record.toList, fullOps, batchOps, fullDir, c6)
  }

  def etl(): String = {
    val k = 2
    // Set-up is the session alone: a load job runs in a fresh JVM, so the
    // cold cycle below is what each scheduled load pays.
    val data = o("data")

    val start = nowMs
    pausedMs = 0.0
    def elapsedMs = nowMs - start - pausedMs
    val cycles = ArrayBuffer.empty[Cycle]
    while (cycles.isEmpty || elapsedMs < seconds * 1e3) {
      val c = cycle(data, work.resolve("stores"), cycles.size + 1, k)
      cycles += c
      ops ++= c.ops
      sampleHeap()
    }
    val wallS = elapsedMs / 1e3
    meter.record(rootSpan, 0, "workload", o("workload"), start, nowMs)
    val failedCycles = cycles.count(!_.ok)

    val lat = ops.map(_.wallS).toSeq
    val metrics = Map(
      "setup_s" -> sessionS,
      "p50_s" -> quantile(lat, 0.5),
      "p90_s" -> quantile(lat, 0.9),
      "qps" -> ops.size / wallS,
      "heap_live_mb" -> heapSamples.max)
    def stageMetrics(name: String, per: Seq[Seq[Op]]): Seq[(String, Double)] = {
      def med(f: Seq[Op] => Double) = median(per.map(f))
      val wall = med(_.map(_.wallS).sum)
      val taskS = med(_.map(_.counts.taskMs / 1e3).sum)
      Seq(
        "wall_s" -> wall,
        "jobs" -> med(_.map(_.counts.jobs.toDouble).sum),
        "task_s" -> taskS,
        "busy" -> (if (wall > 0) taskS / (wall * cpus) else 0.0),
        "shuffle_mb" -> med(_.map(_.counts.shuffleBytes / 1e6).sum),
        "write_mb" -> med(_.map(_.counts.writeBytes / 1e6).sum))
        .map { case (k, v) => s"pipeline.$name.$k" -> v }
    }
    val stages = Stages.flatMap {
      case "batch" => stageMetrics("batch", cycles.flatMap(_.batches).toSeq)
      case s => stageMetrics(s, cycles.map(_.full.filter(_.name == s)).toSeq)
    }
    val sourceBytes = Seq("orders", "lineitem", "customer", "supplier", "part", "region", "nation")
      .map(t => java.nio.file.Files.size(Paths.get(data, s"$t.parquet"))).sum
    val storeAmp = median(cycles.map(c => bytesUnder(c.fullDir).toDouble / sourceBytes).toSeq)
    val zeroFamilies = for (f <- Families; k <- FamilyFields) yield s"queries.$f.$k" -> 0.0
    val cycleQps = cycles.map(c => c.ops.size / c.ops.map(_.wallS).sum)
    val layers = stages ++ zeroFamilies ++ Seq(
      "spark.pinned_mb" -> pinnedPeak,
      "drift" -> (if (cycleQps.size >= 2) cycleQps.last / cycleQps.head else 1.0),
      "setup.buildcache_s" -> 0.0,
      "setup.warm_s" -> 0.0,
      "pipeline.store_amp" -> storeAmp,
      "trace.qps" -> metrics("qps"))
    finish(metrics, layers.toMap, ops.size, ops.count(!_.ok) + failedCycles,
      Seq("cycles" -> cycles.size.toDouble, "executions" -> ops.size.toDouble))
  }

  // ----------------------------------------------------------------- output

  private def finish(metrics: Map[String, Double], layers: Map[String, Double],
      attempted: Int, failed: Int, info: Seq[(String, Double)]): String = {
    Serialization.write(Map(
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics,
      "per_layer" -> layers, "info" -> info.toMap, "notes" -> notes.toList,
      "spans" -> meter.spans))
  }
}
