package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.Runner
import graft.sources.{TableStore, Tables}

/** End-to-end pipeline (reference orchestrators C5 + guards S3/C1 +
  * QA E3) over the sf0.001 tables in a throwaway work dir.
  */
class RunnerSpec extends SparkSpec {

  private def newRunner() = {
    val dir = Files.createTempDirectory("graft_runner").toString
    new Runner(spark, sfDir, dir)
  }

  test("runAll builds dims, fact, views, and a clean QA report") {
    val runner = newRunner()
    val report = runner.runAll(1, Date.valueOf("2024-01-01")).cache()

    val counts = report.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("scd2_active_violations") == 0L)
    assert(counts("scd2_product_violations") == 0L)
    assert(counts("fct_orders") == Tables.lineitem(spark, sfDir).count(),
      "every lineitem lands in the fact exactly once")
    // full warehouse breadth: 2 SCD2 dims + 4 SCD1 dims (+date), all built
    assert(counts("dim_supplier") ==
      Tables(spark, sfDir, "supplier").count() + 1, "supplier dim + NA member")
    assert(counts("dim_product") == Tables(spark, sfDir, "part").count(),
      "every part bootstraps one active product version")
    assert(counts("dim_brand") ==
      Tables(spark, sfDir, "part").select("p_brand").distinct().count() + 1)
    // every fact row resolves its supplier surrogate (lookup is total)
    assert(runner.table("fct_orders")
      .filter(col("supplier_sk") === -1L).isEmpty)

    // 3-level surrogate snowflake chain (employee→nation→region, the
    // reference's address→country→region analog): FK integrity is total
    // at every hop, including the NA members
    val emp = runner.table("dim_employee").cache()
    assert(counts("dim_employee") == Tables(spark, sfDir, "supplier").count(),
      "every supplier bootstraps one active employee version")
    val nationSks = runner.table("dim_nation")
      .select("nation_sk").collect().map(_.getLong(0)).toSet
    assert(nationSks.contains(-1L), "nation dim must carry the NA member")
    assert(emp.select("nation_sk").collect().map(_.getLong(0)).forall(nationSks),
      "every employee nation_sk must resolve in dim_nation")
    val regionSks = runner.table("dim_region")
      .select("region_sk").collect().map(_.getLong(0)).toSet
    assert(regionSks.contains(-1L), "region dim must carry the NA member")
    assert(runner.table("dim_nation")
      .select("region_sk").collect().map(_.getLong(0)).forall(regionSks),
      "every nation region_sk must resolve in dim_region")
    // the name wiring: split + concat round-trips the feed name
    assert(emp.filter(col("first_name") =!= "Supplier").isEmpty)
    emp.unpersist()
    // reference 12-dim breadth: segment lookup + fact-sized order dim
    assert(counts("dim_segment") == Tables.customer(spark, sfDir)
      .select("c_mktsegment").distinct().count() + 1)
    assert(counts("dim_orders") ==
      Tables.orders(spark, sfDir).count() + 1, "order dim + NA member")
    // the scalable surrogate path assigned dense collision-free keys
    val ordDim = runner.table("dim_orders")
    assert(ordDim.select("order_sk").distinct().count() == ordDim.count(),
      "order surrogates must be collision-free")
    // every fact row resolves its order surrogate (lookup is total)
    assert(runner.table("fct_orders").filter(col("order_sk") === -1L).isEmpty)
    // the date surrogate FK is total and resolves in the generated dim
    assert(counts("fct_na_date_sk") == 0L)
    val dateSks = runner.table("dim_date")
      .select("date_id").collect().map(_.getLong(0)).toSet
    assert(runner.table("fct_orders")
      .select("date_sk").distinct().collect().map(_.getLong(0)).forall(dateSks),
      "every fact date_sk must resolve in dim_date")

    val view = runner.table("yearly_sales_profit").cache()
    assert(view.count() > 0)
    // every fact row carries a resolved region (customer->nation->region
    // is total in the test data): no NA group should appear
    assert(view.filter(col("region") === "NA").isEmpty)
    assert(view.agg(sum("n_items")).head().getLong(0) ==
      Tables.lineitem(spark, sfDir).count())
    view.unpersist()
    report.unpersist()
  }

  test("two-batch incremental build equals the one-shot build") {
    val oneShot = newRunner()
    oneShot.runAll(1, Date.valueOf("2024-01-01"))
    val inc = newRunner()
    inc.runIncremental(
      Seq(
        1 -> Map("orders" -> (col("o_orderkey") % 2 === 0),
          "lineitem" -> (col("l_orderkey") % 2 === 0)),
        2 -> Map("orders" -> (col("o_orderkey") % 2 === 1),
          "lineitem" -> (col("l_orderkey") % 2 === 1))),
      Date.valueOf("2024-01-01"))

    val a = oneShot.table("yearly_sales_profit")
    val b = inc.table("yearly_sales_profit")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "incremental view must match one-shot view exactly")
    val ea = oneShot.table("sales_employee_region")
    val eb = inc.table("sales_employee_region")
    assert(ea.exceptAll(eb).isEmpty && eb.exceptAll(ea).isEmpty,
      "incremental employee view must match one-shot exactly")
    // SCD2 customer saw the same (unchanged) source twice: no new versions
    assert(inc.table("dim_customer").count() ==
      oneShot.table("dim_customer").count())
    // same for the SCD2 product dim and the SCD1 supplier/brand chains —
    // the full-feed restage under load 2 must no-op every one of them
    assert(inc.table("dim_product").count() ==
      oneShot.table("dim_product").count())
    assert(inc.table("dim_supplier").count() ==
      oneShot.table("dim_supplier").count())
    assert(inc.table("dim_brand").count() ==
      oneShot.table("dim_brand").count())
    assert(inc.table("dim_employee").count() ==
      oneShot.table("dim_employee").count(),
      "unchanged employee feed must not create new SCD2 versions")
    assert(inc.table("dim_segment").count() ==
      oneShot.table("dim_segment").count())
    // order dim grows per batch (each batch brings its own orders) and
    // the two arrival orders assign different surrogate VALUES — like
    // reference sequences — but the same total and the same natural keys
    assert(inc.table("dim_orders").count() ==
      oneShot.table("dim_orders").count())
    assert(inc.table("dim_orders").select("order_nk").exceptAll(
      oneShot.table("dim_orders").select("order_nk")).isEmpty)
    // each load's fact slice is lineage-tagged
    val byLoad = inc.table("fct_orders").groupBy("load_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLoad.keySet == Set("1", "2") && byLoad.values.sum ==
      Tables.lineitem(spark, sfDir).count())
  }

  test("late-arriving suppliers repair NA fact FKs in affected partitions only") {
    val runner = newRunner()
    val late = col("s_suppkey") % 4 === 0
    // batch 1: everything except the late suppliers
    runner.stage(1, Map("supplier" -> !late))
    runner.loadDims(1, Date.valueOf("2024-01-01"))
    runner.loadFact(1)
    val beforeNa = runner.table("fct_orders")
      .filter(col("supplier_sk") === -1L).count()
    assert(beforeNa > 0, "fixture must produce NA-resolved fact rows")
    // decimal accumulation: the repair rewrites partitions into a fresh
    // layout, so a double sum would differ in last-ULP addition order
    def revenueSum(t: String) = runner.table(t)
      .agg(sum(col("revenue").cast("decimal(38,6)"))).head().getDecimal(0)
    val beforeRevenue = revenueSum("fct_orders")

    // batch 2 delivers ONLY the late suppliers; repair re-resolves
    runner.stage(2, Map(
      "supplier" -> late,
      "orders" -> lit(false), "lineitem" -> lit(false),
      "customer" -> lit(false), "part" -> lit(false)))
    runner.loadDims(2, Date.valueOf("2024-02-01"))
    runner.repairLateFks()

    val fact = runner.table("fct_orders")
    assert(fact.filter(col("supplier_sk") === -1L).isEmpty,
      "every late FK must now resolve")
    // repair touches FKs only: row count and measures are untouched
    assert(fact.count() == Tables.lineitem(spark, sfDir).count())
    assert(revenueSum("fct_orders") == beforeRevenue)
    // and the repaired keys resolve to the real dim rows
    val supSks = runner.table("dim_supplier")
      .select("supplier_sk").collect().map(_.getLong(0)).toSet
    assert(fact.select("supplier_sk").distinct()
      .collect().map(_.getLong(0)).forall(supSks))
  }

  private val stagedTables = Seq("orders", "lineitem", "customer", "supplier", "part")

  test("duplicate load id is rejected (idempotence guard S3)") {
    val runner = newRunner()
    runner.stage(1)
    def stagedRows = stagedTables.map(t => runner.table(s"scr_$t").count())
    val before = stagedRows
    val e = intercept[IllegalStateException](runner.stage(1))
    assert(e.getMessage.contains("already loaded"))
    assert(stagedRows == before, "a refused replay must leave every staged table unchanged")
    // a new batch id passes the guard
    runner.stage(2)
  }

  test("a full load with an empty third source writes no staged table (C1 before any write)") {
    val src = Files.createTempDirectory("graft_c1_src").toString
    try {
      stagedTables.foreach { t =>
        val df = Tables(spark, sfDir, t)
        (if (t == "customer") df.limit(0) else df).write.parquet(s"$src/$t.parquet")
      }
      val work = Files.createTempDirectory("graft_c1_wh").toString
      val e = intercept[IllegalArgumentException](new Runner(spark, src, work).stage(1))
      assert(e.getMessage.contains("no data in the source: customer"))
      val store = new TableStore(spark, work)
      val written = stagedTables.filter(t => store.exists(s"scr_$t"))
      assert(written.isEmpty, s"staged before the guard fired: $written")
    } finally Tables.evictDir(src)
  }

  test("each staged table's S3 guard runs once per stage call") {
    val runner = newRunner()
    runner.stage(1)
    // every table sliced: C1 is skipped, so the only emptiness probes left
    // are the five duplicate-load guards
    val probes = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "isEmpty") probes.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      runner.stage(2, stagedTables.map(t => t -> lit(true)).toMap)
      ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(probes.get == stagedTables.size)
  }

  test("log_table rows equal the rows each load committed (full and incremental)") {
    val oneShot = newRunner()
    oneShot.runAll(1, Date.valueOf("2024-01-01"))
    val inc = newRunner()
    inc.runIncremental(
      Seq(
        1 -> Map("orders" -> (col("o_orderkey") % 2 === 0),
          "lineitem" -> (col("l_orderkey") % 2 === 0)),
        2 -> Map("orders" -> (col("o_orderkey") % 2 === 1),
          "lineitem" -> (col("l_orderkey") % 2 === 1))),
      Date.valueOf("2024-01-01"))
    for ((runner, loads) <- Seq(oneShot -> Seq(1), inc -> Seq(1, 2))) {
      val logged = runner.table("log_table").collect()
        .map(r => (r.getString(0), r.getInt(2)) -> r.getLong(1))
      val committed = loads.flatMap { id =>
        stagedTables.map(t => (s"stage_$t", id) ->
          runner.table(s"scr_$t").filter(col("Load_id") === id.toString).count()) ++
          Seq(
            // the customer dim is the logged dim; later loads restage the
            // same customers, so it commits the same rows every load
            ("load_dims", id) -> runner.table("dim_customer").count(),
            // range-partitioned write: a count below the repartition would
            // see every row twice
            ("load_fact", id) ->
              runner.table("fct_orders").filter(col("load_id") === id.toString).count())
      }
      assert(logged.sortBy(_.toString).toSeq == committed.sortBy(_.toString))
    }
  }

  test("second batch closes changed SCD2 customers instead of duplicating them") {
    val runner = newRunner()
    runner.runAll(1, Date.valueOf("2024-01-01"))
    // replay the same customers as batch 2: no changes -> no closes
    runner.stage(2)
    runner.loadDims(2, Date.valueOf("2024-02-01"))
    val dim = runner.table("dim_customer")
    assert(dim.filter(!col("is_active")).isEmpty)
    assert(dim.count() == Tables.customer(spark, sfDir).count())
  }
}
