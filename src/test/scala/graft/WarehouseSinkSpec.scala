package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.functions._

import graft.model.Constants
import graft.operators.{QualityChecks, Scd2}
import graft.sources.{TableStore, Tables}
import graft.streaming.{Maintain, WarehouseSink}

/** Streaming ingest through the batch warehouse path: micro-batches become
  * Load_id batches through the same staging + SCD2 stages, ending in the
  * same dimension a batch load would build.
  */
class WarehouseSinkSpec extends SparkSpec {

  test("foreachBatch stages every micro-batch as a guarded Load_id batch and feeds SCD2") {
    val customers = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("customer_nk"),
        col("c_name").as("customer_name"),
        col("c_mktsegment").as("segment"))

    // two parquet files => two micro-batches (maxFilesPerTrigger=1)
    val srcDir = Files.createTempDirectory("graft_stream_src").toString
    customers.filter(col("customer_nk") % 2 === 0).coalesce(1).write
      .mode("append").parquet(srcDir)
    customers.filter(col("customer_nk") % 2 === 1).coalesce(1).write
      .mode("append").parquet(srcDir)

    val store = new TableStore(spark, Files.createTempDirectory("graft_wh").toString)
    val ckptDir = Files.createTempDirectory("graft_wh_ckpt").toString
    val stream = spark.readStream
      .schema(customers.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)

    val toDim: Int => Unit = { loadId =>
      val src = store.read("scr_customer")
        .filter(col("Load_id") === loadId.toString)
        .select("customer_nk", "customer_name", "segment")
      val dim =
        if (!store.exists("dim_customer"))
          Scd2.initial(src, Seq("customer_nk"), Constants.LowDt)
        else
          Scd2.scd2Apply(store.read("dim_customer"), src, Seq("customer_nk"),
            Seq("customer_name", "segment"), Date.valueOf("2024-06-01"))
      store.overwrite("dim_customer", dim)
    }
    Maintain(stream, ckptDir)(
      WarehouseSink.applyBatch(store, "scr_customer", toDim) _)
      .start().awaitTermination()

    val staged = store.read("scr_customer")
    assert(staged.count() == customers.count(), "every row staged exactly once")
    assert(staged.select("Load_id").distinct().count() >= 2, "one Load_id per micro-batch")
    assert(staged.columns.contains("Insert_Date"), "lineage stamped")

    val dim = store.read("dim_customer")
    assert(dim.count() == customers.count())
    assert(dim.filter(!col(Scd2.IsActive)).isEmpty, "no spurious closes")
    assert(QualityChecks.scd2ActiveViolations(dim, Seq("customer_nk")).isEmpty)
  }

  test("streaming incremental aggregate maintenance equals the one-shot batch aggregate") {
    import graft.operators.IncrementalAgg
    val keys = Seq("l_returnflag", "l_linestatus")
    val sums = Seq("l_quantity", "l_extendedprice")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_extendedprice"))

    // three parquet files => three micro-batches
    val srcDir = Files.createTempDirectory("graft_inc_src").toString
    (0 to 2).foreach { i =>
      li.filter(col("l_orderkey") % 3 === i).coalesce(1).write
        .mode("append").parquet(srcDir)
    }
    val store = new TableStore(spark, Files.createTempDirectory("graft_inc_wh").toString)
    val ckptDir = Files.createTempDirectory("graft_inc_ckpt").toString
    val stream = spark.readStream
      .schema(li.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    // the production state-table pattern: each micro-batch folds its delta
    // into the persisted state (TableStore's temp-then-swap makes the
    // read-modify-overwrite safe); only the delta is ever re-aggregated
    Maintain(stream, ckptDir) { (batch, _) =>
      val delta = IncrementalAgg.fromBatch(batch, keys, sums)
      val next =
        if (!store.exists("agg_state")) delta
        else IncrementalAgg.merge(store.read("agg_state"), delta, keys, sums)
      store.overwrite("agg_state", next)
    }.start().awaitTermination()

    val streamed = IncrementalAgg.present(store.read("agg_state"), keys, sums)
      .collect().map(_.toSeq).toSet
    val oneShot = IncrementalAgg.present(
        IncrementalAgg.fromBatch(li, keys, sums), keys, sums)
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot,
      s"streamed-only: ${streamed -- oneShot}; oneshot-only: ${oneShot -- streamed}")
  }

  test("a restarted stream stages its new file under the next Load_id") {
    import spark.implicits._
    val customers = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("customer_nk"),
        col("c_name").as("customer_name"),
        col("c_mktsegment").as("segment"))
    def part(i: Int) = customers.filter(col("customer_nk") % 3 === i)
    val srcDir = Files.createTempDirectory("graft_wh_rs_src").toString
    val ckptDir = Files.createTempDirectory("graft_wh_rs_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_wh_rs").toString)
    def run(): Unit = {
      // no maxFilesPerTrigger: each run stages all unseen files as ONE batch
      val stream = spark.readStream.schema(customers.schema).parquet(srcDir)
      Maintain(stream, ckptDir)(WarehouseSink.applyBatch(store, "scr_customer") _)
        .start().awaitTermination()
    }
    (0 to 1).foreach(i => part(i).coalesce(1).write.mode("append").parquet(srcDir))
    run() // Load_id 1
    part(2).coalesce(1).write.mode("append").parquet(srcDir)
    // the restart resumes at batch 1 = Load_id 2; a fresh id 0 would ask
    // for Load_id 1 again and the duplicate-load guard would refuse it
    run()
    val staged = store.read("scr_customer")
    assert(staged.count() == customers.count(), "every row staged exactly once")
    assert(staged.select("Load_id").as[String].distinct().collect().toSet == Set("1", "2"))
    assert(staged.filter(col("Load_id") === "2").select("customer_nk").as[Long]
      .collect().toSet == part(2).select("customer_nk").as[Long].collect().toSet)
  }
}
