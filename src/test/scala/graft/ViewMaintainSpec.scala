package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.IncrementalAgg
import graft.sources.{TableStore, Tables}
import graft.streaming.{Maintain, ViewMaintain}

/** Streaming view maintenance: N micro-batches of deltas folded into the
  * stored state must end bit-identical to one-shot re-aggregation — the
  * stream==batch contract for continuously-maintained views.
  */
class ViewMaintainSpec extends SparkSpec {

  test("streaming top-k: maintained per-user counts present the batch top-3 exactly") {
    import spark.implicits._
    // maintain (event_type, user_id) counts from a 3-micro-batch stream,
    // then rank the maintained state with the bounded-heap aggregate —
    // a continuously-queryable streaming top-k without a second stateful
    // aggregation inside the stream (which Structured Streaming forbids)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"))
    val srcDir = Files.createTempDirectory("graft_topk_src").toString
    (0 to 2).foreach { i =>
      ev.filter(pmod(col("user_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val store = new TableStore(spark, Files.createTempDirectory("graft_topk").toString)
    val ckptDir = Files.createTempDirectory("graft_topk_ckpt").toString
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    Maintain(stream, ckptDir)(ViewMaintain.applyBatch(store, "user_counts",
      Seq("event_type", "user_id"), Nil) _).start().awaitTermination()

    val got = IncrementalAgg.present(store.read("user_counts"),
        Seq("event_type", "user_id"), Nil)
      .groupBy(col("event_type"))
      .agg(call_function("topk_pairs",
        col("n").cast("double"), col("user_id"), lit(3)).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), col("col.id").as("user_id"),
        col("col.score").cast("long").as("n"), (col("pos") + 1).cast("long").as("rnk"))
      .as[(String, Long, Long, Long)].collect().toSet
    val want = SparkEntry.queries("events_top_users")(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("half-applied crash window: replay completes stale buckets without double-folding merged ones") {
    import spark.implicits._
    // two group keys in DIFFERENT buckets (probe candidates until two
    // hash apart under the default 64)
    val cands = (0 until 20).map(i => s"g$i")
    val buckets = cands.map { g =>
      g -> spark.range(1).select(
        pmod(xxhash64(lit(g)), lit(64L)).cast("int")).head().getInt(0)
    }
    val Seq((ga, ba), (gb, bb)) =
      buckets.groupBy(_._2).values.filter(_.size == 1).take(2).map(_.head).toSeq
    assert(ba != bb)
    def batch(n: Int) = Seq((ga, n * 1.0), (gb, n * 10.0)).toDF("g", "v")

    // reference: both batches folded normally
    val ref = new TableStore(spark, Files.createTempDirectory("graft_vm_ref").toString)
    val foldRef = ViewMaintain.applyBatch(ref, "agg", Seq("g"), Seq("v")) _
    foldRef(batch(0), 0L); foldRef(batch(1), 1L)

    // crashed store: batch 1 fully merged bucket bb, but bucket ba is
    // still pre-batch and the marker never committed
    val st = new TableStore(spark, Files.createTempDirectory("graft_vm_crash").toString)
    val fold = ViewMaintain.applyBatch(st, "agg", Seq("g"), Seq("v")) _
    fold(batch(0), 0L)
    val preA = st.read("agg").filter(col("__bucket") === ba).collect()
    fold(batch(1), 1L)
    val preDf = spark.createDataFrame(
      spark.sparkContext.parallelize(preA.toSeq),
      st.read("agg").schema)
    st.replacePartitions("agg", preDf, "__bucket") // bucket ba back to pre-batch
    st.putMarker("agg__batch", 0L) // marker never advanced

    fold(batch(1), 1L) // the replay
    val got = IncrementalAgg.present(st.read("agg"), Seq("g"), Seq("v"))
      .as[(String, Long, Double)].collect().toSet
    val want = IncrementalAgg.present(ref.read("agg"), Seq("g"), Seq("v"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == want,
      s"replay diverged: got $got want $want (double-fold or lost bucket)")
  }

  test("streamed micro-batch folds equal the one-shot aggregate exactly") {
    val keys = Seq("l_returnflag", "l_linestatus")
    val sums = Seq("l_quantity", "l_extendedprice")
    val li = Tables.lineitem(spark, sfDir)
      .select((keys ++ sums).map(col): _*)

    // three parquet files => three micro-batches (maxFilesPerTrigger=1)
    val srcDir = Files.createTempDirectory("graft_vm_src").toString
    (0 to 2).foreach { i =>
      li.filter(col("l_quantity").cast("long") % 3 === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }

    val store = new TableStore(spark, Files.createTempDirectory("graft_vm").toString)
    val ckptDir = Files.createTempDirectory("graft_vm_ckpt").toString
    val stream = spark.readStream
      .schema(li.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    Maintain(stream, ckptDir)(
      ViewMaintain.applyBatch(store, "agg_lineitem", keys, sums) _)
      .start().awaitTermination()

    val streamed = IncrementalAgg.present(store.read("agg_lineitem"), keys, sums)
    val oneShot = IncrementalAgg.present(
      IncrementalAgg.fromBatch(li, keys, sums), keys, sums)
    // bit-exact equality, doubles included: decimal state + order-free merge
    assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty,
      "streamed state must equal the one-shot aggregate bit for bit")
    // and the state really was folded incrementally, not rebuilt: the
    // stored table exists and carries one row per group
    assert(store.read("agg_lineitem").count() == oneShot.count())

    // replay safety: the stream driver is at-least-once — re-applying an
    // already-folded batch id must be a no-op, not a double-fold
    val replayed = li.limit(50)
    ViewMaintain.applyBatch(store, "agg_lineitem", keys, sums)(replayed, 0L)
    val afterReplay = IncrementalAgg.present(store.read("agg_lineitem"), keys, sums)
    assert(afterReplay.exceptAll(oneShot).isEmpty && oneShot.exceptAll(afterReplay).isEmpty,
      "a replayed batch id must not change the state")
    // a genuinely new batch id still folds
    ViewMaintain.applyBatch(store, "agg_lineitem", keys, sums)(replayed, 99L)
    assert(IncrementalAgg.present(store.read("agg_lineitem"), keys, sums)
      .agg(sum("n")).head().getLong(0) == li.count() + 50)
  }

  test("a restarted stream resumes its batch ids from the checkpoint: view == one-shot") {
    val keys = Seq("l_returnflag", "l_linestatus")
    val sums = Seq("l_quantity", "l_extendedprice")
    val li = Tables.lineitem(spark, sfDir)
      .select((keys ++ sums).map(col): _*)
    val srcDir = Files.createTempDirectory("graft_vm_rs_src").toString
    val ckptDir = Files.createTempDirectory("graft_vm_rs_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_vm_rs").toString)
    def part(i: Int) = li.filter(col("l_quantity").cast("long") % 3 === i)
      .coalesce(1).write.mode("append").parquet(srcDir)
    def run(): Unit = {
      // no maxFilesPerTrigger: each run folds all unseen files as ONE batch
      val stream = spark.readStream.schema(li.schema).parquet(srcDir)
      Maintain(stream, ckptDir)(
        ViewMaintain.applyBatch(store, "agg_lineitem", keys, sums) _)
        .start().awaitTermination()
    }
    part(0); part(1)
    run() // batch 0
    part(2)
    // the restart must fold the third file as batch 1: a fresh id 0 would
    // sit at the marker and be skipped as a replay
    run()
    assert(store.getMarker("agg_lineitem__batch").contains(1L))
    val streamed = IncrementalAgg.present(store.read("agg_lineitem"), keys, sums)
    val oneShot = IncrementalAgg.present(
      IncrementalAgg.fromBatch(li, keys, sums), keys, sums)
    assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty,
      "the restarted stream must end at the one-shot aggregate")
  }
}
