package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TableStore
import graft.streaming.{Maintain, StreamFunnel}

/** Streaming first-touch funnel: the folded (user, stage) min store must
  * read out the exact one-shot funnel (the MIN merge law across batches
  * that split a user's stages), bound per-batch writes by the batch's
  * distinct user-stage pairs, treat replays as no-ops, and survive a
  * real AvailableNow restart.
  */
class StreamFunnelSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  /** 60 users × up to 4 stage events with stage order varying per user:
    * u % 4 == 0 signup→click→purchase (full funnel), u % 4 == 1 the
    * purchase precedes the click (broken order), u % 4 == 2 no signup,
    * u % 4 == 3 click-before-signup. Duplicate stage events at later
    * times exercise the first-touch min.
    */
  private def events = {
    val rows = (0L until 60L).flatMap { u =>
      val base = u * 100
      val mk = (t: Long, ty: String) =>
        (u, new java.sql.Timestamp(1700000000000L + (base + t) * 60000), ty)
      (u % 4 match {
        case 0 => Seq(mk(1, "signup"), mk(2, "click"), mk(3, "purchase"))
        case 1 => Seq(mk(1, "signup"), mk(3, "click"), mk(2, "purchase"))
        case 2 => Seq(mk(1, "click"), mk(2, "purchase"))
        case _ => Seq(mk(2, "signup"), mk(1, "click"), mk(3, "purchase"))
      }) ++
        // late duplicates exercise the first-touch min — but never a
        // late SIGNUP for the no-signup cohort, which must keep its
        // NULL t_signup so n_signup < n_users stays a real assertion
        (if (u % 4 != 2) Seq(mk(50, "signup")) else Seq()) ++ Seq(mk(60, "click"))
    }
    rows.toDF("user_id", "ts", "event_type")
  }

  private def oneShot = events
    .groupBy(col("user_id"))
    .agg(
      min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
      min(when(col("event_type") === "click", col("ts"))).as("t_click"),
      min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    .agg(
      count(lit(1)).as("n_users"),
      sum(when(col("t_signup").isNotNull, 1).otherwise(0)).as("n_signup"),
      sum(when(col("t_click") > col("t_signup"), 1).otherwise(0)).as("n_click_after"),
      sum(when(col("t_click") > col("t_signup") &&
        col("t_purchase") > col("t_click"), 1).otherwise(0)).as("n_full_funnel"))
    .as[(Long, Long, Long, Long)].head()

  private def readout(store: TableStore): (Long, Long, Long, Long) =
    StreamFunnel.funnelReadout(
      StreamFunnel.mergedStageMins(store, "funnel", "user_id", "event_type"),
      "user_id", "event_type")
      .as[(Long, Long, Long, Long)].head()

  test("3-batch fold == one-shot funnel, with stages straddling batches") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sfun").toString)
    val fold = StreamFunnel.applyStageMins(
      store, "funnel", "user_id", "event_type", "ts") _
    // split by EVENT time parity, not user — every user's stages land in
    // different batches, so the cross-batch min is what's being read
    (0 to 2).foreach(i =>
      fold(events.filter(pmod(minute(col("ts")) + col("user_id"), lit(3)) === i),
        i.toLong))
    assert(readout(store) == oneShot)
    // the fixture's cohorts must make every funnel count a strict subset
    // (all-60 equalities would let a dropped guard pass unnoticed)
    val (nUsers, nSignup, nClickAfter, nFull) = oneShot
    assert(nSignup < nUsers && nClickAfter < nSignup && nFull < nClickAfter,
      s"degenerate fixture: $oneShot")
  }

  test("write volume is batch-pair bounded; replay and stale batch ids are no-ops") {
    val store = new TableStore(s, Files.createTempDirectory("graft_sfun2").toString)
    val fold = StreamFunnel.applyStageMins(
      store, "funnel", "user_id", "event_type", "ts") _
    val b0 = events.filter(col("user_id") < 30)
    fold(b0, 0L)
    val rows0 = store.read("funnel").filter(col("__applied") === 0).collect().toSet
    val pairs0 = b0.select("user_id", "event_type").distinct().count()
    assert(rows0.size.toLong == pairs0,
      s"batch 0 wrote ${rows0.size} rows != $pairs0 distinct (user, stage) pairs")
    fold(events.filter(col("user_id") >= 30), 1L)
    assert(store.read("funnel").filter(col("__applied") === 0)
      .collect().toSet == rows0, "a later fold rewrote batch 0's mins")
    val all = store.read("funnel").collect().toSet
    fold(events.filter(col("user_id") >= 30), 1L) // at-least-once replay
    assert(store.read("funnel").collect().toSet == all, "replay re-landed rows")
    fold(events.limit(5), 0L) // stale id after progress
    assert(store.read("funnel").collect().toSet == all, "stale batch id applied")
    assert(readout(store) == oneShot)
  }

  test("real AvailableNow stream over file micro-batches == one-shot") {
    val dir = Files.createTempDirectory("graft_sfun3").toString
    (0 to 2).foreach(i => events
      .filter(pmod(col("user_id"), lit(3)) === i)
      .write.mode("overwrite").parquet(s"$dir/in/b$i"))
    val store = new TableStore(s, s"$dir/store")
    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
    Maintain(stream, s"$dir/ckpt")(StreamFunnel.applyStageMins(store,
      "funnel", "user_id", "event_type", "ts") _)
      .start().awaitTermination()
    assert(readout(store) == oneShot)
  }
}
