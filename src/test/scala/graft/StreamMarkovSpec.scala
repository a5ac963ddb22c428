package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TableStore
import graft.streaming.StreamMarkov

/** Streaming Markov-transition maintenance: time-contiguous batch folds
  * (internal lag pairs + the per-user last-event stitch) must count
  * exactly the one-shot window's consecutive pairs — including chains
  * that straddle batch boundaries, skip batches, or belong to the null
  * user — and survive replays and crash-before-marker.
  */
class StreamMarkovSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  // (user, ts, event_id, k) — ts ranges [0,10) / [10,20) / [20,30) are
  // the three time-contiguous batches
  private def ev = Seq(
    (Some(1L), 1L, 1L, Some(1L)), (Some(1L), 2L, 2L, Some(2L)), // u1 b0: (1,2)
    (Some(1L), 11L, 3L, Some(3L)),                              // u1 b1: stitch (2,3)
    (Some(1L), 21L, 4L, Some(4L)),                              // u1 b2: stitch (3,4)
    (Some(2L), 1L, 5L, Some(7L)), (Some(2L), 2L, 6L, Some(7L)), // u2 b0: (7,7)
    (Some(3L), 2L, 7L, Some(1L)),                               // u3 b0
    (Some(3L), 25L, 8L, Some(2L)),       // u3 b2: stitch ACROSS empty b1 (1,2)
    (None, 3L, 9L, Some(8L)),                                   // null user b0
    (None, 12L, 10L, Some(9L)),          // null user b1: null-safe stitch (8,9)
    (Some(4L), 4L, 11L, None),                                  // u4 b0: null k
    (Some(4L), 13L, 12L, Some(5L)),      // u4 b1: stitch FROM null k dropped
    (Some(5L), 5L, 13L, Some(6L)),                              // u5 b0
    (Some(5L), 14L, 14L, None)           // u5 b1: stitch TO null k counted
  ).toDF("u", "ts", "eid", "k")

  private val expected = Map(
    (Some(1L), Some(2L)) -> 2L, (Some(2L), Some(3L)) -> 1L,
    (Some(3L), Some(4L)) -> 1L, (Some(7L), Some(7L)) -> 1L,
    (Some(8L), Some(9L)) -> 1L, (Some(6L), None) -> 1L)

  private def foldAll(store: TableStore): Unit = {
    val fold = StreamMarkov.applyBatch(store, "cnt", "last",
      "u", "ts", "eid", "k") _
    fold(ev.filter(col("ts") < 10), 0L)
    fold(ev.filter(col("ts") >= 10 && col("ts") < 20), 1L)
    fold(ev.filter(col("ts") >= 20), 2L)
  }

  private def counts(store: TableStore): Map[(Option[Long], Option[Long]), Long] =
    StreamMarkov.mergedCounts(store, "cnt", "last")
      .as[(Option[Long], Option[Long], Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap

  test("time-split fold counts the one-shot pairs: boundary stitches, skipped batches, null chains") {
    val store = new TableStore(s, Files.createTempDirectory("graft_smk").toString)
    foldAll(store)
    assert(counts(store) == expected)
  }

  test("replay of an applied batch is a no-op") {
    val store = new TableStore(s, Files.createTempDirectory("graft_smk2").toString)
    foldAll(store)
    StreamMarkov.applyBatch(store, "cnt", "last", "u", "ts", "eid", "k")(
      ev.filter(col("ts") >= 20), 2L)
    assert(counts(store) == expected)
  }

  test("a crash between the counts and last-event commits replays without double stitches") {
    // The dangerous partial state is "batch 2's counts written, its
    // last-event partition and its marker absent": mergedCounts must
    // exclude the orphan, and the recovery replay must reconstruct (not
    // double) batch 2's pairs.
    val store = new TableStore(s, Files.createTempDirectory("graft_smk3").toString)
    foldAll(store)
    FoldCrash.beforePartition(store, "last", 2L)
    // the orphan counts partition is invisible to readers
    assert(counts(store) ==
      expected - ((Some(3L), Some(4L))) - ((Some(1L), Some(2L))) +
        ((Some(1L), Some(2L)) -> 1L))
    StreamMarkov.applyBatch(store, "cnt", "last", "u", "ts", "eid", "k")(
      ev.filter(col("ts") >= 20), 2L) // recovery replay
    assert(counts(store) == expected)
  }

  test("a crash after both partitions landed, before the marker commit, replays to the clean store") {
    val store = new TableStore(s, Files.createTempDirectory("graft_smk4").toString)
    foldAll(store)
    val clean = FoldCrash.tables(store, "cnt", "last")
    FoldCrash.beforeMarker(store, "last", 2L)
    StreamMarkov.applyBatch(store, "cnt", "last", "u", "ts", "eid", "k")(
      ev.filter(col("ts") >= 20), 2L) // recovery replay
    assert(FoldCrash.tables(store, "cnt", "last") == clean)
    assert(counts(store) == expected)
  }
}
