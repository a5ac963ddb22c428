package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TableStore
import graft.streaming.StreamItemCf

/** Streaming recommender index: basket-whole batch folds of pair and
  * item counts must merge to the one-shot statistics in any arrival
  * order, dedup split order lines, and survive replays and
  * crash-before-marker.
  */
class StreamItemCfSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  // baskets: 1{A,B,C} 2{A,B} 3{B,C} 4{A} 5{A,B} — with a duplicated
  // order line (1,A) that must not double-count
  private def rows = Seq(
    (1L, "A"), (1L, "A"), (1L, "B"), (1L, "C"),
    (2L, "A"), (2L, "B"),
    (3L, "B"), (3L, "C"),
    (4L, "A"),
    (5L, "A"), (5L, "B")
  ).toDF("basket", "item")

  private def expectedPairs = Map(
    ("A", "B") -> 3L, ("A", "C") -> 1L, ("B", "C") -> 2L)
  private def expectedItems = Map("A" -> 4L, "B" -> 4L, "C" -> 2L)

  private def foldAll(store: TableStore, order: Seq[Int]): Unit = {
    val fold = StreamItemCf.applyBatch(store, "p", "i", "basket", "item") _
    order.zipWithIndex.foreach { case (slice, bid) =>
      fold(rows.filter(col("basket") % 3 === slice), bid.toLong)
    }
  }

  private def readPairs(store: TableStore): Map[(String, String), Long] =
    StreamItemCf.mergedPairCounts(store, "p", "i")
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap

  private def readItems(store: TableStore): Map[String, Long] =
    StreamItemCf.mergedItemCounts(store, "i")
      .as[(String, Long)].collect().toMap

  test("basket-whole folds merge to the one-shot counts, both arrival orders") {
    for (order <- Seq(Seq(0, 1, 2), Seq(2, 0, 1))) {
      val store = new TableStore(s,
        Files.createTempDirectory("graft_scf").toString)
      foldAll(store, order)
      assert(readPairs(store) == expectedPairs, s"order $order")
      assert(readItems(store) == expectedItems, s"order $order")
    }
  }

  test("replay is a no-op; a crash before the item-count marker recovers on re-fold") {
    val store = new TableStore(s, Files.createTempDirectory("graft_scf2").toString)
    foldAll(store, Seq(0, 1, 2))
    val fold = StreamItemCf.applyBatch(store, "p", "i", "basket", "item") _
    fold(rows.filter(col("basket") % 3 === 2), 2L) // at-least-once replay
    assert(readPairs(store) == expectedPairs && readItems(store) == expectedItems)
    // crash: batch 2's pairs landed, its item partition and marker did not
    FoldCrash.beforePartition(store, "i", 2L)
    // batch 2 = baskets {2, 5}: its pairs are invisible until the retry
    assert(readPairs(store) == Map(("A", "B") -> 1L, ("A", "C") -> 1L,
      ("B", "C") -> 2L))
    fold(rows.filter(col("basket") % 3 === 2), 2L) // recovery replay
    assert(readPairs(store) == expectedPairs && readItems(store) == expectedItems)
  }

  test("a crash after both partitions landed, before the marker commit, replays to the clean store") {
    val store = new TableStore(s, Files.createTempDirectory("graft_scf3").toString)
    foldAll(store, Seq(0, 1, 2))
    val clean = FoldCrash.tables(store, "p", "i")
    FoldCrash.beforeMarker(store, "i", 2L)
    // batch 2 = baskets {2, 5}: uncommitted, so invisible to the readers
    assert(readPairs(store) == Map(("A", "B") -> 1L, ("A", "C") -> 1L,
      ("B", "C") -> 2L))
    StreamItemCf.applyBatch(store, "p", "i", "basket", "item")(
      rows.filter(col("basket") % 3 === 2), 2L) // recovery replay
    assert(FoldCrash.tables(store, "p", "i") == clean)
    assert(readPairs(store) == expectedPairs && readItems(store) == expectedItems)
  }
}
