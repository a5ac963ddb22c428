package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Sampling}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asOfBackward picks the latest right row at-or-before each left row") {
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), "c1"),
      (1L, ts("2024-01-01 11:00:00"), "c2"),
      (2L, ts("2024-01-01 12:00:00"), "c3"))
      .toDF("user_id", "ts", "tag")
    val left = Seq(
      (1L, ts("2024-01-01 10:30:00"), 100L), // between c1 and c2 -> c1
      (1L, ts("2024-01-01 11:00:00"), 101L), // exactly at c2 -> inclusive
      (1L, ts("2024-01-01 09:00:00"), 102L), // before any click -> null
      (2L, ts("2024-01-01 13:00:00"), 103L), // after c3 -> c3
      (3L, ts("2024-01-01 13:00:00"), 104L)) // key with no right rows
      .toDF("user_id", "ts", "event_id")

    val got = AsOfJoin.asOfBackward(left, right, "user_id", "ts", "ts")
      .select(col("event_id"), col("asof.tag"))
      .as[(Long, Option[String])].collect().toMap

    assert(got == Map(
      100L -> Some("c1"), 101L -> Some("c2"), 102L -> None,
      103L -> Some("c3"), 104L -> None))
  }

  test("asOfBackward breaks equal-timestamp right-row ties deterministically") {
    val t = ts("2024-01-01 10:00:00")
    val right = Seq((1L, t, "a"), (1L, t, "b")).toDF("user_id", "ts", "tag")
    val left = Seq((1L, ts("2024-01-01 10:30:00"), 7L))
      .toDF("user_id", "ts", "event_id")
    // same ts: the struct-ordered last one wins -> "b"
    val picked = AsOfJoin.asOfBackward(left, right, "user_id", "ts", "ts")
      .select(col("asof.tag")).as[String].head()
    assert(picked == "b")
  }

  test("asOfForward picks the earliest right row at-or-after; lowest tiebreak wins") {
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 11:00:00"), "p2"),
      (2L, ts("2024-01-01 12:00:00"), "p3"))
      .toDF("user_id", "ts", "tag")
    val left = Seq(
      (1L, ts("2024-01-01 10:30:00"), 100L), // between p1 and p2 -> p2
      (1L, ts("2024-01-01 10:00:00"), 101L), // exactly at p1 -> inclusive
      (1L, ts("2024-01-01 11:30:00"), 102L), // after the last -> null
      (2L, ts("2024-01-01 11:00:00"), 103L), // before p3 -> p3
      (3L, ts("2024-01-01 11:00:00"), 104L)) // key with no right rows
      .toDF("user_id", "ts", "event_id")
    val got = AsOfJoin.asOfForward(left, right, "user_id", "ts", "ts")
      .select(col("event_id"), col("asof.tag"))
      .as[(Long, Option[String])].collect().toMap
    assert(got == Map(
      100L -> Some("p2"), 101L -> Some("p1"), 102L -> None,
      103L -> Some("p3"), 104L -> None))

    // simultaneous right rows: the LOWEST tiebreak is "the next one"
    val t = ts("2024-01-01 10:00:00")
    val ties = Seq((1L, t, "a", 2L), (1L, t, "b", 1L))
      .toDF("user_id", "ts", "tag", "rid")
    val picked = AsOfJoin.asOfForward(
        Seq((1L, ts("2024-01-01 09:00:00"), 7L)).toDF("user_id", "ts", "event_id"),
        ties, "user_id", "ts", "ts", tiebreak = Some("rid"))
      .select(col("asof.tag")).as[String].head()
    assert(picked == "b")
  }

  test("asOfForward matches a brute-force reference on random data") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val rowGen = Gen.zip(Gen.chooseNum(1L, 6L), Gen.chooseNum(0L, 50L))
    def sample(n: Int, seed: Long): Seq[(Long, Long)] =
      (1 to n).map(i => rowGen.pureApply(Gen.Parameters.default, Seed(seed * 1000 + i)))
    (1L to 5L).foreach { seed =>
      val ls = sample(40, seed).zipWithIndex
        .map { case ((k, t), i) => (k, ts(f"2024-01-01 00:00:$t%02d.0"), i.toLong) }
      val rs = sample(30, seed + 100).distinct
        .map { case (k, t) => (k, ts(f"2024-01-01 00:00:$t%02d.0"), s"r$k-$t") }
      val left = ls.toDF("k", "ts", "lid")
      val right = rs.toDF("k", "ts", "tag")
      val got = AsOfJoin.asOfForward(left, right, "k", "ts", "ts")
        .select(col("lid"), col("asof.tag")).as[(Long, Option[String])]
        .collect().toMap
      val want = ls.map { case (k, t, lid) =>
        val cands = rs.filter(r => r._1 == k && !r._2.before(t))
        lid -> cands.sortBy(r => (r._2.getTime, r._3)).headOption.map(_._3)
      }.toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("asOfBackward matches a brute-force reference on random data") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val rowGen = Gen.zip(Gen.chooseNum(1L, 6L), Gen.chooseNum(0L, 50L))
    def sample(n: Int, seed: Long): Seq[(Long, Long)] =
      (1 to n).map(i => rowGen.pureApply(Gen.Parameters.default, Seed(seed * 1000 + i)))

    (1L to 5L).foreach { seed =>
      val ls = sample(40, seed).zipWithIndex
        .map { case ((k, t), i) => (k, ts(f"2024-01-01 00:00:$t%02d.0"), i.toLong) }
      val rs = sample(30, seed + 100)
        .map { case (k, t) => (k, ts(f"2024-01-01 00:00:$t%02d.0"), s"r$k-$t") }
      val left = ls.toDF("k", "ts", "lid")
      val right = rs.toDF("k", "ts", "tag")

      val got = AsOfJoin.asOfBackward(left, right, "k", "ts", "ts")
        .select(col("lid"), col("asof.ts"))
        .as[(Long, Option[Timestamp])].collect().toMap

      ls.foreach { case (k, t, lid) =>
        val want = rs.filter(r => r._1 == k && !r._2.after(t)).map(_._2)
          .sortBy(_.getTime).lastOption
        assert(got(lid) == want, s"seed=$seed lid=$lid key=$k ts=$t")
      }
    }
  }

  test("hashSplit is deterministic and roughly 80/10/10") {
    val n = 2000
    val df = spark.range(n).select(Sampling.hashSplit(col("id")).as("split"))
    val counts = df.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == n)
    assert(counts("train") > n * 7 / 10 && counts("train") < n * 9 / 10)
    assert(counts("val") > 0 && counts("test") > 0)
    // stable across evaluations
    val again = spark.range(n).select(Sampling.hashSplit(col("id")).as("split"))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(again == counts)
  }

  test("quotaPerGroup keeps the first n rows per group by the given order") {
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 5), ("b", 4))
      .toDF("g", "v")
    val kept = Sampling.quotaPerGroup(df, Seq(col("g")), Seq(col("v")), 2)
      .as[(String, Int)].collect().toSet
    assert(kept == Set(("a", 1), ("a", 2), ("b", 4), ("b", 5)))
  }
}
