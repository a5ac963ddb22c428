package graft

import org.apache.spark.sql.functions._

import graft.operators.Coreset

/** Greedy k-center geometry: farthest-point traversal covers every
  * well-separated cluster before revisiting one, radii never increase,
  * the seed is the lowest id, and k past the corpus stops early.
  */
class CoresetSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  /** 4 clusters at corners of a square (side 10), 5 members each with
    * ≤0.3 jitter — inter-cluster distance ≫ intra.
    */
  private def el = {
    val rows = for {
      c <- 0 until 4
      m <- 0 until 5
      (x, i) <- Seq(
        (c % 2 * 10.0 + 0.1 * m, 0),
        (c / 2 * 10.0 + 0.07 * ((m + c) % 5), 1))
    } yield (c * 10L + m, i, x)
    rows.toDF("vec_id", "i", "x")
  }

  test("4 picks land in 4 distinct clusters; radii are non-increasing") {
    val out = Coreset.kCentersOf(vecArrays(el), 4).orderBy(col("rnk")).collect()
    assert(out.length == 4)
    assert(out.head.getLong(1) == 0L, "seed must be the lowest id")
    assert(out.head.isNullAt(2), "seed has no coverage radius")
    val clusters = out.map(_.getLong(1) / 10L).toSet
    assert(clusters == Set(0L, 1L, 2L, 3L),
      s"picks must cover all clusters: ${out.map(_.getLong(1)).toSeq}")
    val radii = out.tail.map(_.getDouble(2))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"radii must be non-increasing: ${radii.toSeq}")
  }

  test("k beyond the corpus stops at corpus size; empty input yields no rows") {
    val tiny = Seq((7L, 0, 1.0), (9L, 0, 5.0)).toDF("vec_id", "i", "x")
    val out = Coreset.kCentersOf(vecArrays(tiny), 5).orderBy(col("rnk")).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(7L, 9L))
    assert(Coreset.kCentersOf(vecArrays(tiny.limit(0)), 3).count() == 0L)
    intercept[IllegalArgumentException] { Coreset.kCentersOf(vecArrays(tiny), 0) }
  }
}
