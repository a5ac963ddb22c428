package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Geometry of the distributed power iteration behind `embed_pca_power`:
  * the oracle certifies the ITERATION bit-for-bit; this spec certifies
  * that it finds the dominant direction when one exists (planted-spike
  * data — big eigen-gap, a few rounds suffice) and that the registered
  * 2-round readout is structurally sound on the near-isotropic harness
  * corpus (where convergence is gap-limited by design).
  */
class PcaSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  test("planted dominant direction is recovered within 3 rounds") {
    val d = 16
    // 60 vectors ≈ spike e3·10 + deterministic small noise: λ1 ≫ λ2
    val rows = for (n <- 0 until 60; i <- 0 until d) yield {
      val spike = if (i == 3) 10.0 else 0.0
      val noise = 0.2 * math.sin(n * 31 + i * 7)
      (n.toLong, i, spike + noise)
    }
    val el = rows.toDF("vec_id", "i", "x")
    val out = Similarity.powerIterationOf(vecArrays(el), 3)
      .orderBy(col("i")).collect().map(_.getDouble(1))
    val nrm = math.sqrt(out.map(a => a * a).sum)
    assert(math.abs(math.abs(out(3)) / nrm - 1.0) < 0.01,
      s"spike coordinate not dominant: ${out.toSeq}")
  }

  test("registered 2-round readout: peak coordinate pinned to ±1, growth positive") {
    val out = SparkEntry.queries("embed_pca_power")(s, "/root/testdata/sf0.001")
      .orderBy(col("dim_i")).collect()
    assert(out.length == 64)
    val v = out.map(_.getDouble(1))
    assert(math.abs(v.map(math.abs).max - 1.0) < 1e-9)
    assert(out.head.getDouble(2) > 0.0)
  }

  test("round count must be positive") {
    intercept[IllegalArgumentException] {
      Similarity.powerIterationOf(
        vecArrays(Seq((1L, 0, 1.0)).toDF("vec_id", "i", "x")), 0)
    }
  }
}
