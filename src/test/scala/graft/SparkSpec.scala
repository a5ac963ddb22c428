package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one per test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Element rows (vec_id, i, x) → (vec_id, xs) with xs in index order:
    * the dense array form the vector operators take.
    */
  def vecArrays(el: DataFrame): DataFrame =
    el.groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("i"), col("x")))).as("p"))
      .select(col("vec_id"), col("p.x").as("xs"))
}

object SparkSpec {
  val cpus = 4

  lazy val session: SparkSession = {
    val s = Session.builder(cpus)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
