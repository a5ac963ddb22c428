package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.graft.CheckpointDir
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.Pin

/** The pinning policy: a local checkpoint by default, a reliable one
  * under the context's checkpoint dir when one is set — same rows either
  * way. Each test restores the shared context's checkpoint dir.
  */
class PinSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private def frame = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(3)

  private def rows(df: DataFrame) = df.as[(Long, String)].collect().sorted.toSeq

  /** The checkpointed RDD behind a pinned frame. */
  private def pinnedRdd(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      .getOrElse(fail(s"not a checkpointed frame:\n${df.queryExecution.analyzed}"))

  private def withCheckpointDir(dir: Option[String])(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    try {
      CheckpointDir.set(sc, None)
      dir.foreach(sc.setCheckpointDir)
      body
    } finally CheckpointDir.set(sc, saved)
  }

  test("without a checkpoint dir, Pin returns the input's rows from a local checkpoint") {
    withCheckpointDir(None) {
      val pinned = Pin(frame)
      val rdd = pinnedRdd(pinned)
      assert(rdd.isCheckpointed)
      assert(rdd.getCheckpointFile.isEmpty, "a local checkpoint writes no files")
      assert(rows(pinned) == rows(frame))
    }
  }

  test("with a checkpoint dir, Pin writes checkpoint files under it and returns identical rows") {
    val dir = Files.createTempDirectory("graft_pin")
    withCheckpointDir(Some(dir.toString)) {
      val pinned = Pin(frame)
      val file = pinnedRdd(pinned).getCheckpointFile
        .getOrElse(fail("a reliable checkpoint records its file"))
      val path = Paths.get(new java.net.URI(file))
      assert(path.startsWith(dir), s"$path is not under $dir")
      assert(Files.list(path).anyMatch(_.getFileName.toString.startsWith("part-")),
        s"no checkpoint part files in $path")
      assert(rows(pinned) == rows(frame))
    }
  }
}
