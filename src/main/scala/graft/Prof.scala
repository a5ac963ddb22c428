package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-stage/per-job profiler for one registered query: runs the query
  * once warm, then once instrumented, printing each job's wall time and
  * each stage's task-time/row counts — the measurement tool behind the
  * round-19 optimization notes (guide §1: find where the time actually
  * goes before touching the plan). Local tooling, not driver contract.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.minPartitionNum", cpus)
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "524288"))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "131072"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = SparkEntry.queries
    args.filterNot(_.startsWith("--")).foreach { name =>
      val fn = qs(name)
      // two warm passes first (codegen + JIT)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          jobStarts.put(js.jobId, System.nanoTime())
        // a job whose start event was not seen has no duration to print
        override def onJobEnd(je: SparkListenerJobEnd): Unit =
          Option(jobStarts.remove(je.jobId)).foreach { t0 =>
            lines.add(f"[prof] job ${je.jobId}%3d  ${(System.nanoTime() - t0) / 1e9}%7.3f s")
          }
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val tm = si.taskMetrics
          lines.add(f"[prof]   stage ${si.stageId}%3d ${si.numTasks}%4d tasks " +
            f"run=${tm.executorRunTime / 1e3}%7.2fs cpu=${tm.executorCpuTime / 1e9}%7.2fs " +
            f"in=${tm.inputMetrics.recordsRead}%9d sh_r=${tm.shuffleReadMetrics.recordsRead}%9d " +
            f"sh_w=${tm.shuffleWriteMetrics.recordsWritten}%9d  ${si.name.take(60)}")
        }
      }
      // the warm passes' events must not reach the listener
      ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // deliver every event of the run before detaching and printing
      ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      println(s"[prof] ===== $name wall=${f"$wall%.3f"} s =====")
      lines.forEach(l => println(l))
    }
    spark.stop()
  }
}
