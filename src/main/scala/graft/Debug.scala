package graft

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Local iteration harness: times named registered queries on
  * SPARK_GRAFT_SF_DIR through a noop write, like [[Bench]]. Not part of
  * the driver contract.
  *
  * `graft.Debug [--repeat=N] [--show] [--explain] [--prof] query ...`
  *   - `--repeat=N`: N timed reps per query; prints every rep and the min
  *     (steady state on a noisy host — the first rep pays codegen/JIT).
  *   - `--show`: print the first 20 rows instead of the noop write.
  *   - `--explain`: print the formatted physical plan on the first rep.
  *   - `--prof`: on the last rep only, print each job's wall time and each
  *     stage's task time and row counts (find where the time goes before
  *     touching a plan).
  * Exits 1 when any named query fails or is not registered.
  */
object Debug {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val show = args.contains("--show")
    val explain = args.contains("--explain")
    val prof = args.contains("--prof")
    val repeat = args.find(_.startsWith("--repeat="))
      .map(_.stripPrefix("--repeat="))
      .map(v => v.toIntOption.filter(_ >= 1).getOrElse(
        sys.error(s"--repeat needs a positive integer, got '$v'")))
      .getOrElse(1)
    var failed = 0
    args.filterNot(_.startsWith("--")).foreach { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          println(s"[debug] $name NOT REGISTERED")
          failed += 1
        case Some(fn) =>
          try {
            // construction included in the timing — some queries
            // (iterative clustering) do eager work before the final
            // action, and Bench times them the same way
            val reps = (1 to repeat).map { rep =>
              def once(): Double = {
                val t0 = System.nanoTime()
                val df = fn(spark, sfDir)
                if (explain && rep == 1) df.explain("formatted")
                if (show) df.show(20, false)
                else df.write.format("noop").mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9
              }
              if (prof && rep == repeat) profiled(spark.sparkContext, name)(once())
              else once()
            }
            println(f"[debug] $name%-32s ${reps.min}%8.2f s" +
              (if (repeat > 1) reps.map(t => f"$t%.2f").mkString("  reps=", ",", "") else ""))
          } catch {
            case e: Throwable =>
              println(s"[debug] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
              failed += 1
          }
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Runs `run` with a listener that records each job's wall time and
    * each stage's metrics, then prints them. The bus is drained before
    * attaching, so earlier reps' events never reach the listener, and
    * before printing, so every event of the run is delivered. A job whose
    * start event was not seen has no duration and prints nothing.
    */
  private def profiled(sc: SparkContext, name: String)(run: => Double): Double = {
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStarts.put(js.jobId, System.nanoTime())
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(je.jobId)).foreach { t0 =>
          lines.add(f"[prof] job ${je.jobId}%3d  ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        }
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val tm = si.taskMetrics
        lines.add(f"[prof]   stage ${si.stageId}%3d ${si.numTasks}%4d tasks " +
          f"run=${tm.executorRunTime / 1e3}%7.2fs cpu=${tm.executorCpuTime / 1e9}%7.2fs " +
          f"in=${tm.inputMetrics.recordsRead}%9d sh_r=${tm.shuffleReadMetrics.recordsRead}%9d " +
          f"sh_w=${tm.shuffleWriteMetrics.recordsWritten}%9d  ${si.name.take(60)}")
      }
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val secs = run
      ListenerBus.drain(sc)
      println(f"[prof] ===== $name wall=$secs%.3f s =====")
      lines.forEach(l => println(l))
      secs
    } finally sc.removeSparkListener(listener)
  }
}
