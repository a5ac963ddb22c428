package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark accounting of one timed call. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var writeBytes = 0L
  var planNs = 0L
  var fallbacks = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    writeBytes += o.writeBytes; planNs += o.planNs; fallbacks += o.fallbacks
  }
}

/** One traced interval: a workload, a round, a query or stage, or a job. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Double, endMs: Double)

/** Per-call Spark accounting, attributed by the job group the benchmark
  * sets around each call.
  *
  * Jobs and tasks are keyed on the `spark.jobGroup.id` property their
  * start events carry, so work from another group can never be counted
  * against a call. Listener events arrive asynchronously; [[collect]]
  * drains the listener bus before reading, so every event of the call has
  * been delivered. A job whose start event was not seen is never counted
  * and never emitted as a span. Query-execution events carry no job group;
  * they are charged to the call in flight, which is exact because the
  * benchmark has one client and drains the bus at the end of every call.
  */
final class Meter(spark: SparkSession, traced: Boolean)
    extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobParent = new ConcurrentHashMap[Int, Integer]()
  private val groupSpan = new ConcurrentHashMap[String, Integer]()
  private val queryCounts = new Counts
  private val spanBuf = ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private var nextGroup = 0

  if (traced) {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def counts(group: String): Counts =
    byGroup.computeIfAbsent(group, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.filter(groupSpan.containsKey).foreach { g =>
      jobGroup.put(e.jobId, g)
      jobStartMs.put(e.jobId, e.time)
      jobParent.put(e.jobId, groupSpan.get(g))
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.remove(e.jobId)
    val start = jobStartMs.remove(e.jobId)
    val parent = jobParent.remove(e.jobId)
    if (g != null && start != null && parent != null) {
      synchronized { counts(g).jobs += 1 }
      record(newId(), parent.intValue, "job", s"job ${e.jobId}", start.doubleValue, e.time.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) synchronized {
      val c = counts(g)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.writeBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases
      queryCounts.planNs += Seq(QueryPlanningTracker.ANALYSIS,
        QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
        .flatMap(phases.get).map(_.durationMs * 1000000L).sum
      if (traced) queryCounts.fallbacks += Meter.fallbacks(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** A fresh span id, for a span recorded once its end is known. */
  def newId(): Int = synchronized { nextSpan += 1; nextSpan }

  /** Keep span `id` (traced runs only; spans stay in memory until the end). */
  def record(id: Int, parent: Int, kind: String, name: String,
      startMs: Double, endMs: Double): Unit =
    if (traced) synchronized { spanBuf += Span(id, parent, kind, name, startMs, endMs) }

  /** Open a job group for one call under span `parent`; returns the group
    * id. Traced runs drain the bus first, so query-execution events of
    * untimed work before the call are not charged to it.
    */
  def open(parent: Int): String = {
    if (traced) {
      BusDrain(sc)
      synchronized { queryCounts.planNs = 0L; queryCounts.fallbacks = 0L }
    }
    val g = s"perfbench-${synchronized { nextGroup += 1; nextGroup }}"
    groupSpan.put(g, parent)
    sc.setJobGroup(g, g, interruptOnCancel = false)
    g
  }

  /** Close the call's job group and return its accounting; traced runs
    * drain the listener bus first. Untraced runs register no listener and
    * return empty counts.
    */
  def collect(group: String): Counts = {
    sc.clearJobGroup()
    if (traced) BusDrain(sc)
    groupSpan.remove(group)
    synchronized {
      val c = Option(byGroup.remove(group)).getOrElse(new Counts)
      c.planNs += queryCounts.planNs
      c.fallbacks += queryCounts.fallbacks
      queryCounts.planNs = 0L
      queryCounts.fallbacks = 0L
      c
    }
  }

  def spans: Seq[Span] = synchronized(spanBuf.toList)

  /** Storage memory in use (cached and locally checkpointed blocks), MB. */
  def pinnedMb: Double =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1e6
}

object Meter {
  /** CodegenFallback expressions in the final adaptive plan, counting each
    * materialized query stage and subquery once.
    */
  def fallbacks(plan: SparkPlan): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _: ReusedExchangeExec => Nil
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(plan).map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum.toLong).sum
  }
}
