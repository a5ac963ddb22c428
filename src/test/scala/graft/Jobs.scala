package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs started while a block runs, each with the job group its
  * start event carried. The listener bus is drained on both sides, so no
  * earlier job leaks in and no job of the block is missed.
  */
object Jobs {
  def during[T](spark: SparkSession)(body: => T): (T, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, groups.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Number of jobs `body` starts. */
  def count(spark: SparkSession)(body: => Unit): Int = during(spark)(body)._2.size
}
