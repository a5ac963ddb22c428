package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark's listener bus is package-private; this bridge lets tooling and
  * specs block until every posted event has been delivered, so listener
  * counters are read after the events that feed them rather than after a
  * guess of how long delivery takes.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
