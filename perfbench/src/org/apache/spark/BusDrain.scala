package org.apache.spark

/** The listener bus is package-private to Spark; this one-line bridge lets
  * the benchmark block until every posted event has been delivered, so
  * counters are read after the events that feed them, not after a guess
  * of how long delivery takes.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
