package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the benchmark needs to wait
  * for it so that a run's counters include every event of the run. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
