package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the one Spark-internal call the tracer needs. */
object Hooks {
  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
