package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext

/** The one Spark internal the benchmark needs, which is `private[spark]`. */
object Internal {
  /** Block until the listener bus has delivered every posted event. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000)
}
