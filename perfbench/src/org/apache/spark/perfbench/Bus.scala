package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is Spark-internal; this is its one caller. */
object Bus {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
