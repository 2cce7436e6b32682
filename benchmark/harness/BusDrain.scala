package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener,
  * so meters read after a timed window see all of its jobs. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
