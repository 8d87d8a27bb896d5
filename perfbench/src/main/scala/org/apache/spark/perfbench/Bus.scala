package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus flush, which Spark keeps package-private. */
object Bus {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
