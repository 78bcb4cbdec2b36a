package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners. The
  * listener bus is asynchronous and its drain is package-private to Spark,
  * hence this object's package. Called off the clock only. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
