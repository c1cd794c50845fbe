package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners, so
  * the benchmark's listener totals are complete when they are read.
  * `listenerBus` is Spark-private, hence this one object in Spark's
  * namespace.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
