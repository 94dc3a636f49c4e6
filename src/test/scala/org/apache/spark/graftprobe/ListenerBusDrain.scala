package org.apache.spark.graftprobe

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener:
  * listener delivery is asynchronous, and the bus is Spark-internal. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
