package org.apache.spark.linkbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; per-span counters are read only
  * after every event posted so far has reached the listener. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
