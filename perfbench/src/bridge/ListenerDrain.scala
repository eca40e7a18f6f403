package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The benchmark's only use of Spark-internal API: listener events are
  * delivered asynchronously, so the traced run waits for the bus to
  * drain before it reads its counters. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
