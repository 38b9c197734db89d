package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach `SparkListener`s and `QueryExecutionListener`s
  * asynchronously. The traced run reads per-layer counters at layer
  * boundaries, so it waits for the bus to deliver everything posted so
  * far; the waiting method is package-private to Spark.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
