package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * waits for queued listener events before it reads per-op job numbers.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
