package org.apache.spark

/** Spark delivers listener events on a background thread; the benchmark
  * drains the bus at the end of each op so every event of the op is
  * counted before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
