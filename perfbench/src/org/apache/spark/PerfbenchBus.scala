package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * reads its listener's totals only after every posted event has been
  * delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
