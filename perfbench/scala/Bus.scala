package org.apache.spark

/** Access to Spark's listener bus, which is private to its package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
