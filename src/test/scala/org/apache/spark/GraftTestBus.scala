package org.apache.spark

/** Access to Spark's listener bus, which is private to its package:
  * tests that count jobs drain it before reading their listener. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
