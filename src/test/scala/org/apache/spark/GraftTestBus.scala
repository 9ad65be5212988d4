package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Access to Spark's listener bus, which is private to its package:
  * tests that count jobs drain it before reading their listener. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the Spark jobs started while it runs. */
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    drain(sc)
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
