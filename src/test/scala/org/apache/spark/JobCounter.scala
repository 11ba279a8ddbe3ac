package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code starts. It lives in
  * `org.apache.spark` for the listener bus, which delivers events
  * asynchronously: the bus is drained before the listener is added and
  * again after the block, so the count holds exactly the block's jobs. */
object JobCounter {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val v = body
      sc.listenerBus.waitUntilEmpty()
      (v, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
