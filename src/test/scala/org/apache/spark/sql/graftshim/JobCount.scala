package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Runs `body` and returns its result with the number of Spark jobs it
  * started. The listener bus (`private[spark]`) is drained before and
  * after, so jobs of earlier work are not counted and none of `body`'s
  * are missed. */
object JobCount {
  def of[T](sc: SparkContext)(body: => T): (T, Int) = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
