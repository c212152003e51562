package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Job counting for specs. [[drain]] waits until Spark's listener bus
  * has delivered every event posted so far, so a count read after it
  * includes the events of the work it measured. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs started while `f` runs. */
  def jobsDuring(sc: SparkContext)(f: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(l)
    try { f; drain(sc) }
    finally sc.removeSparkListener(l)
    jobs.get
  }
}
