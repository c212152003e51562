package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so a spec that counts jobs with its own listener reads the count
  * after the events of the work it measured have arrived. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
