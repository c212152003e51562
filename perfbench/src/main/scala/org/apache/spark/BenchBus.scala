package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so that job, stage and task events of finished ops have reached
  * the benchmark's listeners before their counts are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
