package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event
  * (the bus is private to Spark), so the traced run's reduction sees
  * the last job's task metrics.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
