package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark's execution counters are complete when it reads them. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
