package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs one call
  * on it, to wait until its listener has seen every event.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
