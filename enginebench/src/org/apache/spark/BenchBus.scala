package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits for it to
  * drain before it reads its own listener's records.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
