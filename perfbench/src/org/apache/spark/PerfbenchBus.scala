package org.apache.spark

/** Blocks until Spark's listener bus has delivered every event posted so
  * far, so the benchmark's listeners have seen a finished job or query
  * before it reads them. The bus is private to Spark, which is the only
  * reason this accessor sits in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
