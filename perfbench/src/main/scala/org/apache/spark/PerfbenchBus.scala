package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * the benchmark's listener totals are complete before they are read.
  * The bus is private to Spark, hence this one-line bridge in Spark's
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
