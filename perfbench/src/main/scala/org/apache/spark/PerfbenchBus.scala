package org.apache.spark

/** Waits until every listener event posted so far has been delivered. The
  * listener bus is package-private to Spark; this is the one benchmark file
  * inside Spark's package, and it only forwards that call. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
