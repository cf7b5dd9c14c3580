package org.apache.spark

/** The listener bus is private to Spark; its drain is what lets the
  * benchmark read listener totals right after a job returns. */
object PerfBenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
