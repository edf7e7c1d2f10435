package org.apache.spark

/** Waits for Spark's listener bus to deliver every posted event, so the
  * benchmark's listener totals are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
