package org.apache.spark

/** Blocks until Spark's listener bus has delivered every posted event, so
  * a test's listener totals are complete before they are read.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
