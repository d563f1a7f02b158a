package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * listener totals read after a request are complete. Lives in this
  * package because the bus is private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
