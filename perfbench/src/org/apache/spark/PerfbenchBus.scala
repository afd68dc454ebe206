package org.apache.spark

/** Lets the benchmark's traced run wait for Spark's listener bus to
  * deliver every posted event before it reads the listeners' totals.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
