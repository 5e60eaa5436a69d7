package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete before the benchmark reads them.
  * Lives in Spark's package because the bus is package-private.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
