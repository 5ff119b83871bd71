package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * counters read after an operation include all of its tasks. The bus is
  * package-private to Spark; this is the benchmark's one use of it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
