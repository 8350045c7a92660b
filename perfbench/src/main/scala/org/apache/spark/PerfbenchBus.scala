package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read after a run are complete. The bus is internal to Spark,
  * hence this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
