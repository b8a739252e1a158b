package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced call's jobs, tasks and plans are all counted before the next call
  * starts. The bus is internal to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
