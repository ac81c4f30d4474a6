package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * listener counters read after a call include all of that call's jobs.
  * The bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
