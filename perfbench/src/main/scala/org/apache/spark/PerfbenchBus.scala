package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listeners have seen all jobs before their figures are read.
  * (`listenerBus` is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
