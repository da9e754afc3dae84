package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener has seen all of a run's jobs before it reads them.
  * Lives in this package because the bus is Spark-private. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
