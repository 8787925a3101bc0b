package org.apache.spark

/** Listener-bus drain for the benchmark: events reach listeners
  * asynchronously, and `waitUntilEmpty` is package-private to Spark. */
object SyncbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
