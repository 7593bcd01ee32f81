package org.apache.spark

/** Listener-bus drain for the benchmark's own listener: Spark delivers
  * listener events asynchronously, so counters are read only after every
  * queued event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
