package org.apache.spark

/** Listener-bus drain for the benchmark's call attribution: task-end events
  * arrive asynchronously, so a call's Spark metrics are read only after the
  * bus has delivered every event the call produced. `listenerBus` is
  * package-private to Spark, hence this one-line bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
