package org.apache.spark

/** Listener-bus drain for specs that count Spark work: task-end events
  * arrive asynchronously, so a spec reads its listener only after the bus
  * has delivered every event. `listenerBus` is package-private to Spark,
  * hence this one-line bridge.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
