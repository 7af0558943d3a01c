package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far
  * (the bus is asynchronous, so counts read straight after an action
  * would miss its last jobs and tasks). Lives in Spark's package because
  * `listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
