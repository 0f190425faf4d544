package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * trace read right after an action sees all of that action's jobs. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
