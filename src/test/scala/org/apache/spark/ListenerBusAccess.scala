package org.apache.spark

/** Test access to the session's listener bus, which is `private[spark]`:
  * a listener's tallies are complete only once the bus has drained. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
