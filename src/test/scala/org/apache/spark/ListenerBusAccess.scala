package org.apache.spark

/** Test access to the `private[spark]` listener bus: `drain` delivers
  * every posted event before returning, so a listener's counts are
  * complete when a spec reads them. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
