package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so span attribution sees all tasks of the run. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
