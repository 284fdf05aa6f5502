package org.apache.spark

/** Test access to the listener bus: block until every posted event has
  * reached the listeners, so a spec can count the jobs an action ran. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
