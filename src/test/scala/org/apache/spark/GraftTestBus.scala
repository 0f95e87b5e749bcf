package org.apache.spark

/** Test access to the listener bus: a listener's view is complete
  * only once the bus has delivered every queued event. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
