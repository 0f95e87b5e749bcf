package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so the traced run can attribute query-execution callbacks (which carry
  * no job properties) to the op that was running. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
