package org.apache.spark

/** Test hook: block until the listener bus has delivered every event
  * posted so far, so a test listener has seen every job an action ran.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
