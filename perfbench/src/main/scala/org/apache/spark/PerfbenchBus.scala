package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the job listener has seen every task of the measured window.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
