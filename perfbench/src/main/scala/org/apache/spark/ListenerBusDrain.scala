package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read right after an action include all of its tasks. The bus's
  * own drain call is package-private, hence this one-line bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
