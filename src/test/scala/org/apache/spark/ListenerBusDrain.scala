package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listeners have seen all events of an action that already
  * returned. (The bus is private to Spark's package.)
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
