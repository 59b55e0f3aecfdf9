package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener counts are complete. The bus is private to Spark. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
