package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counts read afterwards are complete. The bus is private to Spark. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
