package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so per-layer counts read afterwards are complete. The bus is visible
  * only inside Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
