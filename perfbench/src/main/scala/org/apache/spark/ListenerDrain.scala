package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far
  * (the bus is Spark-internal, hence this package).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
