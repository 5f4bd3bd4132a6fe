package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so the benchmark's listeners have seen all jobs of a finished call. */
object SparkListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
