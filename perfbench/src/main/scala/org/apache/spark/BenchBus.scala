package org.apache.spark

/** The listener bus is `private[spark]`; this one-line shim lets the
  * benchmark drain it before reading or resetting its counters, so every
  * count is attributed to the phase that produced it (no sleeps). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
