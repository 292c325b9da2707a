package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * recorder is complete before it is read. Lives in Spark's package because
  * the bus is package-private; called only between operations, never inside
  * a timed region. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
