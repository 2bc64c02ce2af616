package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all of a pass's jobs, tasks and query
  * executions before it reads their counters. The bus is private to
  * Spark; this object sits in Spark's package to reach it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
