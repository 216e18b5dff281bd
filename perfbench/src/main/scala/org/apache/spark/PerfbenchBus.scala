package org.apache.spark

/** Drains the listener bus so per-span Spark counters are complete before
  * the trace is read. `waitUntilEmpty` is package-private in source only.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
