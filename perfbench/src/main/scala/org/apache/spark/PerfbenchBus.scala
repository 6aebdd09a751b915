package org.apache.spark

/** Drains the listener bus so a traced run reads complete job and task
  * events; the bus is only reachable from Spark's own package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
