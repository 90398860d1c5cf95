package org.apache.spark

/** Drains the listener bus so a traced pass's job, stage and task events
  * are all delivered before the pass's records are written.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
