package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it after
  * each lane execution so that every job, task and query event of that
  * execution has been delivered before its spans are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
