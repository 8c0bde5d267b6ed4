package org.apache.spark

/** The listener bus is private to Spark; suites that count listener
  * events drain it first, so every event of the work before has been
  * delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
