package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits for it to
  * deliver every queued event before it reads what its listeners saw. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
