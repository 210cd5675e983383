package org.apache.spark

/** Spark keeps its listener bus `private[spark]`; graft's execution
  * recorder ([[graft.Explain.record]]) reaches it only through here. */
object GraftListenerBus {
  /** Block until every event posted so far has reached every listener.
    * Spark bounds the wait at 10 s and then throws a TimeoutException. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
