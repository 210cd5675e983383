package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Spark keeps its listener bus and its RDD operation scopes
  * `private[spark]`; graft's execution recorder ([[graft.Explain.record]])
  * reaches them only through here. */
object GraftListenerBus {
  /** Block until every event posted so far has reached every listener.
    * Spark bounds the wait at 10 s and then throws a TimeoutException. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The operation scopes of a stage's RDDs, in RDD order and without
    * repeats: the names of the plan nodes that built them, such as
    * `WholeStageCodegen (2)` or `Exchange`. */
  def scopeNames(stage: StageInfo): Seq[String] =
    stage.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
