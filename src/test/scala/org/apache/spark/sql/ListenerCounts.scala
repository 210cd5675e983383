package org.apache.spark.sql

/** How many Spark listeners and QueryExecutionListeners a session has
  * attached: the two registries are private to Spark, so leak checks
  * read them from here. */
object ListenerCounts {
  def apply(spark: SparkSession): (Int, Int) =
    (spark.sparkContext.listenerBus.listeners.size, spark.listenerManager.listListeners().length)
}
