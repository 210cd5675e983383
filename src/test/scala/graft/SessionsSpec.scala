package graft

import scala.jdk.CollectionConverters._

import graft.streaming.{VoteGenerator, VotePipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The shuffle partition split [[Sessions.configure]] sets up: a
  * streaming query's exchanges and state stores get one partition,
  * while a batch plan starts from `cpus` partitions (4 on the test
  * session) that AQE coalesces.
  */
class SessionsSpec extends SparkTestBase {
  import spark.implicits._

  /** Partition counts of the hash exchanges in the plan as first
    * planned (an adaptive plan's initial plan). */
  private def hashPartitionCounts(df: DataFrame): Seq[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collect { case s: ShuffleExchangeExec => s.outputPartitioning }
      .collect { case h: HashPartitioning => h.numPartitions }
  }

  Seq[(String, DataFrame => DataFrame, String)](
    ("votesPerCandidate", VotePipeline.votesPerCandidate, "update"),
    ("turnoutByLocation", VotePipeline.turnoutByLocation, "update"),
    ("hourlyVotesPerType", VotePipeline.hourlyVotesPerType, "append")
  ).foreach { case (name, agg, mode) =>
    test(s"$name over a stream runs one state-store instance") {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[String]
      ms.addData(VoteGenerator.votes(50))
      val q = agg(VotePipeline.parse(ms.toDF()))
        .writeStream.format("memory").queryName(s"sessions_$name").outputMode(mode).start()
      try q.processAllAvailable() finally q.stop()
      assert(stateStoreInstances(q) == Seq(1L))
    }
  }

  test("a batch groupBy over orders starts from cpus shuffle partitions") {
    val df = Tables.orders(spark, sfDir).groupBy("o_orderstatus").count()
    assert(hashPartitionCounts(df) == Seq(4))
  }

  test("a foreachBatch body's groupBy starts from cpus shuffle partitions") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    ms.addData(VoteGenerator.votes(50))
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    val q = VotePipeline.parse(ms.toDF()).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        counts.add(hashPartitionCounts(batch.groupBy("candidate_id").count()))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(!counts.isEmpty && counts.asScala.forall(_ == Seq(4)))
  }
}
