package graft

import org.apache.spark.sql.ListenerCounts
import org.apache.spark.sql.functions.{assert_true, col}

/** [[Explain.record]]'s hygiene: a block sees exactly the executions it
  * started, failed ones included, and leaves no listener behind. */
class ExplainSpec extends SparkTestBase {

  test("back-to-back recording blocks each see only their own executions") {
    val (n1, first) = Explain.record(spark)(spark.range(10).collect().length)
    // counted after the first block: Spark attaches some listeners of
    // its own lazily, on the first registration or execution
    val before = ListenerCounts(spark)
    spark.range(30).count() // between the blocks: reaches neither
    val (n2, second) = Explain.record(spark)(spark.range(20).count())
    assert(n1 == 10 && n2 == 20)
    assert(first.map(_.name) == Seq("collect"), first.map(_.name))
    assert(second.map(_.name) == Seq("count"), second.map(_.name))
    assert(first.head.id < second.head.id)
    assert((first ++ second).forall(x => x.failure.isEmpty && x.stages.nonEmpty))
    assert(ListenerCounts(spark) == before, "a recording block left a listener attached")
  }

  test("an execution that throws inside a block is reported as failed, not dropped") {
    Explain.record(spark)(spark.range(1).collect()) // Spark's lazy listeners, as above
    val before = ListenerCounts(spark)
    val (_, executions) = Explain.record(spark) {
      intercept[Exception](spark.range(3).select(assert_true(col("id") < 1)).collect())
    }
    assert(executions.map(_.name) == Seq("collect"), executions.map(_.name))
    assert(executions.head.failure.isDefined)
    assert(ListenerCounts(spark) == before, "a recording block left a listener attached")
  }

  test("adaptive stages are named by their plan nodes, not the future that submitted them") {
    val (_, executions) = Explain.record(spark)(
      SparkEntry.queries("g1_votes_per_type")(spark, sfDir).collect())
    val names = executions.flatMap(_.stages.map(_.name))
    assert(names.nonEmpty)
    assert(names.forall(n => n.nonEmpty && !n.contains("withThreadLocalCaptured")), names)
  }
}
