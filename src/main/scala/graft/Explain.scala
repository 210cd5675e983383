package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.operators.{CorpusOps, DedupOps, GraphOps, RelationalOps}
import graft.queries.{CoreQueries, CorpusQueries, DedupQueries}

/** Plan-inspection tool: print the formatted physical plan of one (or
  * every) SparkEntry query, time its execution (rows discarded), then
  * print the final adaptive plan it ran, with codegen ids.
  *
  *   sbt 'runMain graft.Explain <queryName|all> [sfDir]'
  *
  * Iterating on `.explain("formatted")` output until the plan is the
  * one you'd want at 100 TB (pushed filters, broadcast where intended,
  * reused exchanges, no stray single-partition windows) is part of the
  * build loop, not an afterthought.
  */
object Explain {

  /** Queries whose operators materialize eagerly (localCheckpoint
    * inside the call, cache-lifecycle contract): their declared
    * spelling explains as a bare `Scan ExistingRDD`, so plan
    * inspection goes through the operators' Lazy internals instead —
    * the exact plan the checkpointed run executed. Each variant reads
    * its query's input through the same battery helper the query
    * uses, so the two cannot drift apart.
    */
  private[graft] val lazyVariants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gr_pagerank" -> ((s, dir) =>
      GraphOps.pageRankLazy(DedupQueries.pageRankEdges(s, dir), "src", "dst", 3, 85)._1),
    "g20_basket_rules" -> ((s, dir) =>
      RelationalOps.basketRulesLazy(CoreQueries.basketMemberships(s, dir),
        "oid", "item", 5L)._1),
    "gr_triangles" -> ((s, dir) =>
      GraphOps.triangleCountsLazy(CoreQueries.triangleEdges(s, dir), "x", "y")),
    "dd_ngram_capped" -> ((s, dir) =>
      DedupOps.ngramJaccardPairsCappedLazy(DedupQueries.ngramCappedDocs(s, dir),
        "doc_id", "text", 0.5, 25, 3)._1),
    "txt_rake" -> ((s, dir) =>
      CorpusOps.rakeKeywordsLazy(CorpusQueries.rakeDocs(s, dir), "doc_id", "text", 3,
        Seq("the", "a", "and", "of", "to", "in", "is", "it"))._1)
  )

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("all")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val lazyMode = sys.env.get("SPARK_GRAFT_EXPLAIN_LAZY").contains("1")
    val spark = Sessions.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base =
      if (name == "all") SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter(_._1 == name).toSeq
    val selected =
      if (lazyMode) base.map { case (n, fn) => (n, lazyVariants.getOrElse(n, fn)) }
      else base
    require(selected.nonEmpty, s"unknown query '$name'")
    selected.foreach { case (n, fn) =>
      val df = fn(spark, sfDir)
      println(s"========== $n ==========")
      df.explain("formatted")
      // run df's OWN plan, rows discarded as a noop sink would: a
      // write runs a separate copy of the plan, which would leave the
      // plan printed below at AQE's un-run initial form
      val qe = df.queryExecution
      val t0 = System.nanoTime()
      SQLExecution.withNewExecutionId(qe, Some(n))(qe.toRdd.foreach(_ => ()))
      println(f"[$n] executed in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      println(qe.executedPlan)
    }
    spark.stop()
  }
}
