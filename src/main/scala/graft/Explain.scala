package graft

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan and cost inspection: run one or more SparkEntry queries and
  * print every SQL execution each one started — the executions its
  * build starts (an eager operator's `localCheckpoint`, a driver-side
  * `collect`) and the run of the query itself — each with its final
  * adaptive plan (codegen ids) and a stage table: wall time, task
  * time, input, shuffle read/write and spill per stage.
  *
  *   sbt 'runMain graft.Explain <q1[,q2,…]|all> [sfDir]'
  *
  * Naming a query twice runs it twice, so JIT/code-cache warmup can be
  * told apart from steady-state cost (read the last run). Diagnostic
  * only: Bench and Verify never call it.
  *
  * Iterating on these plans until they are the ones you'd want at
  * 100 TB (pushed filters, broadcast where intended, reused exchanges,
  * cache reads where a subtree is persisted, no stray single-partition
  * windows) is part of the build loop, not an afterthought.
  */
object Explain {

  /** One completed stage, as Spark reported it. */
  final case class StageRun(jobId: Int, stageId: Int, name: String, wallMs: Long,
                            taskMs: Long, tasks: Int, inBytes: Long, inRows: Long,
                            shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** One SQL execution: `name` is the action that started it
    * (`collect`, `localCheckpoint`, …), `qe` holds its final plan, and
    * `stages` are the stages of every job run under its execution id. */
  final case class Execution(id: Long, name: String, qe: QueryExecution,
                             failure: Option[Exception], wallMs: Long,
                             stages: Seq[StageRun]) {
    def plan: String = qe.executedPlan.toString
  }

  /** A stage's name: its call site, or, for a stage that adaptive
    * execution submitted from a future (whose call site is that
    * future's, the same for every such stage), the plan nodes that
    * built its RDDs. */
  private def stageName(si: StageInfo): String = {
    val site = si.name.takeWhile(_ != '\n')
    val name =
      if (site.contains("withThreadLocalCaptured")) GraftListenerBus.scopeNames(si).mkString(" -> ")
      else site
    name.take(90)
  }

  /** Run `body` and return, ordered by start, every SQL execution of
    * this session that ended inside it, failed ones included.
    *
    * A QueryExecutionListener supplies each execution's name, plan and
    * failure; a stage listener maps stages to executions through the
    * job property `spark.sql.execution.id`. The QueryExecutionListener
    * callback carries no execution id, so the two are paired on the
    * execution's end event: Spark hands each event of a queue to every
    * listener of that queue before the next event, the session's
    * QueryExecutionListener bus sits on the shared queue, and
    * registering first puts it ahead of the stage listener added
    * after. So the stage listener sees an end event right after the
    * QueryExecutionListener was called for it.
    *
    * Jobs outside any SQL execution (such as the schema-inference job
    * of a first parquet read) belong to no execution and are not
    * reported.
    */
  def record[T](spark: SparkSession)(body: => T): (T, Seq[Execution]) = {
    val lock = new Object
    val executions = mutable.ArrayBuffer.empty[Execution]
    val stages = mutable.ArrayBuffer.empty[(Long, StageRun)]
    val jobOfStage = mutable.Map.empty[Int, (Int, Long)]
    val startMs = mutable.Map.empty[Long, Long]
    var ended: Option[Execution] = None // set by the QE listener, taken by the end event
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lock.synchronized { ended = Some(Execution(-1, funcName, qe, None, 0, Nil)) }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        lock.synchronized { ended = Some(Execution(-1, funcName, qe, Some(exception), 0, Nil)) }
    }
    val stageListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .foreach(id => lock.synchronized {
            js.stageIds.foreach(sid => jobOfStage(sid) = (js.jobId, id.toLong))
          })
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        lock.synchronized {
          jobOfStage.get(si.stageId).foreach { case (job, exec) =>
            stages += exec -> StageRun(job, si.stageId, stageName(si),
              wall, m.executorRunTime, si.numTasks,
              m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
              m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
              m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          lock.synchronized { startMs(s.executionId) = s.time }
        case end: SparkListenerSQLExecutionEnd => lock.synchronized {
          ended.foreach { x =>
            executions += x.copy(id = end.executionId,
              wallMs = end.time - startMs.getOrElse(end.executionId, end.time))
          }
          ended = None
          startMs -= end.executionId
        }
        case _ =>
      }
    }
    val sc = spark.sparkContext
    GraftListenerBus.drain(sc) // events of earlier work must not reach the new listeners
    spark.listenerManager.register(qeListener)
    sc.addSparkListener(stageListener)
    try {
      val out = body
      GraftListenerBus.drain(sc)
      val byExec = lock.synchronized(stages.toSeq).groupMap(_._1)(_._2)
      (out, lock.synchronized(executions.toSeq).sortBy(_.id).map(x =>
        x.copy(stages = byExec.getOrElse(x.id, Nil).sortBy(s => (s.jobId, s.stageId)))))
    } finally {
      sc.removeSparkListener(stageListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Print one execution: name, outcome, final plan and stage table. */
  def show(x: Execution): Unit = {
    val outcome = x.failure.fold("")(e => s", FAILED: $e")
    println(f"%n----- execution ${x.id} ${x.name}: ${x.wallMs / 1000.0}%.2f s, " +
      s"${x.stages.size} stages$outcome -----")
    println(x.plan)
    println(f"${"job"}%4s ${"stage"}%5s ${"wall_ms"}%8s ${"task_ms"}%9s ${"tasks"}%5s ${"in_MB"}%8s ${"in_rows"}%10s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"spill_MB"}%8s  name")
    x.stages.foreach { s =>
      println(f"${s.jobId}%4d ${s.stageId}%5d ${s.wallMs}%8d ${s.taskMs}%9d ${s.tasks}%5d ${s.inBytes / 1e6}%8.1f ${s.inRows}%10d ${s.shuffleRead / 1e6}%7.1f ${s.shuffleWrite / 1e6}%7.1f ${s.spill / 1e6}%8.1f  ${s.name}")
    }
    // stages can overlap, so the sum can exceed the execution's wall
    // time; where it falls short, the gap is driver, planning and AQE time
    println(f"[stage wall sum ${x.stages.map(_.wallMs).sum / 1000.0}%.2f s, " +
      f"execution wall ${x.wallMs / 1000.0}%.2f s]")
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("all")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val selected =
      if (names == "all") SparkEntry.queries.keys.toSeq.sorted
      else names.split(",").toSeq
    selected.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query '$n'"))
    val spark = Sessions.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { n =>
      val t0 = System.nanoTime()
      val (_, executions) = record(spark) {
        // run the query's OWN plan, rows discarded as a noop sink
        // would: a write would record a command execution wrapping a
        // separate copy of the plan
        val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
        SQLExecution.withNewExecutionId(qe, Some(n))(qe.toRdd.foreach(_ => ()))
      }
      println(f"%n========== $n: ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
        s"${executions.size} executions ==========")
      executions.foreach(show)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
