package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One streaming progress report, as the benchmark's listener saw it. */
final case class Progress(runId: String, query: String, batchId: Long, rows: Long,
                          startMs: Long, durationMs: Map[String, Long],
                          stateRows: Long, stateBytes: Long, stateCommitMs: Long,
                          stateInstances: Long, watermarkMs: Long)

/** Everything the benchmark observes about a run besides its own
  * timings: streaming progress (always on, since freshness needs it)
  * and, while tracing, spans around calls into the program plus the
  * counts from one SparkListener and one QueryExecutionListener.
  *
  * Span and job times share one clock, epoch nanoseconds, so run.py
  * can nest Spark's job intervals inside the benchmark's spans.
  */
final class Recorder(spark: SparkSession) {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNano)

  // ---- streaming progress (always attached) ----
  private val progress = new ConcurrentLinkedQueue[Progress]()
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      val wm = Option(p.eventTime.get("watermark"))
        .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(Long.MinValue)
      progress.add(Progress(p.runId.toString, p.name, p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numStateStoreInstances).sum, wm))
    }
  })

  def progressOf(runId: String): Seq[Progress] =
    progress.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)

  /** Input rows a query has reported as processed so far. */
  def rowsSeen(runId: String): Long =
    progress.asScala.iterator.filter(_.runId == runId).map(_.rows).sum

  def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  // ---- spans (tracing only) ----
  @volatile private var tracing = false
  private val spans = mutable.ArrayBuffer.empty[(String, String, Long, Long)]

  /** Run `body`; while tracing, record it as a span (name, tag, start,
    * end). `tag` names what the span is for, such as a query name. */
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!tracing) body
    else {
      val start = nowNs
      try body
      finally {
        val end = nowNs
        synchronized { spans += ((name, tag, start, end)) }
      }
    }

  // ---- Spark listeners (tracing only) ----
  /** (start, end, job group): a streaming query runs its jobs in a
    * group named by its run id. */
  private val jobs = new ConcurrentLinkedQueue[(Long, Long, String)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  // wallMs, tasks, runMs, cpuMs, shuffleRead, shuffleWrite, spill, fetchWaitMs
  private val stages = new ConcurrentLinkedQueue[Seq[Long]]()
  private val planning = new ConcurrentLinkedQueue[Seq[Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId,
      (e.time, Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, group) =>
        jobs.add((s * 1000000L, e.time * 1000000L, group))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
      stages.add(Seq(wall, si.numTasks.toLong, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleReadMetrics.fetchWaitTime))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      planning.add(Seq(ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var counters0 = Seq.empty[Long]
  private var tracedFromNs = 0L

  /** JVM-wide cumulative counters: codegen compiles and compile time,
    * GC time, JIT time (all read as deltas across the traced phase). */
  private def counters(): Seq[Long] = Seq(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime / 1000000L,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  def startTracing(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    counters0 = counters()
    tracedFromNs = nowNs
    tracing = true
  }

  /** Stop tracing and return what it recorded, for the result file. */
  def stopTracing(): Map[String, Any] = {
    tracing = false
    val until = nowNs
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    val d = counters().zip(counters0).map { case (a, b) => a - b }
    Map(
      "from_ns" -> tracedFromNs, "until_ns" -> until,
      "spans" -> synchronized(spans.toSeq),
      "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq,
      "planning" -> planning.asScala.toSeq,
      "codegen_compiles" -> d(0), "codegen_ms" -> d(1), "gc_ms" -> d(2), "jit_ms" -> d(3))
  }
}

object Recorder {
  /** Heap still in use after a full collection, in MB: the least of
    * three tries, since background threads briefly hold garbage. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
