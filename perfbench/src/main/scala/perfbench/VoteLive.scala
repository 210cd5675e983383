package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{VoteGenerator, VotePipeline}

/** `vote_live`: the reference topology (`spark_stream.py`) fed in an
  * open loop. One generator thread hands `VoteGenerator` events to the
  * source on a fixed schedule, whether or not the queries keep up;
  * parse → votes per candidate, turnout by location and hourly votes,
  * each into a sink that collects its batch, as a polling dashboard
  * would. Batches are small, so per-trigger work dominates.
  *
  * Freshness of an event is measured in run.py: the time from its
  * scheduled send until every query has emitted the batch holding it,
  * found from each query's cumulative input rows.
  */
object VoteLive {
  /** Send rate, events/s, frozen so that runs compare: a quarter of the
    * 10.5k events/s at which this topology drained a 50k-event backlog
    * on 4 cores. With a trigger floor F and drain rate P a batch takes
    * about F / (1 - Rate/P), which moves Rate/(P - Rate) times as much
    * as P does from run to run: as much at half of P, a third at a
    * quarter. */
  val Rate = 2500
  /** The generator wakes this often and sends every event now due. */
  val TickMs = 20L
  val WarmupEvents = 1000
  val SetupReps = 3
  /** Untimed open-loop seconds between set-up and measurement, so the
    * measured phase starts from the steady state of this rate. */
  val RampS = 15.0
  /** How long after the last send an event may still be emitted. */
  val DrainS = 15.0

  private val Queries: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("votes_per_candidate", "update", VotePipeline.votesPerCandidate),
    ("turnout_by_location", "update", VotePipeline.turnoutByLocation),
    ("hourly_votes", "append", VotePipeline.hourlyVotesPerType))

  /** The three queries, started fresh. Each reads its own in-memory
    * source, as each would consume the topic on its own: one source
    * cannot serve several queries, since a commit by one drops data
    * another has yet to read. */
  private final class Topology(ctx: Ctx, name: String) {
    import ctx.spark.implicits._
    /** (query, batchId, emitted at epoch ms, rows) for every sink call. */
    val emitted = new ConcurrentLinkedQueue[(String, Long, Long, Array[Row])]()
    // one partition per core, as a topic's partitions would be, however
    // many ticks of the generator a batch spans
    private val inputs = Queries.map(_ =>
      MemoryStream[String](ctx.spark, ctx.spark.sparkContext.defaultParallelism))
    val queries: Seq[(String, StreamingQuery)] = Queries.zip(inputs).map { case ((q, mode, agg), in) =>
      val sink: (DataFrame, Long) => Unit = (batch, id) => {
        val rows = batch.collect()
        emitted.add((q, id, System.currentTimeMillis(), rows))
      }
      q -> agg(VotePipeline.parse(in.toDF())).writeStream.queryName(s"$name-$q").outputMode(mode)
        .option("checkpointLocation", ctx.dir(s"$name/$q").toString)
        .foreachBatch(sink).start()
    }

    def send(events: Seq[String]): Unit = inputs.foreach(_.addData(events))

    /** Wait until every query reports `rows` input rows; false on timeout. */
    def await(rows: Long, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      def done = queries.forall { case (_, sq) => ctx.rec.rowsSeen(sq.runId.toString) >= rows }
      while (!done && System.nanoTime() < deadline) {
        queries.foreach { case (_, sq) => sq.exception.foreach(e => throw e) }
        Thread.sleep(2)
      }
      done
    }

    def stop(): Unit = queries.foreach(_._2.stop())
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val perPhase = (Rate * ctx.seconds).toInt
    val ramp = (Rate * RampS).toInt
    val phases = if (ctx.trace) 3 else 1
    val events = VoteGenerator.votes(WarmupEvents + ramp + phases * perPhase, seed = ctx.seed.toInt).toIndexedSeq
    ctx.log("generated events")

    // Set-up, timed SetupReps times: start the topology on fresh
    // checkpoints and push a warm-up batch through it. The last one
    // stays up for the measured phase.
    val setup = mutable.ArrayBuffer.empty[Double]
    var topo: Topology = null
    for (k <- 1 to SetupReps) {
      if (topo != null) topo.stop()
      val t0 = System.nanoTime()
      topo = new Topology(ctx, s"live$k")
      topo.send(events.take(WarmupEvents))
      if (!topo.await(WarmupEvents, 120)) sys.error("warm-up batch was not emitted")
      setup += Recorder.secondsSince(t0)
    }

    ctx.log("set up")
    send(ctx, topo, events, WarmupEvents, ramp)
    val first = WarmupEvents + ramp
    val main = send(ctx, topo, events, first, perPhase)
    ctx.log("measured")
    val traced =
      if (!ctx.trace) Map.empty[String, Any]
      else {
        ctx.rec.startTracing()
        val p = send(ctx, topo, events, first + perPhase, perPhase)
        val trace = ctx.rec.stopTracing()
        Map("traced" -> p, "trace" -> trace, "after" -> send(ctx, topo, events, first + 2 * perPhase, perPhase))
      }
    ctx.rec.drain()
    topo.stop()
    ctx.log("stopped")

    val emitted = topo.emitted.asScala.toSeq
    val batches = topo.queries.map { case (q, sq) =>
      val emitAt = emitted.collect { case (`q`, id, at, _) => id -> at }.toMap
      q -> ctx.rec.progressOf(sq.runId.toString).map { p =>
        Map("id" -> p.batchId, "rows" -> p.rows, "start_ms" -> p.startMs,
          "emit_ms" -> emitAt.getOrElse(p.batchId, -1L), "dur" -> p.durationMs,
          "state" -> Seq(p.stateRows, p.stateBytes, p.stateCommitMs, p.stateInstances))
      }
    }.toMap
    val checks = check(ctx, topo, events)
    ctx.log("checked")
    Map("setup_reps_s" -> setup, "batches" -> batches, "checks" -> checks,
      "run_ids" -> topo.queries.map { case (q, sq) => q -> sq.runId.toString }.toMap,
      "phases" -> (Map("main" -> main) ++ (traced - "trace"))) ++ (traced - "traced" - "after")
  }

  /** Send events [first, first + n) on schedule from one generator
    * thread, then wait for the queries to emit them. */
  private def send(ctx: Ctx, topo: Topology, events: IndexedSeq[String],
                   first: Int, n: Int): Map[String, Any] = {
    val late = mutable.ArrayBuffer.empty[Long]
    val t0 = System.currentTimeMillis() + TickMs
    val end = first + n
    val generator = new Thread(() => {
      var next = first
      var tick = t0
      while (next < end) {
        val pause = tick - System.currentTimeMillis()
        if (pause > 0) Thread.sleep(pause)
        val now = System.currentTimeMillis()
        late += now - tick
        val due = math.min(end, first + ((now - t0) * Rate / 1000).toInt + 1)
        if (due > next) {
          topo.send(events.slice(next, due))
          next = due
        }
        tick = t0 + ((now - t0) / TickMs + 1) * TickMs
      }
    }, "perfbench-loadgen")
    generator.start()
    generator.join()
    topo.await(end, DrainS)
    Map("t0_ms" -> t0, "rate" -> Rate, "first" -> first, "count" -> n, "late_ms" -> late)
  }

  /** Each query's final emitted state must equal VotePipeline run as a
    * batch job over the events that query has processed. */
  private def check(ctx: Ctx, topo: Topology, events: IndexedSeq[String]): Map[String, Boolean] = {
    import ctx.spark.implicits._
    import org.apache.spark.sql.functions.col
    val emitted = topo.emitted.asScala.toSeq.sortBy(_._2)
    val all = events.zipWithIndex.toDF("value", "i").cache()
    try topo.queries.map { case (q, sq) =>
      // a batch counts once it was both emitted and reported: stopping
      // the query can cut a batch after its sink ran
      val progress = ctx.rec.progressOf(sq.runId.toString)
      val reported = progress.map(_.batchId).toSet
      val mine = emitted.filter(e => e._1 == q && reported(e._2))
      val done = mine.map(_._2).toSet
      val processed = progress.filter(p => done(p.batchId)).map(_.rows).sum.toInt
      val agg = Queries.find(_._1 == q).get._3
      val want = agg(VotePipeline.parse(all.where(col("i") < processed).select("value")))
        .collect().map(_.toSeq)
      val rows = mine.flatMap(_._4.map(_.toSeq))
      val ok =
        if (q == "hourly_votes") {
          // append mode: a window is emitted once, after the watermark
          // of the last emitted batch has passed its end
          val wm = progress.filter(p => done(p.batchId)).lastOption.map(_.watermarkMs).getOrElse(Long.MinValue)
          val closed = want.filter(r => r.head.asInstanceOf[java.sql.Timestamp].getTime + 3600000L <= wm)
          rows.size == rows.distinct.size && rows.toSet == closed.toSet
        } else {
          // update mode: the last row emitted per key is its state
          rows.map(r => r.init -> r.last).toMap == want.map(r => r.init -> r.last).toMap
        }
      s"$q matches batch" -> ok
    }.toMap
    finally all.unpersist()
  }
}
