package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Sessions

/** What every workload gets: the session, its inputs' seed, how long to
  * measure, whether this is the traced run, a scratch directory inside
  * the checkout, and the recorder. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, rec: Recorder) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** A progress line in the harness log. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${Recorder.secondsSince(Ctx.t0)}%.2f s: $msg")
}

object Ctx {
  val t0: Long = System.nanoTime()
}

/** The benchmark harness, started by `run.py` with
  *
  *   --workload vote_live|query_battery --seed N --seconds S
  *   --trace 0|1 --work DIR --out FILE
  *
  * It runs one workload on `local[nproc]` and writes the raw
  * measurements to FILE as JSON; run.py derives the metrics from them.
  * A traced run measures three times: untraced, traced, untraced; the
  * tracing overhead is the traced phase against the two around it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val body: Ctx => Map[String, Any] = workload match {
      case "vote_live" => VoteLive.run
      case "query_battery" => QueryBattery.run
      case other => sys.error(s"unknown workload '$other'")
    }
    val work = Paths.get(need("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = Sessions.configure(SparkSession.builder(), nproc.toString)
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietKnownBenignWarnings()
    val sessionS = Recorder.secondsSince(t0)
    try {
      val ctx = Ctx(spark, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
        work, new Recorder(spark))
      ctx.log("session started")
      val result = body(ctx)
      val heap = Recorder.liveHeapMb()
      ctx.log("done")
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
      Files.writeString(Paths.get(need("out")), json.writeValueAsString(result ++ Map(
        "workload" -> workload, "seed" -> ctx.seed, "nproc" -> nproc,
        "session_s" -> sessionS, "heap_live_mb" -> heap)))
    } finally spark.stop()
  }
}
