package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** The state store config a 100 TB stream actually ships with:
    * RocksDB spills keyed state to local disk instead of holding it on
    * the executor heap. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the given streaming state store provider, then
    * restore the previous setting (the conf is read at query START, so
    * scoping it around the whole scenario is sufficient). */
  def withStateStoreProvider[T](providerClass: String)(body: => T): T =
    withSQLConf("spark.sql.streaming.stateStore.providerClass" -> providerClass)(body)

  /** Run `body` and count the Spark jobs it started. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    GraftListenerBus.drain(sc) // jobs of earlier work must not be counted
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** State-store instances of each stateful operator in the query's
    * last micro-batch that read input. */
  def stateStoreInstances(q: StreamingQuery): Seq[Long] =
    q.recentProgress.filter(_.numInputRows > 0).last
      .stateOperators.map(_.numStateStoreInstances).toSeq

  /** Run `body` with the given SQL confs set, restoring previous
    * values after (the shared session outlives each suite). */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    // warehouse dir is a STATIC conf; point it at a temp dir at build
    // time so saveAsTable tests never write inside the repo
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = Sessions.configure(SparkSession.builder().appName("graft-test"), "4")
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
