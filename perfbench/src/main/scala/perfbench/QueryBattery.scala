package perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, round}

import graft.{SparkEntry, Tables}
import graft.sources.GraftCatalog

/** `query_battery`: one client runs a fixed selection of
  * `SparkEntry.queries`, a few from each battery, one after another
  * (closed loop) into the `noop` sink, after an untimed warm-up pass
  * that builds the queries' fixtures; their results are fingerprinted
  * after it, outside the timed passes.
  * The tables are generated from a fixed seed, so every query's result
  * hash can be pinned; the run's seed sets the query order of each
  * timed pass. No streaming trigger runs here.
  */
object QueryBattery {
  /** A few queries from each battery, each under about half a
    * second at this scale, and none whose fixture takes long to build
    * (SparkEntry's tx_cat_* reads share one that takes half a minute;
    * the tx_catalog_* reads below stand in for them). */
  val Queries: Seq[String] = Seq(
    "gr_reachability",
    "dd_exact", "dd_minhash_lsh",
    "sim_topk",
    "cur_decontaminate", "corp_len_histogram",
    "mm_audio_features",
    "txt_langid", "txt_tfidf",
    "tx_prune_read", "tx_time_travel", "tx_changes", "tx_snapshot",
    "tx_catalog_stream", "tx_catalog_merge",
    "q1_pricing_summary", "g1_votes_per_type", "j1_enrichment_join", "w1_moving_avg",
    "s1_hourly_agg", "o3_top5", "p2_json_parse")
  val DataSeed = 42L
  val SetupReps = 3
  /** Timed passes per phase: one per PassSeconds of `--seconds`, at
    * least two. The count depends on the argument alone, never on how
    * fast the passes run, so every run of a given length takes its
    * latency tail at the same percentile. */
  val PassSeconds = 2.5

  def passCount(seconds: Double): Int = math.max(2, math.ceil(seconds / PassSeconds).toInt)

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val all = SparkEntry.queries ++ catalogQueries(ctx)
    val build = Queries.map(q => q -> all.getOrElse(q, sys.error(s"no query $q"))).toMap

    // Set-up, timed SetupReps times: generate the tables into a fresh
    // directory. The fixtures the selected queries need are built on
    // first use, in the warm-up pass.
    val setup = mutable.ArrayBuffer.empty[Double]
    var dir = ""
    for (k <- 1 to SetupReps) {
      dir = ctx.dir(s"tables$k").toString
      val t0 = System.nanoTime()
      BatteryData.write(spark, dir, DataSeed)
      setup += Recorder.secondsSince(t0)
    }
    ctx.log("tables written")

    def runOne(q: String): Double = {
      val t0 = System.nanoTime()
      ctx.rec.span("query", q) {
        val df = ctx.rec.span("build", q)(build(q)(spark, dir))
        ctx.rec.span("execute")(df.write.format("noop").mode("overwrite").save())
      }
      val ms = (System.nanoTime() - t0) / 1e6
      // hygiene outside the timed body, as in Bench: drop blocks some
      // operators pin and let the cleaner reclaim dead broadcasts
      spark.catalog.clearCache()
      ms
    }

    // The warm-up pass runs each query exactly as the timed passes do,
    // building its fixtures and compiling its plan.
    val warm = Queries.map(q => q -> runOne(q)).toMap
    ctx.log("warmed up")
    // Fingerprint each result, outside any timed pass, for run.py to
    // compare with the hashes pinned in battery_hashes.json.
    val hashes = Queries.map { q =>
      val h = ResultHash(build(q)(spark, dir))
      spark.catalog.clearCache()
      q -> h
    }.toMap
    ctx.log("hashed")

    /** `passCount(seconds)` timed passes, each in a seed-shuffled order. */
    def passes(tag: Int): Map[String, Any] = {
      val ms = mutable.ArrayBuffer.empty[(String, Double)]
      val passMs = mutable.ArrayBuffer.empty[Double]
      var failed = 0L
      val t0 = System.nanoTime()
      val n = passCount(ctx.seconds)
      for (p <- 0 until n) {
        val p0 = System.nanoTime()
        new Random(ctx.seed * 7919L + tag * 131L + p).shuffle(Queries).foreach { q =>
          try ms += (q -> runOne(q))
          catch {
            case NonFatal(e) =>
              failed += 1
              System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
          }
        }
        passMs += (System.nanoTime() - p0) / 1e6
      }
      Map("query_ms" -> ms, "pass_ms" -> passMs, "attempted" -> (n * Queries.size).toLong,
        "failed" -> failed, "seconds" -> Recorder.secondsSince(t0))
    }

    val main = passes(0)
    ctx.log("measured")
    val traced =
      if (!ctx.trace) Map.empty[String, Any]
      else {
        ctx.rec.startTracing()
        val p = passes(1)
        val trace = ctx.rec.stopTracing()
        Map("traced" -> p, "trace" -> trace, "after" -> passes(2))
      }

    Map("setup_reps_s" -> setup, "warm_ms" -> warm, "hashes" -> hashes,
      "phases" -> (Map("main" -> main) ++ (traced - "trace"))) ++ (traced - "traced" - "after")
  }

  private val Catalog = "perfbench_cat"

  /** Two reads that resolve their table through GraftCatalog, on a
    * small lakehouse built on first use from the battery's orders:
    * `db.sw` was written by the streaming table sink
    * (`writeStream.toTable`), `db.ord` took a SQL MERGE after its
    * inserts. */
  private def catalogQueries(ctx: Ctx): Map[String, (SparkSession, String) => DataFrame] = {
    var built = false
    def read(s: SparkSession, dir: String, table: String): DataFrame = {
      if (!built) { buildCatalog(ctx, s, dir); built = true }
      s.sql(s"SELECT o_orderkey, price_cents FROM $Catalog.db.$table")
    }
    Map("tx_catalog_stream" -> ((s, dir) => read(s, dir, "sw")),
      "tx_catalog_merge" -> ((s, dir) => read(s, dir, "ord")))
  }

  private def buildCatalog(ctx: Ctx, s: SparkSession, dir: String): Unit = {
    val wh = ctx.dir("catalog")
    s.conf.set(s"spark.sql.catalog.$Catalog", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$Catalog.warehouse", wh.toString)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .createOrReplaceTempView("perfbench_orders")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Catalog.db")
    s.sql(s"CREATE TABLE $Catalog.db.ord (o_orderkey BIGINT, price_cents BIGINT)")
    s.sql(s"INSERT INTO $Catalog.db.ord SELECT * FROM perfbench_orders WHERE o_orderkey % 3 = 0")
    s.sql(s"INSERT INTO $Catalog.db.ord SELECT * FROM perfbench_orders WHERE o_orderkey % 3 = 1")
    // relay db.ord's appends into db.sw through the exactly-once epoch commits
    s.sql(s"CREATE TABLE $Catalog.db.sw (o_orderkey BIGINT, price_cents BIGINT)")
    val relay = s.readStream.table(s"$Catalog.db.ord").writeStream
      .option("checkpointLocation", wh.resolve("_ckpt_sw").toString)
      .toTable(s"$Catalog.db.sw")
    try relay.processAllAvailable() finally relay.stop()
    s.sql(s"""MERGE INTO $Catalog.db.ord t
              USING (SELECT * FROM perfbench_orders WHERE o_orderkey % 3 = 2 OR o_orderkey % 15 = 1) u
              ON t.o_orderkey = u.o_orderkey
              WHEN MATCHED THEN UPDATE SET price_cents = 2 * u.price_cents
              WHEN NOT MATCHED THEN INSERT (o_orderkey, price_cents) VALUES (u.o_orderkey, 2 * u.price_cents)""")
  }
}
