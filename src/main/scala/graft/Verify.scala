package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result → parquet, plus
  * its oracle in oracle_sql.json, for the DuckDB compare
  * (`tools/check.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — trailing names restrict the
    // dump (parquet, plans AND oracles) to those queries; a full dump
    // passes just the two dirs.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.registry.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val specs = SparkEntry.registry.values.filter(q => only.isEmpty || only(q.name)).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietKnownBenignWarnings()
    new java.io.File(outDir).mkdirs()
    val plans = scala.collection.mutable.TreeMap.empty[String, String]
    specs.foreach { q =>
      try {
        val df = q.build(spark, sfDir)
        plans(q.name) = fingerprint(df.queryExecution.executedPlan)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      // same inter-query hygiene as Bench: drop per-query pinned
      // cache so a 130-query dump can't accumulate heap
      spark.catalog.clearCache()
    }
    val json = specs
      .map(q => s"${jsonString(q.name)}: ${jsonString(q.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // X-Q13 (r20): normalized physical-plan fingerprint per query —
    // the plan-regression ledger. The ~30 curated PlanShapeSpec pins
    // guard the queries whose shape IS the operator's contract; this
    // ledger makes the other 200+ regression-proof at zero per-round
    // effort: `tools/plancheck.py <outDir> [PLANS.json]` diffs a run
    // against the committed canonical and fails on unacknowledged
    // changes (the intentional-diff workflow: regenerate, read the
    // diff, commit the new PLANS.json naming the change).
    Files.writeString(Paths.get(s"$outDir/plans.json"),
      plans.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",\n", "}"))
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Normalized plan fingerprint: the operator tree's shape with join
    * strategies/types and exchange partitioning kinds — no expression
    * ids, no paths, no stats, no codegen framing — so the string is
    * stable across runs/machines and diffs point at REAL plan changes
    * (a join strategy flip, a lost pushdown, a new exchange), not at
    * fixture temp dirs or id counters.
    */
  def fingerprint(plan: org.apache.spark.sql.execution.SparkPlan): String = {
    import org.apache.spark.sql.execution._
    // catalog BatchScan nodeNames embed the per-JVM warehouse root
    // (graft:/tmp/graft-jvm-<random>/cat_.../db/t) — normalize the
    // root away so the 38 catalog-table fingerprints are stable
    // across JVMs (r20: a fresh pid used to flag every tx_cat row)
    def norm(s: String): String =
      s.replaceAll("graft:\\S*/db/", "graft:~wh~/db/")
    def walk(p: SparkPlan): String = {
      val kids = p.children.map(walk).filter(_.nonEmpty)
      p match {
        // transparent framing: codegen boundaries shift with codegen
        // thresholds/flags, never with the plan's real shape
        case _: WholeStageCodegenExec | _: InputAdapter =>
          kids.mkString(",")
        case j: joins.BaseJoinExec =>
          s"${p.nodeName}[${j.joinType}](${kids.mkString(",")})"
        case e: exchange.ShuffleExchangeExec =>
          val kind = e.outputPartitioning.getClass.getSimpleName
            .stripSuffix("$").stripSuffix("Partitioning")
          s"Exchange[$kind](${kids.mkString(",")})"
        case _: adaptive.AdaptiveSparkPlanExec =>
          // fingerprint the INITIAL plan: deterministic pre-execution
          val a = p.asInstanceOf[adaptive.AdaptiveSparkPlanExec]
          walk(a.initialPlan)
        case _ =>
          if (kids.isEmpty) norm(p.nodeName)
          else s"${norm(p.nodeName)}(${kids.mkString(",")})"
      }
    }
    walk(plan)
  }
}
