package graft

import scala.jdk.CollectionConverters._

import graft.queries.QuerySpec

/** The query registry's contract: one spec per name, each carrying a
  * DuckDB oracle, and exactly the names the committed plan ledger
  * (PLANS.json) fingerprints; and lazy builds. */
class QueryRegistrySpec extends SparkTestBase {

  test("a registry built with a duplicated name throws") {
    val q = QuerySpec("dup", "SELECT 1", (s, dir) => Tables.nation(s, dir))
    val other = QuerySpec("other", "SELECT 2", (s, dir) => Tables.region(s, dir))
    assert(QuerySpec.registry(Seq(q, other)).keySet === Set("dup", "other"))
    val e = intercept[IllegalArgumentException](QuerySpec.registry(Seq(q, other, q)))
    assert(e.getMessage.contains("dup"))
  }

  test("no spec's oracle is blank") {
    val blank = SparkEntry.registry.values.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"specs with a blank oracle: $blank")
  }

  test("the registry's names are exactly PLANS.json's keys") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val plans = mapper.readTree(new java.io.File("PLANS.json"))
    val ledger = plans.fieldNames().asScala.toSet
    val names = SparkEntry.registry.keySet
    assert((names -- ledger).isEmpty, s"registered but not in PLANS.json: ${names -- ledger}")
    assert((ledger -- names).isEmpty, s"in PLANS.json but not registered: ${ledger -- names}")
  }

  test("a warm build of a query over the input tables starts no Spark job") {
    val names = Seq("q1_pricing_summary", "p2_json_parse", "g1_votes_per_type",
      "j1_enrichment_join", "o3_top5", "s1_hourly_agg")
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir))
    val jobs = names.map(n => n -> jobsDuring(SparkEntry.queries(n)(spark, sfDir))._2)
    assert(jobs.forall(_._2 == 0), s"jobs started by a second build: $jobs")
  }
}
