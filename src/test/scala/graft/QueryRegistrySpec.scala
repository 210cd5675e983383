package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QuerySpec

/** The query registry's contract: one spec per name, each carrying a
  * DuckDB oracle, and exactly the names the committed plan ledger
  * (PLANS.json) fingerprints. */
class QueryRegistrySpec extends AnyFunSuite {

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
}
