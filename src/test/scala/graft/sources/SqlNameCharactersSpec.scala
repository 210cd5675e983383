package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

/** Ordinary Spark identifiers and SQL text through the catalog: column
  * names with a space, a comma or a lone dash, property values and
  * CHECK expressions with double quotes. The log stores each as a
  * typed value, so none of them is refused, split or mistaken for a
  * marker.
  */
class SqlNameCharactersSpec extends SparkTestBase {

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft-names-wh").toString
    spark.conf.set("spark.sql.catalog.gnames", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gnames.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gnames.db")
    wh
  }

  private def root(table: String): String = s"$warehouse/db/$table"

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("columns named `first name` and `a,b` insert, record stats under those names, and prune") {
    warehouse
    spark.sql("CREATE TABLE gnames.db.names (`first name` STRING, `a,b` BIGINT)")
    // three files with disjoint ranges on both columns: A0..A49,
    // B100..B149, C200..C249
    (0 until 3).foreach(i => spark.sql(
      "INSERT INTO gnames.db.names SELECT /*+ REPARTITION(1) */ " +
        s"concat('${('A' + i).toChar}', id), id FROM range(${i * 100}, ${i * 100 + 50})"))
    val state = TxnLog.snapshotState(root("names"))
    assert(state.size === 3)
    assert(state.forall(_._2.stats.keySet == Set("first name", "a,b")),
      s"stats must be keyed by the column names: ${state.map(_._2.stats.keySet)}")
    // corrupt every file that cannot hold B120: a query that opened
    // one would fail, so each answer below proves the pruning
    val victims = state.filterNot { case (_, m) =>
      val st = m.stats("a,b"); st.lo <= 120L && 120L <= st.hi }
    assert(victims.size === 2)
    victims.foreach { case (f, _) => Files.write(Paths.get(f), Array[Byte](1, 2, 3)) }
    assert(spark.sql("SELECT `first name` FROM gnames.db.names WHERE `a,b` = 120")
      .head.getString(0) === "B120")
    assert(spark.sql("SELECT `a,b` FROM gnames.db.names WHERE `first name` = 'B120'")
      .head.getLong(0) === 120L)
  }

  test("RENAME COLUMN k TO `my k` is one metadata commit and reads under the new name") {
    warehouse
    spark.sql("CREATE TABLE gnames.db.rn (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gnames.db.rn VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE gnames.db.rn RENAME COLUMN k TO `my k`")
    assert(TxnLog.columnMapping(root("rn")) === Map("my k" -> "k"))
    assert(spark.sql("SELECT `my k` FROM gnames.db.rn WHERE v = 'b'").head.getLong(0) === 2L)
    spark.sql("INSERT INTO gnames.db.rn VALUES (3, 'c')")
    assert(spark.sql("SELECT sum(`my k`) FROM gnames.db.rn").head.getLong(0) === 6L)
  }

  test("a property value with double quotes is stored as written") {
    warehouse
    spark.sql("CREATE TABLE gnames.db.pq (k BIGINT) TBLPROPERTIES " +
      "('owner.note' = 'say \"hi\", then go')")
    spark.sql("ALTER TABLE gnames.db.pq SET TBLPROPERTIES ('owner.quote' = '\"')")
    assert(TxnLog.tableProperties(root("pq")) ===
      Map("owner.note" -> "say \"hi\", then go", "owner.quote" -> "\""))
    TxnLog.checkpoint(root("pq"))
    assert(TxnLog.tableProperties(root("pq"))("owner.note") === "say \"hi\", then go")
  }

  test("a CHECK constraint with a double-quoted literal is enforced") {
    warehouse
    spark.sql("CREATE TABLE gnames.db.cq (v STRING)")
    spark.sql("ALTER TABLE gnames.db.cq SET TBLPROPERTIES " +
      "('graft.constraint.c1' = 'v <> \"void\"')")
    assert(TxnLog.activeConstraints(root("cq")) === Map("c1" -> "v <> \"void\""))
    spark.sql("INSERT INTO gnames.db.cq VALUES ('ok')")
    val e = intercept[Exception](spark.sql("INSERT INTO gnames.db.cq VALUES ('void')"))
    assert(causes(e).exists(_.isInstanceOf[TxnLog.ConstraintViolationException]),
      s"the violating row must be rejected: $e")
    assert(spark.sql("SELECT v FROM gnames.db.cq").collect().map(_.getString(0)).toSeq ===
      Seq("ok"))
  }

  test("PARTITIONED BY (`-`) declares a partition column named -") {
    warehouse
    spark.sql("CREATE TABLE gnames.db.dash (`-` BIGINT, v STRING) PARTITIONED BY (`-`)")
    assert(TxnLog.partitionColumns(root("dash")) === Seq("-"))
    spark.sql("INSERT INTO gnames.db.dash VALUES (1, 'a'), (2, 'b'), (1, 'c')")
    assert(spark.sql("SELECT count(*) FROM gnames.db.dash WHERE `-` = 1").head.getLong(0) === 2L)
    // clearing is a different value from "unchanged"
    TxnLog.setPartitioning(root("dash"), Nil, txnId = "clear")
    assert(TxnLog.partitionColumns(root("dash")) === Nil)
  }
}
