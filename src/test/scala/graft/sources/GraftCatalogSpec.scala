package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

/** The SQL-native surface over the transaction log
  * ([[GraftCatalog]]): DDL, INSERT (append + overwrite), SELECT with
  * log-stats file pruning, DELETE FROM as deletion vectors, TRUNCATE,
  * time travel, column rename, CHECK constraints as table properties,
  * and `readStream.table`. The batch results the V2 scan must agree
  * with are hash-checked by the driver (`tx_cat_*`); these specs pin
  * the white-box properties DuckDB cannot see (no files rewritten,
  * pruned files never opened, nothing published on a rejected write).
  */
class GraftCatalogSpec extends SparkTestBase {
  import spark.implicits._

  /** One catalog for the whole suite: catalog instances cache per
    * session on first use, so the warehouse is fixed up front.
    */
  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft-cat-wh").toString
    spark.conf.set("spark.sql.catalog.gcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    wh
  }

  private def root(table: String): String = s"$warehouse/db/$table"

  test("CREATE TABLE + INSERT INTO + SELECT roundtrip; the schema is a log fact") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.t1 (k BIGINT, v STRING)")
    assert(TxnLog.tableSchema(root("t1")).get.fieldNames.toSeq === Seq("k", "v"))
    spark.sql("INSERT INTO gcat.db.t1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("INSERT INTO gcat.db.t1 SELECT id, concat('x', id) FROM range(10, 13)")
    assert(spark.sql("SELECT count(*) FROM gcat.db.t1").head.getLong(0) === 6L)
    assert(spark.sql("SELECT v FROM gcat.db.t1 WHERE k = 2").head.getString(0) === "b")
    // the insert recorded typed stats for both columns
    val stats = TxnLog.snapshotState(root("t1")).flatMap(_._2.stats.keys).toSet
    assert(stats === Set("k", "v"))
  }

  test("pushed filters prune files against log stats: out-of-range files are never opened") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.pr (k BIGINT, v STRING)")
    // four appends with disjoint ranges -> four files with disjoint stats
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO gcat.db.pr SELECT /*+ REPARTITION(1) */ id, concat('v', id) " +
        s"FROM range(${i * 100}, ${i * 100 + 50})"))
    val state = TxnLog.snapshotState(root("pr"))
    assert(state.size === 4)
    // corrupt every file that cannot hold k = 120
    val victims = state.filterNot { case (_, m) =>
      val st = m.stats("k"); st.lo <= 120L && 120L <= st.hi }
    assert(victims.size === 3)
    victims.foreach { case (f, _) => Files.write(Paths.get(f), Array[Byte](1, 2, 3)) }
    assert(spark.sql("SELECT v FROM gcat.db.pr WHERE k = 120").head.getString(0) === "v120")
    assert(spark.sql("SELECT count(*) FROM gcat.db.pr WHERE k >= 100 AND k < 150")
      .head.getLong(0) === 50L)
    // and the scan surfaces in the plan
    val plan = spark.sql("SELECT v FROM gcat.db.pr WHERE k = 120")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GraftTableScan"), s"expected the V2 scan in:\n$plan")
  }

  test("DELETE FROM with an arithmetic predicate: deletion vectors, zero files rewritten") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.del (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.del SELECT id, id * 10 FROM range(0, 100)")
    val before = TxnLog.snapshotFiles(root("del")).toSet
    spark.sql("DELETE FROM gcat.db.del WHERE k % 5 = 2")
    assert(TxnLog.snapshotFiles(root("del")).toSet === before,
      "a DV delete must rewrite no file")
    assert(TxnLog.snapshotState(root("del")).exists(_._2.dv.isDefined))
    assert(spark.sql("SELECT count(*) FROM gcat.db.del").head.getLong(0) === 80L)
    assert(spark.sql("SELECT sum(v) FROM gcat.db.del").head.getLong(0) ===
      (0L until 100L).filterNot(_ % 5 == 2).map(_ * 10).sum)
    // a second delete unions into the vectors
    spark.sql("DELETE FROM gcat.db.del WHERE k IN (0, 1)")
    assert(spark.sql("SELECT count(*) FROM gcat.db.del").head.getLong(0) === 78L)
  }

  test("VERSION AS OF and TIMESTAMP AS OF travel through the SQL surface") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.tt (k BIGINT)")          // v1
    spark.sql("INSERT INTO gcat.db.tt SELECT id FROM range(0, 5)")   // v2
    spark.sql("INSERT INTO gcat.db.tt SELECT id FROM range(5, 9)")   // v3
    spark.sql("DELETE FROM gcat.db.tt WHERE k = 0")                  // v4
    assert(spark.sql("SELECT count(*) FROM gcat.db.tt").head.getLong(0) === 8L)
    assert(spark.sql("SELECT count(*) FROM gcat.db.tt VERSION AS OF 2").head.getLong(0) === 5L)
    assert(spark.sql("SELECT count(*) FROM gcat.db.tt VERSION AS OF 3").head.getLong(0) === 9L)
    val ts2 = TxnLog.commits(root("tt")).find(_.version == 2L).get.ts
    val lit = java.time.Instant.ofEpochMilli(ts2).toString.replace("T", " ").replace("Z", "")
    assert(spark.sql(s"SELECT count(*) FROM gcat.db.tt TIMESTAMP AS OF '$lit'")
      .head.getLong(0) === 5L)
  }

  test("INSERT OVERWRITE swaps the live set in one commit; TRUNCATE empties; history intact") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.ow (k BIGINT)")
    spark.sql("INSERT INTO gcat.db.ow SELECT id FROM range(0, 10)")
    val v2 = TxnLog.currentVersion(root("ow"))
    spark.sql("INSERT OVERWRITE gcat.db.ow SELECT id FROM range(100, 103)")
    assert(TxnLog.currentVersion(root("ow")) === v2 + 1, "overwrite is ONE commit")
    assert(spark.sql("SELECT sum(k) FROM gcat.db.ow").head.getLong(0) === 303L)
    assert(spark.sql(s"SELECT count(*) FROM gcat.db.ow VERSION AS OF $v2")
      .head.getLong(0) === 10L, "the overwritten snapshot still travels")
    spark.sql("TRUNCATE TABLE gcat.db.ow")
    assert(spark.sql("SELECT count(*) FROM gcat.db.ow").head.getLong(0) === 0L)
    assert(spark.sql(s"SELECT count(*) FROM gcat.db.ow VERSION AS OF ${v2 + 1}")
      .head.getLong(0) === 3L)
  }

  test("ALTER TABLE RENAME COLUMN is one metadata commit; files untouched; pruning survives") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.rn (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gcat.db.rn SELECT id, concat('v', id) FROM range(0, 50)")
    spark.sql("INSERT INTO gcat.db.rn SELECT id, concat('v', id) FROM range(100, 150)")
    val files = TxnLog.snapshotFiles(root("rn")).toSet
    val mtimes = files.map(f => Files.getLastModifiedTime(Paths.get(f)))
    spark.sql("ALTER TABLE gcat.db.rn RENAME COLUMN k TO key")
    assert(TxnLog.snapshotFiles(root("rn")).toSet === files)
    assert(files.map(f => Files.getLastModifiedTime(Paths.get(f))) === mtimes,
      "rename must touch no data file")
    assert(spark.sql("SELECT count(*) FROM gcat.db.rn WHERE key < 50").head.getLong(0) === 50L)
    // the old era surfaces the old name
    assert(spark.sql("SELECT * FROM gcat.db.rn VERSION AS OF 2").columns.toSeq
      === Seq("k", "v"))
    // logical predicates on the NEW name still prune physical stats:
    // corrupt the out-of-range file and query through the rename
    val state = TxnLog.snapshotState(root("rn"))
    val victim = state.find(_._2.stats("k").lo >= 100L).get._1
    Files.write(Paths.get(victim), Array[Byte](9, 9, 9))
    assert(spark.sql("SELECT count(*) FROM gcat.db.rn WHERE key BETWEEN 10 AND 19")
      .head.getLong(0) === 10L)
    // INSERT through the rename stages physical names: both generations agree
    spark.sql("INSERT INTO gcat.db.rn (key, v) VALUES (1000, 'tail')")
    assert(spark.sql("SELECT v FROM gcat.db.rn WHERE key = 1000").head.getString(0) === "tail")
  }

  test("CHECK constraints as table properties: a violating INSERT publishes nothing") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.ck (k BIGINT)")
    // a CHECK that does not parse is refused before it is stored, so
    // it can never fail the later writes
    val v0 = TxnLog.currentVersion(root("ck"))
    val bad = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.db.ck SET TBLPROPERTIES ('graft.constraint.bad' = 'k >')")
    }
    assert(bad.getMessage.contains("constraint bad"), s"the error must name the constraint: $bad")
    intercept[IllegalArgumentException](
      TxnLog.setConstraint(root("ck"), "bad2", "k > (", txnId = "ck-bad2"))
    assert(TxnLog.currentVersion(root("ck")) === v0, "nothing may commit")
    spark.sql("ALTER TABLE gcat.db.ck SET TBLPROPERTIES ('graft.constraint.pos' = 'k >= 0')")
    spark.sql("INSERT INTO gcat.db.ck VALUES (1), (2)")
    val v = TxnLog.currentVersion(root("ck"))
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gcat.db.ck VALUES (3), (-1)")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[TxnLog.ConstraintViolationException]),
      s"expected a constraint violation, got $e")
    assert(TxnLog.currentVersion(root("ck")) === v, "nothing may publish")
    assert(spark.sql("SELECT count(*) FROM gcat.db.ck").head.getLong(0) === 2L)
    // visible as a property, droppable as one
    assert(spark.sql("SHOW TBLPROPERTIES gcat.db.ck").collect()
      .exists(r => r.getString(0) == "graft.constraint.pos"))
    spark.sql("ALTER TABLE gcat.db.ck UNSET TBLPROPERTIES ('graft.constraint.pos')")
    spark.sql("INSERT INTO gcat.db.ck VALUES (-5)")
    assert(spark.sql("SELECT count(*) FROM gcat.db.ck").head.getLong(0) === 3L)
  }

  test("the optimizer sees post-prune statistics: filtered reads report exact DV-corrected rows") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.st (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.st SELECT id, id FROM range(0, 64)")
    spark.sql("DELETE FROM gcat.db.st WHERE k < 4")
    val rel = spark.sql("SELECT * FROM gcat.db.st").queryExecution.optimizedPlan
      .collect { case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r }
    assert(rel.nonEmpty)
    assert(rel.head.stats.rowCount.contains(BigInt(60)),
      s"expected DV-corrected row count 60, got ${rel.head.stats.rowCount}")
  }

  test("post-prune size reaches the optimizer: a pruned catalog read broadcast-joins") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.bj (k BIGINT, v STRING)")
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO gcat.db.bj SELECT /*+ REPARTITION(1) */ id, concat('v', id) " +
        s"FROM range(${i * 1000}, ${i * 1000 + 1000})"))
    val all = TxnLog.snapshotState(root("bj")).map(_._2.size).sum
    val q = spark.range(0, 500000).toDF("id2")
      .join(spark.sql("SELECT k, v FROM gcat.db.bj WHERE k < 1000"),
        org.apache.spark.sql.functions.col("id2") === org.apache.spark.sql.functions.col("k"))
    val rel = q.queryExecution.optimizedPlan
      .collect { case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r }
    assert(rel.nonEmpty)
    assert(rel.head.stats.sizeInBytes > 0 && rel.head.stats.sizeInBytes < all,
      s"post-prune size ${rel.head.stats.sizeInBytes} must undercut the table's $all")
    assert(q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "a one-file post-prune read must broadcast, not shuffle, against 500k rows")
  }

  test("DROP TABLE removes it; listTables and tableExists agree") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.tmp (k BIGINT)")
    assert(spark.sql("SHOW TABLES IN gcat.db").collect().map(_.getString(1)).contains("tmp"))
    spark.sql("DROP TABLE gcat.db.tmp")
    assert(!spark.sql("SHOW TABLES IN gcat.db").collect().map(_.getString(1)).contains("tmp"))
    intercept[Exception] { spark.sql("SELECT * FROM gcat.db.tmp").collect() }
  }

  test("SQL UPDATE rewrites only the files the predicate can touch") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.up (k BIGINT, v BIGINT)")
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO gcat.db.up SELECT /*+ REPARTITION(1) */ id, id FROM range(${i * 100}, ${i * 100 + 100})"))
    val before = TxnLog.snapshotFiles(root("up")).toSet
    assert(before.size === 4)
    spark.sql("UPDATE gcat.db.up SET v = v + 1000000 WHERE k BETWEEN 150 AND 160")
    val after = TxnLog.snapshotFiles(root("up")).toSet
    // group-based copy-on-write: exactly the one file whose stat
    // range covers [150, 160] is replaced; the other three survive
    assert((before -- after).size === 1, s"expected 1 file rewritten, lost ${before -- after}")
    assert((before & after).size === 3)
    assert(spark.sql("SELECT count(*) FROM gcat.db.up").head.getLong(0) === 400L)
    assert(spark.sql("SELECT sum(v) FROM gcat.db.up").head.getLong(0) ===
      (0L until 400L).sum + 11L * 1000000L)
    // unmatched rows of the rewritten group carried over intact
    assert(spark.sql("SELECT v FROM gcat.db.up WHERE k = 120").head.getLong(0) === 120L)
    // the rewrite is one commit, and the pre-update snapshot travels
    assert(spark.sql(s"SELECT sum(v) FROM gcat.db.up VERSION AS OF 5")
      .head.getLong(0) === (0L until 400L).sum)
    // a predicate no file's stats can prune (a match in every
    // original file): the answer stays exact
    spark.sql("UPDATE gcat.db.up SET v = v + 1 WHERE k % 100 = 7")
    assert(spark.sql("SELECT count(*), sum(v) FROM gcat.db.up").head.toSeq ===
      Seq(400L, (0L until 400L).sum + 11L * 1000000L + 4L))
  }

  test("SQL UPDATE compacts prior deletion vectors into the rewrite") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.uc (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.uc SELECT /*+ REPARTITION(1) */ id, id FROM range(0, 100)")
    spark.sql("DELETE FROM gcat.db.uc WHERE k % 10 = 3")
    assert(TxnLog.snapshotState(root("uc")).exists(_._2.dv.isDefined))
    spark.sql("UPDATE gcat.db.uc SET v = 0 WHERE k < 10")
    // the rewrite replaced the DV'd file: vectors gone, deletes kept
    assert(!TxnLog.snapshotState(root("uc")).exists(_._2.dv.isDefined),
      "a rewrite must compact deletion vectors away")
    assert(spark.sql("SELECT count(*) FROM gcat.db.uc").head.getLong(0) === 90L)
    assert(spark.sql("SELECT count(*) FROM gcat.db.uc WHERE k = 3").head.getLong(0) === 0L,
      "a DV'd row must not resurrect through the rewrite")
    assert(spark.sql("SELECT sum(v) FROM gcat.db.uc WHERE k < 10").head.getLong(0) === 0L)
  }

  test("SQL MERGE INTO: matched updates, unmatched inserts, one commit") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.mg (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.mg SELECT id, id * 10 FROM range(0, 50)")
    val v2 = TxnLog.currentVersion(root("mg"))
    spark.range(40, 60).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("mg_src")
    spark.sql(
      """MERGE INTO gcat.db.mg t USING mg_src s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET v = s.v
         WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(TxnLog.currentVersion(root("mg")) === v2 + 1, "MERGE is ONE commit")
    assert(spark.sql("SELECT count(*) FROM gcat.db.mg").head.getLong(0) === 60L)
    assert(spark.sql("SELECT sum(v) FROM gcat.db.mg").head.getLong(0) ===
      (0L until 40L).map(_ * 10).sum + (40L until 60L).map(_ * 100).sum)
    // the merged commit carries stats: a post-merge point read prunes
    assert(spark.sql("SELECT v FROM gcat.db.mg WHERE k = 55").head.getLong(0) === 5500L)
  }

  test("DELETE routes by predicate: functions stay metadata (DV), subqueries take the rewrite") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.dr (k BIGINT, s STRING)")
    spark.sql("INSERT INTO gcat.db.dr SELECT id, repeat('x', CAST(id % 4 AS INT)) FROM range(0, 40)")
    val before = TxnLog.snapshotFiles(root("dr")).toSet
    // a FUNCTION predicate still translates (V2 predicate -> SQL ->
    // expr): deletion vectors, zero files rewritten
    spark.sql("DELETE FROM gcat.db.dr WHERE length(s) >= 3")
    assert(spark.sql("SELECT count(*) FROM gcat.db.dr").head.getLong(0) === 30L)
    assert(TxnLog.snapshotFiles(root("dr")).toSet === before,
      "a translatable DELETE must stay a metadata delete")
    // a SUBQUERY cannot become a connector predicate: the group-based
    // rewrite path deletes by rewriting the affected files
    spark.sql("DELETE FROM gcat.db.dr WHERE k IN (SELECT id FROM range(0, 10))")
    assert(spark.sql("SELECT count(*) FROM gcat.db.dr").head.getLong(0) === 22L,
      "40 - 10 (len>=3) - 8 (k<10 survivors of the first delete) rows must remain")
    assert(TxnLog.snapshotFiles(root("dr")).toSet !== before,
      "a subquery DELETE takes the copy-on-write path")
    assert(spark.sql("SELECT count(*) FROM gcat.db.dr WHERE k < 10").head.getLong(0) === 0L)
  }

  test("clean scans are columnar (vectorized); DV'd scans fall to the row path — both correct") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.cb (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.cb SELECT id, id * 3 FROM range(0, 1000)")
    // AQE inserts ColumnarToRow per stage at execution: run the
    // query, then read the FINAL plan
    def executedPlanOf(sql: String) = {
      val df = spark.sql(sql); df.collect(); df.queryExecution.executedPlan.toString
    }
    assert(executedPlanOf("SELECT sum(v) FROM gcat.db.cb").contains("ColumnarToRow"),
      "a DV-less catalog scan must feed ColumnarBatches to codegen")
    assert(spark.sql("SELECT sum(v) FROM gcat.db.cb").head.getLong(0) ===
      (0L until 1000L).map(_ * 3).sum)
    spark.sql("DELETE FROM gcat.db.cb WHERE k % 4 = 1")
    assert(!executedPlanOf("SELECT sum(v) FROM gcat.db.cb").contains("ColumnarToRow"),
      "a DV'd scan must take the row-filtering path")
    assert(spark.sql("SELECT sum(v) FROM gcat.db.cb").head.getLong(0) ===
      (0L until 1000L).filterNot(_ % 4 == 1).map(_ * 3).sum)
  }

  test("concurrent SQL INSERTs all land through the commit CAS") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.cc (k BIGINT, v BIGINT)")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        try spark.sql(s"INSERT INTO gcat.db.cc SELECT id, id FROM range(${i * 100}, ${i * 100 + 100})")
        catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"appends never conflict, got $errs")
    assert(spark.sql("SELECT count(*) FROM gcat.db.cc").head.getLong(0) === 400L)
    assert(TxnLog.currentVersion(root("cc")) === 5L,
      "create + 4 appends = 5 versions, every CAS loser retried")
  }

  test("racing UPDATEs on the same file: serializable outcome — both apply or one aborts") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.rc (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.rc SELECT /*+ REPARTITION(1) */ id, 0 FROM range(0, 100)")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(1L, 10L).map { add =>
      new Thread(() => {
        gate.await()
        try spark.sql(s"UPDATE gcat.db.rc SET v = v + $add WHERE k < 50")
        catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    val sum = spark.sql("SELECT sum(v) FROM gcat.db.rc").head.getLong(0)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    if (errs.isEmpty)
      assert(sum === 50L * 11L, "both landed -> serial composition")
    else {
      // the loser aborted through the conflict matrix; the winner's
      // effect is intact and NOTHING of the loser published
      assert(errs.size === 1)
      assert(causes(errs.peek).exists(_.isInstanceOf[TxnLog.ConflictException]),
        s"expected a conflict abort, got ${errs.peek}")
      assert(sum === 50L * 1L || sum === 50L * 10L,
        s"exactly one update's effect must survive, sum=$sum")
    }
    assert(spark.sql("SELECT count(*) FROM gcat.db.rc").head.getLong(0) === 100L)
  }

  test("racing merge-on-read UPDATEs: a shared DV target conflicts — no duplicated rows") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.rmor (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.rmor SELECT /*+ REPARTITION(1) */ id, 0 FROM range(0, 100)")
    spark.conf.set("spark.graft.dml.mode", "mor")
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq(1L, 10L).map { add =>
        new Thread(() => {
          gate.await()
          try spark.sql(s"UPDATE gcat.db.rmor SET v = v + $add WHERE k < 50")
          catch { case t: Throwable => errs.add(t); () }
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      // the serializability invariant the r13 matrix could break: two
      // concurrent MOR updates tombstone the original row ONCE (DVs
      // union) and land BOTH post-images — a duplicated row. The
      // DV-overlap-with-adds rule aborts one instead.
      assert(spark.sql("SELECT count(*) FROM gcat.db.rmor").head.getLong(0) === 100L,
        "a lost-update race duplicated rows")
      assert(spark.sql("SELECT count(DISTINCT k) FROM gcat.db.rmor").head.getLong(0) === 100L)
      val sum = spark.sql("SELECT sum(v) FROM gcat.db.rmor").head.getLong(0)
      if (errs.isEmpty) assert(sum === 50L * 11L, "both landed -> serial composition")
      else {
        assert(errs.size === 1)
        assert(causes(errs.peek).exists(_.isInstanceOf[TxnLog.ConflictException]),
          s"expected a conflict abort, got ${errs.peek}")
        assert(sum === 50L * 1L || sum === 50L * 10L,
          s"exactly one update's effect must survive, sum=$sum")
      }
    } finally spark.conf.set("spark.graft.dml.mode", "cow")
  }

  test("merge-on-read UPDATE racing a DV DELETE of the same rows: no resurrection") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.rmd (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.rmd SELECT /*+ REPARTITION(1) */ id, 0 FROM range(0, 100)")
    spark.conf.set("spark.graft.dml.mode", "mor")
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val ops = Seq("UPDATE gcat.db.rmd SET v = 1 WHERE k < 50",
        "DELETE FROM gcat.db.rmd WHERE k < 50")
      val threads = ops.map { stmt =>
        new Thread(() => {
          gate.await()
          try spark.sql(stmt) catch { case t: Throwable => errs.add(t); () }
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      val n = spark.sql("SELECT count(*) FROM gcat.db.rmd").head.getLong(0)
      if (errs.isEmpty)
        // serial either way: the delete's predicate also kills the
        // update's post-images (or the update matched nothing)
        assert(n === 50L, s"serial composition must end deleted, count=$n")
      else {
        assert(errs.size === 1)
        assert(causes(errs.peek).exists(_.isInstanceOf[TxnLog.ConflictException]),
          s"expected a conflict abort, got ${errs.peek}")
        // loser aborted cleanly: either only the delete survives (50)
        // or only the update (100 rows, 50 updated) — never a
        // tombstoned-then-resurrected mix
        val sum = spark.sql("SELECT sum(v) FROM gcat.db.rmd").head.getLong(0)
        assert((n === 50L && sum === 0L) || (n === 100L && sum === 50L),
          s"one op's effect must survive whole, count=$n sum=$sum")
      }
    } finally spark.conf.set("spark.graft.dml.mode", "cow")
  }

  test("the _file metadata column maps every row to its data file") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.mf (k BIGINT, v STRING)")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO gcat.db.mf SELECT /*+ REPARTITION(1) */ id, concat('v', id) " +
        s"FROM range(${i * 10}, ${i * 10 + 10})"))
    val perFile = spark.sql("SELECT _file, count(*) AS n FROM gcat.db.mf GROUP BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(perFile.keySet === TxnLog.snapshotFiles(root("mf")).toSet)
    assert(perFile.values.toSeq === Seq(10L, 10L, 10L))
    // _file composes with data columns and DV filtering
    spark.sql("DELETE FROM gcat.db.mf WHERE k = 15")
    val f15 = spark.sql("SELECT _file FROM gcat.db.mf WHERE k = 16").head.getString(0)
    assert(spark.sql(s"SELECT count(*) FROM gcat.db.mf WHERE _file = '$f15'")
      .head.getLong(0) === 9L)
  }

  test("atomic CTAS and REPLACE TABLE AS SELECT: one visible transition, history intact") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.ct AS SELECT id AS k, id * 2 AS v FROM range(0, 100)")
    assert(TxnLog.currentVersion(root("ct")) === 1L, "CTAS is ONE commit (create+data)")
    assert(spark.sql("SELECT sum(v) FROM gcat.db.ct").head.getLong(0) === 9900L)
    // stats landed: a filtered read prunes (stats present on both cols)
    assert(TxnLog.snapshotState(root("ct")).head._2.stats.keySet === Set("k", "v"))
    val v1 = TxnLog.currentVersion(root("ct"))
    spark.sql("REPLACE TABLE gcat.db.ct AS SELECT id AS k, concat('s', id) AS s FROM range(0, 7)")
    assert(TxnLog.currentVersion(root("ct")) === v1 + 1, "RTAS is ONE commit")
    assert(spark.sql("SELECT count(*) FROM gcat.db.ct").head.getLong(0) === 7L)
    assert(spark.sql("SELECT * FROM gcat.db.ct").columns.toSeq === Seq("k", "s"),
      "REPLACE may change the schema")
    // the pre-replace snapshot still time-travels, old schema and all
    val old = spark.sql(s"SELECT * FROM gcat.db.ct VERSION AS OF $v1")
    assert(old.columns.toSeq === Seq("k", "v"))
    assert(old.count() === 100L)
    // CREATE OR REPLACE on an absent table creates
    spark.sql("CREATE OR REPLACE TABLE gcat.db.ct2 AS SELECT id AS k FROM range(0, 3)")
    assert(spark.sql("SELECT count(*) FROM gcat.db.ct2").head.getLong(0) === 3L)
    // REPLACE replaces the partitioning too: none declared leaves the
    // table unpartitioned (the old partition column is not even in
    // the new schema), a declared one replaces the old
    spark.sql("CREATE TABLE gcat.db.rpp (k BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gcat.db.rpp SELECT id, id % 4 FROM range(0, 40)")
    spark.sql("REPLACE TABLE gcat.db.rpp AS SELECT id AS j FROM range(0, 3)")
    assert(TxnLog.partitionColumns(root("rpp")) === Nil,
      "REPLACE without PARTITIONED BY must not keep the replaced table's partitioning")
    spark.sql("INSERT INTO gcat.db.rpp VALUES (10)")
    assert(spark.sql("SELECT sum(j) FROM gcat.db.rpp").head.getLong(0) === 13L)
    spark.sql("REPLACE TABLE gcat.db.rpp PARTITIONED BY (q) " +
      "AS SELECT id AS j, id % 2 AS q FROM range(0, 4)")
    assert(TxnLog.partitionColumns(root("rpp")) === Seq("q"))
  }

  test("ALTER TABLE ADD/DROP COLUMN: one metadata commit each, zero files touched") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.ac (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.ac SELECT id, id * 2 FROM range(0, 20)")
    val files = TxnLog.snapshotFiles(root("ac")).toSet
    spark.sql("ALTER TABLE gcat.db.ac ADD COLUMN tag STRING")
    assert(TxnLog.snapshotFiles(root("ac")).toSet === files, "ADD COLUMN touches no file")
    assert(spark.sql("SELECT count(*) FROM gcat.db.ac WHERE tag IS NULL").head.getLong(0) === 20L,
      "pre-evolution rows read NULL for the added column")
    spark.sql("INSERT INTO gcat.db.ac VALUES (100, 200, 'new')")
    assert(spark.sql("SELECT k FROM gcat.db.ac WHERE tag = 'new'").head.getLong(0) === 100L)
    // DROP: the column leaves every projection; time travel keeps it
    val vBeforeDrop = TxnLog.currentVersion(root("ac"))
    spark.sql("ALTER TABLE gcat.db.ac DROP COLUMN v")
    assert(spark.sql("SELECT * FROM gcat.db.ac").columns.toSeq === Seq("k", "tag"))
    assert(spark.sql("SELECT count(*) FROM gcat.db.ac").head.getLong(0) === 21L)
    assert(spark.sql(s"SELECT * FROM gcat.db.ac VERSION AS OF $vBeforeDrop").columns.toSeq
      === Seq("k", "v", "tag"), "the pre-drop era still shows the column")
    // inserts after the drop carry the narrowed schema
    spark.sql("INSERT INTO gcat.db.ac VALUES (101, 'post')")
    assert(spark.sql("SELECT count(*) FROM gcat.db.ac").head.getLong(0) === 22L)
    // a non-nullable add is refused
    intercept[Exception] {
      spark.sql("ALTER TABLE gcat.db.ac ADD COLUMN strict BIGINT NOT NULL")
    }
  }

  test("DROP COLUMN then ADD COLUMN of the same name: pre-drop values never resurface") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.readd (k BIGINT, c BIGINT)")
    spark.sql("INSERT INTO gcat.db.readd SELECT id, id * 7 FROM range(0, 20)")
    spark.sql("ALTER TABLE gcat.db.readd DROP COLUMN c")
    spark.sql("ALTER TABLE gcat.db.readd ADD COLUMN c BIGINT")
    // the re-added column binds to a FRESH physical name: the old
    // files' bytes for the dropped `c` stay invisible
    assert(spark.sql("SELECT count(*) FROM gcat.db.readd WHERE c IS NOT NULL")
      .head.getLong(0) === 0L, "pre-drop values resurfaced in the re-added column")
    assert(spark.sql("SELECT count(*) FROM gcat.db.readd").head.getLong(0) === 20L)
    // new writes land under the fresh identity and read back
    spark.sql("INSERT INTO gcat.db.readd VALUES (100, 5)")
    assert(spark.sql("SELECT c FROM gcat.db.readd WHERE k = 100").head.getLong(0) === 5L)
    assert(spark.sql("SELECT count(*) FROM gcat.db.readd WHERE c IS NULL")
      .head.getLong(0) === 20L)
  }

  test("RENAME a->b, DROP b, ADD a: stale mappings cleared, fresh physical identity") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.rda (a BIGINT, k BIGINT)")
    spark.sql("INSERT INTO gcat.db.rda SELECT id * 3, id FROM range(0, 10)")
    spark.sql("ALTER TABLE gcat.db.rda RENAME COLUMN a TO b")
    spark.sql("ALTER TABLE gcat.db.rda DROP COLUMN b")
    assert(TxnLog.columnMapping(root("rda")).isEmpty,
      "dropping a renamed column must clear its mapping entry")
    spark.sql("ALTER TABLE gcat.db.rda ADD COLUMN a BIGINT")
    // `a` was the DROPPED column's physical name: the re-add must not
    // surface the old bytes (NULL for existing rows), and must not be
    // blocked by the retired mapping
    assert(spark.sql("SELECT count(*) FROM gcat.db.rda WHERE a IS NOT NULL")
      .head.getLong(0) === 0L)
    // re-added columns append: the logical order is now (k, a)
    spark.sql("INSERT INTO gcat.db.rda VALUES (100, 42)")
    assert(spark.sql("SELECT a FROM gcat.db.rda WHERE k = 100").head.getLong(0) === 42L)
  }

  test("CREATE TABLE with a CHECK constraint is ONE commit: no unconstrained window") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.atc (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.constraint.pos' = 'k >= 0')")
    assert(TxnLog.currentVersion(root("atc")) === 1L,
      "schema and constraints must publish in one record")
    assert(TxnLog.activeConstraints(root("atc")) === Map("pos" -> "k >= 0"))
    val e = intercept[Exception](
      spark.sql("INSERT INTO gcat.db.atc VALUES (-1, 0)"))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[TxnLog.ConstraintViolationException]))
    // CTAS carries its constraints in the same single commit as data
    spark.sql("CREATE TABLE gcat.db.atc2 " +
      "TBLPROPERTIES ('graft.constraint.cap' = 'v < 100') " +
      "AS SELECT id AS k, id AS v FROM range(0, 10)")
    assert(TxnLog.currentVersion(root("atc2")) === 1L)
    assert(TxnLog.activeConstraints(root("atc2")) === Map("cap" -> "v < 100"))
  }

  test("table roots containing '#' and '%' scan, delete and stream correctly") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.`odd#ns%25`")
    spark.sql("CREATE TABLE gcat.`odd#ns%25`.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gcat.`odd#ns%25`.t SELECT id, concat('v', id) FROM range(0, 50)")
    // V2 scan (GraftScan -> SparkPath): the raw '#'/'%' must
    // percent-encode, not parse as fragment/escape
    assert(spark.sql("SELECT count(*) FROM gcat.`odd#ns%25`.t").head.getLong(0) === 50L)
    // DV'd read: the row-path reader re-resolves the same paths
    spark.sql("DELETE FROM gcat.`odd#ns%25`.t WHERE k % 5 = 0")
    assert(spark.sql("SELECT count(*) FROM gcat.`odd#ns%25`.t").head.getLong(0) === 40L)
    assert(spark.sql("SELECT v FROM gcat.`odd#ns%25`.t WHERE k = 7").head.getString(0) === "v7")
    // HadoopFsRelation path (TxnLogFileIndex builds the FileStatus URIs)
    val tRoot = s"$warehouse/odd#ns%25/t"
    assert(TxnLog.table(spark, tRoot).count() === 40L)
    assert(TxnLog.table(spark, tRoot).where("k = 7").head.getString(1) === "v7")
  }

  test("PARTITIONED BY identity: inserts cluster, partition predicates prune, soundness holds") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.pt (k BIGINT, p BIGINT) PARTITIONED BY (p)")
    // DESCRIBE surfaces the declared partitioning
    val desc = spark.sql("DESCRIBE TABLE gcat.db.pt").collect().map(_.getString(0)).toSeq
    assert(desc.contains("# Partition Information") && desc.count(_ == "p") >= 2,
      s"DESCRIBE must surface the partitioning, got $desc")
    spark.sql("INSERT INTO gcat.db.pt SELECT id, id % 4 FROM range(0, 4000)")
    val state = TxnLog.snapshotState(root("pt"))
    // the insert range-clustered by p: per-file p-ranges collapse to a
    // point or a CONTIGUOUS pair (range-partitioner sampling may merge
    // adjacent values) — never the whole domain
    assert(state.nonEmpty && state.size <= 4)
    assert(state.forall { case (_, m) =>
      val st = m.stats("p"); st.hi - st.lo <= 1L },
      s"per-file p-ranges must be narrow and contiguous: " +
        state.map(_._2.stats("p")).map(st => (st.lo, st.hi)).mkString(","))
    // partition pruning through the ordinary stats machinery: at most
    // one narrow-range neighbor admits p = 2 besides its own file;
    // corrupt every file whose range EXCLUDES 2 — never opened
    val admits = state.filter { case (_, m) =>
      val st = m.stats("p"); st.lo <= 2L && 2L <= st.hi }
    assert(admits.size <= 2, s"pruning must narrow to <=2 files, got ${admits.size}")
    state.filterNot { case (f, _) => admits.exists(_._1 == f) }
      .foreach { case (f, _) => Files.write(Paths.get(f), Array[Byte](1)) }
    assert(spark.sql("SELECT count(*) FROM gcat.db.pt WHERE p = 2").head.getLong(0) === 1000L)
    assert(spark.sql("SELECT sum(k) FROM gcat.db.pt WHERE p = 2").head.getLong(0) ===
      (0L until 4000L).filter(_ % 4 == 2).sum)
    // bucket transforms are ACCEPTED (r15); anything else is rejected
    // loudly
    spark.sql("CREATE TABLE gcat.db.ptb (k BIGINT, p BIGINT) PARTITIONED BY (bucket(4, p))")
    assert(TxnLog.partitionColumns(root("ptb")) === Seq(TxnLog.bucketStatKey(4, "p")))
    val e = intercept[Exception](
      spark.sql("CREATE TABLE gcat.db.ptt (k BIGINT, p BIGINT) PARTITIONED BY (truncate(5, p))"))
    assert(e.getMessage.contains("identity, bucket and years/months/days/hours"))
    // CTAS accepts PARTITIONED BY too
    spark.sql("CREATE TABLE gcat.db.ptc PARTITIONED BY (p) " +
      "AS SELECT id AS k, id % 3 AS p FROM range(0, 300)")
    assert(TxnLog.partitionColumns(root("ptc")) === Seq("p"))
    assert(TxnLog.snapshotState(root("ptc"))
      .forall { case (_, m) => val st = m.stats("p"); st.hi - st.lo <= 1L })
  }

  test("a multi-value file in a partitioned table is never pruned wrongly (soundness)") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.ptm (k BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gcat.db.ptm SELECT id, id % 2 FROM range(0, 100)")
    // a raw-API append that ignores the clustering contract: one file
    // holding BOTH p=7 and p=8 — its range stat [7, 8] keeps it for
    // either predicate (soundness is range-based, never layout-based)
    val df = spark.range(2).selectExpr("id + 700 AS k", "id + 7 AS p").coalesce(1)
    val (files, multi) = TxnLog.stageWithStatsFor(df, root("ptm"), "manual-mv", Seq("k", "p"))
    TxnLog.commit(root("ptm"), "append", files, Nil, readVersion = 0L,
      txnId = "manual-mv", multiStats = multi,
      schemaId = TxnLog.schemaFingerprint(df.schema))
    assert(spark.sql("SELECT k FROM gcat.db.ptm WHERE p = 7").head.getLong(0) === 700L)
    assert(spark.sql("SELECT k FROM gcat.db.ptm WHERE p = 8").head.getLong(0) === 701L)
    assert(spark.sql("SELECT count(*) FROM gcat.db.ptm").head.getLong(0) === 102L)
  }

  test("CALL graft.system.*: every maintenance verb runs from SQL, history intact") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.proc (x BIGINT, y BIGINT)")
    spark.sql("INSERT INTO gcat.db.proc SELECT id, (id * 37) % 1000 FROM range(0, 2000)")
    spark.sql("INSERT INTO gcat.db.proc SELECT id, (id * 41) % 1000 FROM range(2000, 4000)")
    // checkpoint
    val ckv = spark.sql("CALL gcat.system.checkpoint(table => 'db.proc')").head.getLong(0)
    assert(ckv === 3L)
    assert(Files.exists(Paths.get(root("proc"), "_log", f"$ckv%020d.checkpoint")))
    // zorder: one transactional rewrite, stats on both dims
    val zv = spark.sql(
      "CALL gcat.system.optimize_zorder(table => 'db.proc', x_col => 'x', y_col => 'y', n_files => 4)")
      .head.getLong(0)
    assert(zv === 4L)
    assert(TxnLog.snapshotState(root("proc"))
      .forall(_._2.stats.keySet == Set("x", "y")))
    assert(spark.sql("SELECT count(*) FROM gcat.db.proc").head.getLong(0) === 4000L)
    // deletes + compaction
    spark.sql("DELETE FROM gcat.db.proc WHERE x % 2 = 0")
    val comp = spark.sql(
      "CALL gcat.system.compact_deletes(table => 'db.proc', min_deleted_fraction => 0.3)").head
    assert(comp.getLong(0) === 6L && comp.getLong(1) > 0L)
    assert(TxnLog.snapshotState(root("proc")).forall(_._2.dv.isEmpty),
      "compaction folds every vector in")
    assert(spark.sql("SELECT count(*) FROM gcat.db.proc").head.getLong(0) === 2000L)
    // vacuum reclaims pre-compaction files; retained versions intact
    val deleted = spark.sql(
      s"CALL gcat.system.vacuum(table => 'db.proc', retain_from_version => 6)").head.getLong(0)
    assert(deleted > 0L)
    assert(spark.sql("SELECT count(*) FROM gcat.db.proc").head.getLong(0) === 2000L)
    assert(spark.sql("CALL gcat.system.vacuum_staging(table => 'db.proc')").head.getLong(0) >= 0L)
    // the verbs are ordinary commits in the history
    val actions = spark.sql("SELECT action FROM gcat.db.proc.history")
      .collect().map(_.getString(0)).toSeq
    assert(actions.containsSlice(Seq("zorder")) && actions.contains("compact-deletes"))
    // an unknown procedure fails loudly
    val e2 = intercept[Exception](spark.sql("CALL gcat.system.nope(table => 'db.proc')"))
    assert(e2.getMessage.contains("no procedure") || e2.getMessage.contains("nope"))
  }

  test("t.changes and t.deletes: the change feed as SQL with inclusive version bounds") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.cf (k BIGINT, v BIGINT)")                 // v1
    spark.sql("INSERT INTO gcat.db.cf SELECT id, id * 10 FROM range(0, 10)")  // v2
    spark.sql("INSERT INTO gcat.db.cf SELECT id, id * 10 FROM range(10, 20)") // v3
    spark.sql("DELETE FROM gcat.db.cf WHERE k < 5")                           // v4 (DV)
    val ch23 = spark.read.option("startingVersion", 2).option("endingVersion", 3)
      .table("gcat.db.cf.changes")
    assert(ch23.count() === 20L)
    assert(ch23.groupBy("_commit_version").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((2L, 10L), (3L, 10L)))
    assert(spark.read.option("startingVersion", 3).table("gcat.db.cf.changes")
      .count() === 10L)
    // the delete half: pre-images of the killed rows, stamped v4
    val dels = spark.table("gcat.db.cf.deletes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dels === (0L until 5L).map(k => (k, k * 10L, 4L)).toSet)
    // column pruning composes (only the stamp requested)
    assert(spark.read.option("startingVersion", 2).option("endingVersion", 2)
      .table("gcat.db.cf.changes").select("_commit_version").distinct()
      .head.getLong(0) === 2L)
    // adds-minus-retractions equals the live snapshot (mirror algebra)
    val adds = spark.table("gcat.db.cf.changes").select("k", "v")
    val live = adds.exceptAll(spark.table("gcat.db.cf.deletes").select("k", "v"))
    assert(live.collect().map(_.getLong(0)).sorted.toSeq === (5L until 20L).toSeq)
  }

  test("ALTER COLUMN TYPE widens int->bigint, float->double; old generations read and prune") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.wd (k INT, f FLOAT)")
    spark.sql("INSERT INTO gcat.db.wd SELECT /*+ REPARTITION(1) */ " +
      "CAST(id AS INT), CAST(id AS FLOAT) / 2 FROM range(0, 100)")
    spark.sql("ALTER TABLE gcat.db.wd ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE gcat.db.wd ALTER COLUMN f TYPE DOUBLE")
    assert(spark.table("gcat.db.wd").schema.map(_.dataType.simpleString)
      === Seq("bigint", "double"))
    // values beyond int range land in the widened column
    spark.sql("INSERT INTO gcat.db.wd SELECT /*+ REPARTITION(1) */ " +
      "id + 4000000000, 1.5 FROM range(0, 10)")
    assert(spark.sql("SELECT count(*) FROM gcat.db.wd").head.getLong(0) === 110L)
    assert(spark.sql("SELECT sum(k) FROM gcat.db.wd WHERE k >= 4000000000")
      .head.getLong(0) === (0L until 10L).map(_ + 4000000000L).sum)
    // pre-widen files read correctly through the widened schema
    assert(spark.sql("SELECT sum(k) FROM gcat.db.wd WHERE k < 100").head.getLong(0)
      === (0L until 100L).sum)
    assert(spark.sql("SELECT sum(f) FROM gcat.db.wd WHERE f < 50").head.getDouble(0)
      === (0 until 100).map(_.toDouble / 2).sum + 10 * 1.5)
    // pruning soundness ACROSS generations: the int-era stats ("l",
    // long range) serve the widened bigint predicate — corrupt the
    // old file, a predicate only the NEW generation admits still runs
    val oldFile = TxnLog.snapshotState(root("wd"))
      .find(_._2.stats("k").lo == 0L).get._1
    Files.write(Paths.get(oldFile), Array[Byte](1))
    assert(spark.sql("SELECT count(*) FROM gcat.db.wd WHERE k >= 4000000000")
      .head.getLong(0) === 10L, "the pre-widen file must prune on its long-typed stats")
    // narrowing is rejected loudly (Spark's analyzer catches the
    // bigint->int downcast; the catalog's own WIDENING guard backs it
    // up for shapes the analyzer lets through)
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gcat.db.wd ALTER COLUMN k TYPE INT"))
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("WIDENING"))
    assert(!graft.sources.GraftTable.widens(
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType))
  }

  test("CALL analyze records HLL sketches; CBO sees NDV and reorders a 3-table join") {
    warehouse
    // fact(100k rows, fk1 NDV=1000, fk2 NDV=10), mid(1000), tiny(10)
    spark.sql("CREATE TABLE gcat.db.fact AS SELECT id, id % 1000 AS fk1, " +
      "id % 10 AS fk2 FROM range(0, 100000)")
    spark.sql("CREATE TABLE gcat.db.mid AS SELECT id AS k1, id * 2 AS m " +
      "FROM range(0, 1000)")
    spark.sql("CREATE TABLE gcat.db.tiny AS SELECT id AS k2, id * 3 AS t " +
      "FROM range(0, 10)")
    for (t <- Seq("fact", "mid", "tiny"))
      assert(spark.sql(s"CALL gcat.system.analyze(table => 'db.$t')")
        .head.getLong(1) > 0L)
    // the union of per-file sketches reaches Catalyst as distinctCount
    withSQLConf("spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "false") {
      val attrStats = spark.table("gcat.db.fact")
        .queryExecution.optimizedPlan.stats.attributeStats
      val byName = attrStats.map { case (a, cs) => a.name -> cs }
      assert(byName("fk2").distinctCount.exists(n =>
        n.toLong >= 9L && n.toLong <= 11L), s"fk2 NDV off: ${byName.get("fk2")}")
      assert(byName("fk1").distinctCount.exists(n =>
        n.toLong >= 950L && n.toLong <= 1050L))
      assert(byName("id").nullCount.contains(BigInt(0)))
      // join-order pin: with stats the optimizer joins fact with the
      // SMALLER effective side first; the syntactic order puts mid
      // first, the stats-implied order starts from tiny
      val q = spark.sql(
        """SELECT count(*) FROM gcat.db.fact f
           JOIN gcat.db.mid d1 ON f.fk1 = d1.k1
           JOIN gcat.db.tiny d2 ON f.fk2 = d2.k2""")
      val joins = q.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      assert(joins.nonEmpty)
      val innermost = joins.last
      val innerTables = innermost.collectLeaves().map(_.toString).mkString(" ")
      assert(innerTables.contains("tiny"),
        s"CBO must join the low-NDV/small side first, innermost joined: $innerTables")
      assert(q.head.getLong(0) === 100000L)
    }
  }

  test("ANALYZE histogram_bins: a skewed range filter estimates near truth, " +
       "and the join order flips with the histogram present vs absent") {
    warehouse
    // x is SKEWED: 90% of the mass in [0, 10), a thin tail out to ~2000
    spark.sql("CREATE TABLE gcat.db.hsk AS SELECT id AS k, " +
      "CASE WHEN id < 9000 THEN id % 10 ELSE (id - 9000) * 2 + 10 END AS x " +
      "FROM range(0, 10000)")
    // join cardinalities: f JOIN dima keeps 70% of fact (70k); f JOIN
    // hsk-filtered keeps ~90% truly (90k) but ~0.5% under the uniform
    // estimate (~500) — so which join the reorderer runs FIRST hinges
    // exactly on the histogram
    spark.sql("CREATE TABLE gcat.db.hfact AS SELECT id, id % 10000 AS hk, " +
      "id AS ak FROM range(0, 100000)")
    spark.sql("CREATE TABLE gcat.db.dima AS SELECT id AS ka, id AS va " +
      "FROM range(0, 70000)")
    for (t <- Seq("hsk", "hfact", "dima"))
      spark.sql(s"CALL gcat.system.analyze(table => 'db.$t')")
    withSQLConf("spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "false") {
      def est(): BigInt = spark.table("gcat.db.hsk").filter("x < 10")
        .queryExecution.optimizedPlan.stats.rowCount.get
      def innermostTables(): String = {
        val q = spark.sql(
          """SELECT count(*) FROM gcat.db.hfact f
             JOIN gcat.db.dima a ON f.ak = a.ka
             JOIN (SELECT * FROM gcat.db.hsk WHERE x < 10) h ON f.hk = h.k""")
        val joins = q.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
        joins.last.collectLeaves().map(_.toString).mkString(" ")
      }
      // min/max alone: uniform interpolation under-guesses the skewed
      // mass by >10x, and reorder joins the "tiny" filtered hsk first
      val uniform = est()
      assert(uniform < BigInt(900),
        s"uniform estimate must undershoot the skew: $uniform (true 9000)")
      assert(innermostTables().contains("hsk"),
        "without a histogram the filtered skew table looks smallest")
      // the equi-height histogram puts ~90% of bins inside [0, 10):
      // the same filter now estimates within 1.5x of the true count
      spark.sql("CALL gcat.system.analyze(table => 'db.hsk', histogram_bins => 20)")
      val withHist = est()
      assert(withHist >= BigInt(6000) && withHist <= BigInt(13500),
        s"histogram estimate must track the true 9000: $withHist")
      assert(innermostTables().contains("dima"),
        "with the histogram the filtered skew table outweighs dima: " +
          "the join order must flip")
      // ...and the histogram survives a checkpoint round-trip
      spark.sql("CALL gcat.system.checkpoint(table => 'db.hsk')")
      assert(TxnLog.tableHistograms(root("hsk")).get("x")
        .exists(h => h.bins.size === 20 && h.height > 0), "H-line round-trip")
      assert(est() === withHist)
    }
  }

  test("rewrites, ANALYZE and the change feed span type-widening generations " +
       "(era-aware opens; regression for the model-sweep parquet mismatch)") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.wc (k BIGINT, v INT)")
    spark.sql("INSERT INTO gcat.db.wc SELECT id, CAST(id AS INT) FROM range(0, 50)")
    spark.sql("ALTER TABLE gcat.db.wc ALTER COLUMN v TYPE BIGINT")
    spark.sql("INSERT INTO gcat.db.wc SELECT id, id * 2 FROM range(50, 100)")
    val preCompact = TxnLog.currentVersion(root("wc"))
    // compaction folds int32-era and int64-era files into ONE file in
    // the CURRENT era's types — this crashed with
    // PARQUET_COLUMN_DATA_TYPE_MISMATCH before the era-aware open
    val r = spark.sql("CALL gcat.system.compact_files(table => 'db.wc', " +
      "small_mb => 64, target_mb => 64)").head
    assert(r.getLong(1) >= 2L)
    assert(spark.sql("SELECT sum(v) FROM gcat.db.wc").head.getLong(0) ===
      (0L until 50L).sum + (50L until 100L).map(_ * 2).sum)
    // pre-compaction versions still travel through their own era
    assert(spark.sql(s"SELECT count(*) FROM gcat.db.wc VERSION AS OF $preCompact")
      .head.getLong(0) === 100L)
    // ANALYZE with histograms over the compacted cross-era table
    assert(spark.sql("CALL gcat.system.analyze(table => 'db.wc', " +
      "histogram_bins => 8)").head.getLong(1) >= 1L)
    // the change feed crossing the widen boundary reads BOTH eras
    // under the range-end schema (old rows widen, nothing fails)
    val feed = spark.read.option("startingVersion", 1)
      .option("endingVersion", preCompact).table("gcat.db.wc.changes")
    assert(feed.count() === 100L)
    assert(feed.agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) ===
      (0L until 50L).sum + (50L until 100L).map(_ * 2).sum)
  }

  test("CALL refresh_mv: a keyed mirror MV converges to the source across " +
       "updates, deletes, rewrites and replayed refreshes") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.mvsrc (k BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE gcat.db.mvt (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.mvsrc SELECT id, id FROM range(0, 100)")
    def refresh(): Long = spark.sql(
      "CALL gcat.system.refresh_mv(source => 'db.mvsrc', target => 'db.mvt', " +
        "key => 'k')").head.getLong(0)
    def diverged(): Long = spark.sql(
      """SELECT (SELECT count(*) FROM (SELECT * FROM gcat.db.mvsrc
                                       EXCEPT SELECT * FROM gcat.db.mvt)) +
                (SELECT count(*) FROM (SELECT * FROM gcat.db.mvt
                                       EXCEPT SELECT * FROM gcat.db.mvsrc))""")
      .head.getLong(0)
    assert(refresh() >= 1L)
    assert(diverged() === 0L, "after the first refresh the MV IS the source")
    // update in place, delete, rewrite and append — one refresh
    // applies them all incrementally
    spark.sql("UPDATE gcat.db.mvsrc SET v = v * 10 WHERE k % 7 = 0")  // COW rewrite
    spark.sql("DELETE FROM gcat.db.mvsrc WHERE k % 10 = 3")           // DV retraction
    spark.sql("INSERT INTO gcat.db.mvsrc SELECT id, -id FROM range(100, 130)")
    assert(refresh() === 3L, "three unapplied source versions")
    assert(diverged() === 0L, "updates must not duplicate, deletes must retract")
    assert(spark.sql("SELECT count(*) FROM gcat.db.mvt").head.getLong(0) === 120L)
    // a REPLAYED refresh (crash recovery, racing scheduler) applies
    // nothing twice: the offset is the target's own txn ledger
    assert(refresh() === 0L)
    assert(diverged() === 0L)
    // refreshing into a never-created target fails loudly
    val e = intercept[Exception](spark.sql(
      "CALL gcat.system.refresh_mv(source => 'db.mvsrc', target => 'db.nope', " +
        "key => 'k')").collect())
    assert(e.getMessage.contains("no table"))
  }

  test("N-dim z-order: CALL optimize_zorder(cols => 'a,b,c') gives tight 3-dim " +
       "boxes and every dimension prunes") {
    warehouse
    // a 20x20x20 cube, one row per cell: after a 3-dim Morton rewrite
    // into 8 files each file is ~an octant
    spark.sql("CREATE TABLE gcat.db.z3 AS SELECT id, id % 20 AS a, " +
      "(id DIV 20) % 20 AS b, (id DIV 400) % 20 AS c FROM range(0, 8000)")
    // 32 files over 8 octants: interior files dominate, so the
    // assertion is robust to range-sampler boundary jitter (the
    // sampler seeds off the global RDD id — suite-order dependent)
    spark.sql("CALL gcat.system.optimize_zorder(table => 'db.z3', " +
      "cols => 'a,b,c', n_files => 32)")
    val state = TxnLog.snapshotState(root("z3"))
    assert(state.size === 32)
    // every dimension prunes: a half-domain probe must rule out a
    // quarter of the files on EACH dim (a 1-D sort prunes on one dim
    // and zero on the others; files straddling curve seams are kept)
    for (d <- Seq("a", "b", "c"))
      assert(state.count(_._2.stats(d).lo >= 10L) >= 8,
        s"dim $d must prune files for `$d < 10`: " +
          state.map(_._2.stats(d)).map(st => (st.lo, st.hi)).mkString(","))
    // the all-high octant is excluded by each of the three probes:
    // corrupt it — every probe must still answer, proving 3-dim prune
    val victims = state.filter { case (_, m) =>
      Seq("a", "b", "c").forall(d => m.stats(d).lo >= 10L) }
    assert(victims.nonEmpty, "an all-high octant file must exist")
    victims.foreach { case (f, _) => Files.write(Paths.get(f), Array[Byte](7)) }
    for (d <- Seq("a", "b", "c"))
      assert(spark.sql(s"SELECT count(*) FROM gcat.db.z3 WHERE $d < 10")
        .head.getLong(0) === 4000L,
        s"pruning on $d must skip the corrupted all-high octant")
    // the 2-dim spelling keeps working (and rejects mixing with cols)
    intercept[Exception](spark.sql(
      "CALL gcat.system.optimize_zorder(table => 'db.z3', x_col => 'a', " +
        "cols => 'a,b')").collect())
  }

  test("3-dim HILBERT clustering (r18, X-A94): curve => 'hilbert' on cols => 'a,b,c' " +
       "gives tight 3-dim boxes and every dimension prunes") {
    warehouse
    // the same 20x20x20 cube as the Morton twin above — the Skilling
    // d-dim curve must localize octants at least as well
    spark.sql("CREATE TABLE gcat.db.z3h AS SELECT id, id % 20 AS a, " +
      "(id DIV 20) % 20 AS b, (id DIV 400) % 20 AS c FROM range(0, 8000)")
    spark.sql("CALL gcat.system.optimize_zorder(table => 'db.z3h', " +
      "cols => 'a,b,c', n_files => 32, curve => 'hilbert')")
    val state = TxnLog.snapshotState(root("z3h"))
    assert(state.size === 32)
    for (d <- Seq("a", "b", "c"))
      assert(state.count(_._2.stats(d).lo >= 10L) >= 8,
        s"dim $d must prune files for `$d < 10`: " +
          state.map(_._2.stats(d)).map(st => (st.lo, st.hi)).mkString(","))
    // corrupt the all-high octant: every half-domain probe must still
    // answer — proof all three dims prune through the hilbert layout
    val victims = state.filter { case (_, m) =>
      Seq("a", "b", "c").forall(d => m.stats(d).lo >= 10L) }
    assert(victims.nonEmpty, "an all-high octant file must exist")
    victims.foreach { case (f, _) => Files.write(Paths.get(f), Array[Byte](7)) }
    for (d <- Seq("a", "b", "c"))
      assert(spark.sql(s"SELECT count(*) FROM gcat.db.z3h WHERE $d < 10")
        .head.getLong(0) === 4000L,
        s"pruning on $d must skip the corrupted all-high octant")
  }

  test("string clustering keys: CALL optimize_zorder over (tenant STRING, ts) — both dims prune, common prefix stripped") {
    warehouse
    // 40 tenants sharing the 'tenant-0' prefix x 1000 ts values: the
    // r17 embedding strips the corpus-wide common prefix, so the
    // 7-byte window lands on the digits that discriminate
    spark.sql("CREATE TABLE gcat.db.zs AS SELECT id, " +
      "concat('tenant-', lpad(CAST(id % 40 AS STRING), 3, '0')) AS tenant, " +
      "(id * 37) % 1000 AS ts FROM range(0, 8000)")
    spark.sql("CALL gcat.system.optimize_zorder(table => 'db.zs', " +
      "cols => 'tenant,ts', n_files => 16)")
    val state = TxnLog.snapshotState(root("zs"))
    assert(state.size === 16)
    // the string dim must BOUND: at least a quarter of the files have
    // their whole tenant range above the half-domain probe (a layout
    // that collapsed the prefix would leave every file spanning
    // tenant-000..tenant-039)
    def loTenant(m: TxnLog.FileMeta) =
      new String(TxnLog.b64dec(m.stats("tenant").loS),
        java.nio.charset.StandardCharsets.UTF_8)
    assert(state.count(s => loTenant(s._2) >= "tenant-020") >= 4,
      "string dim must bound: " + state.map(s => loTenant(s._2)).sorted.mkString(","))
    // ...and ts must bound too (that's the z-order point)
    assert(state.count(_._2.stats("ts").lo >= 500L) >= 4,
      "ts dim must bound under a string co-dimension")
    // adversarial: corrupt every all-high-tenant file; a tenant-range
    // probe must still answer — string pruning through typed stats
    val victims = state.filter(s => loTenant(s._2) >= "tenant-020")
    victims.foreach { case (f, _) => Files.write(Paths.get(f), Array[Byte](7)) }
    assert(spark.sql("SELECT count(*) FROM gcat.db.zs " +
      "WHERE tenant < 'tenant-020'").head.getLong(0) === 4000L,
      "a string predicate must skip the corrupted high-tenant files")
  }

  test("timestamp-horizon VACUUM: RETAIN n HOURS resolves through monotonized " +
       "commit timestamps; retained versions untouched, pre-horizon travel fails loudly") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.vh (k BIGINT)")                        // v1
    spark.sql("INSERT INTO gcat.db.vh SELECT id FROM range(0, 50)")        // v2
    spark.sql("INSERT OVERWRITE gcat.db.vh SELECT id FROM range(100, 150)") // v3
    spark.sql("INSERT OVERWRITE gcat.db.vh SELECT id FROM range(200, 260)") // v4
    // freeze `now` AT v3's commit stamp: horizon = the snapshot live
    // then = v3, so v2's stranded files go and v3's survive
    val ts3 = TxnLog.commits(root("vh")).find(_.version == 3L).get.ts
    val deleted = TxnLog.vacuumRetainHours(root("vh"), 0.0, nowMillis = ts3)
    assert(deleted.nonEmpty, "v2's overwritten files must reclaim")
    assert(spark.sql("SELECT count(*) FROM gcat.db.vh VERSION AS OF 3")
      .head.getLong(0) === 50L, "the horizon version itself stays readable")
    assert(spark.sql("SELECT count(*) FROM gcat.db.vh").head.getLong(0) === 60L)
    val e = intercept[Exception](
      spark.sql("SELECT count(*) FROM gcat.db.vh VERSION AS OF 2").collect())
    assert(e != null, "pre-horizon travel must fail loudly, not partially")
    // a horizon predating the first commit reclaims nothing
    assert(TxnLog.vacuumRetainHours(root("vh"), 1e6) === Nil)
    // the SQL spelling: retain_hours => 0 reclaims everything dead now
    spark.sql("INSERT OVERWRITE gcat.db.vh SELECT id FROM range(0, 10)")   // v5
    val r = spark.sql(
      "CALL gcat.system.vacuum(table => 'db.vh', retain_hours => 0.0)").head
    assert(r.getLong(0) >= 1L, "v4's files stranded by v5 must reclaim")
    assert(spark.sql("SELECT count(*) FROM gcat.db.vh").head.getLong(0) === 10L)
    // exactly one horizon argument, never zero, never both
    intercept[Exception](
      spark.sql("CALL gcat.system.vacuum(table => 'db.vh')").collect())
    intercept[Exception](spark.sql(
      "CALL gcat.system.vacuum(table => 'db.vh', retain_from_version => 3, " +
        "retain_hours => 1.0)").collect())
  }

  test("histograms canonicalize timestamps and dates; strings are skipped soundly") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.hts AS SELECT " +
      "timestamp_micros(CAST(1700000000000000 + id * 1000000 AS BIGINT)) AS ts, " +
      "date_add(DATE '2024-01-01', CAST(id % 365 AS INT)) AS d, " +
      "concat('s', id) AS s, id AS k FROM range(0, 5000)")
    spark.sql("CALL gcat.system.analyze(table => 'db.hts', histogram_bins => 8)")
    val hists = TxnLog.tableHistograms(root("hts"))
    // timestamps histogram over epoch MICROS, dates over epoch DAYS
    val ts = hists("ts")
    assert(ts.bins.size === 8 && ts.height > 0 &&
      ts.bins.forall(b => b.lo <= b.hi && b.ndv >= 0) &&
      ts.bins.head.lo >= 1.699e15 && ts.bins.last.hi <= 1.71e15, s"ts: $ts")
    val d = hists("d")
    assert(d.bins.size === 8 &&
      d.bins.head.lo >= 19700 && d.bins.last.hi <= 20100, s"d: $d")
    assert(hists.contains("k"))
    assert(!hists.contains("s"), "strings have no double embedding: no histogram")
    // a range predicate on the timestamp estimates through the
    // histogram (uniform data: the estimate tracks the true half)
    withSQLConf("spark.sql.cbo.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "false") {
      val est = spark.table("gcat.db.hts")
        .filter("ts < timestamp_micros(1700002500000000)")
        .queryExecution.optimizedPlan.stats.rowCount.get
      assert(est >= BigInt(1500) && est <= BigInt(3500),
        s"true 2500, got $est")
    }
  }

  test("CALL compact_files bin-packs small files; streaming auto-compact bounds ingest") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.smc (k BIGINT, v BIGINT)")
    (0 until 8).foreach(i => spark.sql(
      s"INSERT INTO gcat.db.smc SELECT /*+ REPARTITION(1) */ id, id * 2 " +
        s"FROM range(${i * 100}, ${i * 100 + 100})"))
    assert(TxnLog.snapshotFiles(root("smc")).size === 8)
    val r = spark.sql(
      "CALL gcat.system.compact_files(table => 'db.smc', small_mb => 1, target_mb => 1)").head
    assert(r.getLong(0) === 10L && r.getLong(1) === 8L)
    assert(TxnLog.snapshotFiles(root("smc")).size === 1,
      "8 tiny files must fold into one")
    assert(spark.sql("SELECT count(*), sum(v) FROM gcat.db.smc").head.toSeq ===
      Seq(800L, (0L until 800L).map(_ * 2).sum))
    // DVs compact in: delete, then compact again folds the vector away
    spark.sql("DELETE FROM gcat.db.smc WHERE k < 100")
    spark.sql("INSERT INTO gcat.db.smc VALUES (9999, 0)")
    spark.sql("CALL gcat.system.compact_files(table => 'db.smc', small_mb => 1, target_mb => 1)")
    assert(TxnLog.snapshotState(root("smc")).forall(_._2.dv.isEmpty))
    assert(spark.sql("SELECT count(*) FROM gcat.db.smc").head.getLong(0) === 701L)

    // streaming: with auto-compact on, a 12-epoch trickle never
    // accumulates 12 small files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE gcat.db.swa (k BIGINT)")
    spark.sql("ALTER TABLE gcat.db.swa SET TBLPROPERTIES (" +
      "'graft.autoCompact.minFiles' = '4', " +
      s"'graft.autoCompact.smallBytes' = '${1024L * 1024}', " +
      s"'graft.autoCompact.targetBytes' = '${1024L * 1024}')")
    val ckpt = Files.createTempDirectory("graft-swa-ckpt").toString
    val in = MemoryStream[Long](spark)
    val q = in.toDF().selectExpr("value AS k")
      .writeStream.option("checkpointLocation", ckpt).toTable("gcat.db.swa")
    try {
      (0 until 12).foreach { i =>
        in.addData(i * 10L until i * 10L + 10L: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(TxnLog.snapshotFiles(root("swa")).size <= 6,
      s"auto-compact must bound the small-file count, got " +
        TxnLog.snapshotFiles(root("swa")).size)
    assert(spark.sql("SELECT count(*), sum(k) FROM gcat.db.swa").head.toSeq ===
      Seq(120L, (0L until 120L).sum), "folding must lose or duplicate nothing")
    assert(spark.sql("SELECT action FROM gcat.db.swa.history")
      .collect().map(_.getString(0)).contains("compact"))
  }

  test("CREATE TABLE / CTAS TBLPROPERTIES persist as table policy (r19)") {
    warehouse
    // CREATE-declared policy behaves exactly like post-create ALTER:
    // constraint spellings land as constraints, everything else as
    // properties, Spark's reserved bookkeeping (provider/owner/...)
    // stays out of the log
    spark.sql("CREATE TABLE gcat.db.ctp (k BIGINT) TBLPROPERTIES " +
      "('graft.autoCompact.minFiles' = '4', 'owner.team' = 'ingest', " +
      "'graft.constraint.pos' = 'k >= 0')")
    assert(TxnLog.tableProperties(root("ctp")) ===
      Map("graft.autoCompact.minFiles" -> "4", "owner.team" -> "ingest"),
      "CREATE-declared properties must take effect (constraints excluded)")
    assert(TxnLog.activeConstraints(root("ctp")).contains("pos"),
      "constraint spellings still land as CHECK constraints, not properties")
    intercept[Exception] {
      spark.sql("INSERT INTO gcat.db.ctp VALUES (-1)")
    }
    // CTAS carries its TBLPROPERTIES too (the staged-commit path)
    spark.sql("CREATE TABLE gcat.db.ctp2 TBLPROPERTIES " +
      "('graft.autoCompact.minFiles' = '8') AS SELECT id AS k FROM range(0, 5)")
    assert(TxnLog.tableProperties(root("ctp2")) ===
      Map("graft.autoCompact.minFiles" -> "8"))
    assert(spark.sql("SELECT count(*) FROM gcat.db.ctp2").head.getLong(0) === 5L)
  }

  test("TBLPROPERTIES are ATOMIC with CREATE and RESET by REPLACE (r20)") {
    warehouse
    // (1) CREATE with properties is ONE commit: the table's first
    // visible version already carries its declared policy — no window
    // where a crash leaves a visible table missing configuration
    spark.sql("CREATE TABLE gcat.db.atp (k BIGINT) TBLPROPERTIES " +
      "('graft.autoCompact.minFiles' = '4', 'owner.team' = 'ingest')")
    assert(TxnLog.currentVersion(root("atp")) === 1L,
      "CREATE + 2 properties must land as exactly one commit")
    assert(TxnLog.tableProperties(root("atp"), version = 1L) ===
      Map("graft.autoCompact.minFiles" -> "4", "owner.team" -> "ingest"),
      "properties must be visible at the create version itself")
    // (2) a property that fails validation (an empty value) fails the
    // WHOLE create — no orphaned, partially-configured table left behind
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.db.atp_bad (k BIGINT) TBLPROPERTIES " +
        "('owner.team' = '')")
    }
    assert(!Files.isDirectory(Paths.get(root("atp_bad"), "_log")),
      "a failed CREATE must leave no table")
    // ...and so does a CHECK constraint that does not parse, on CREATE
    // and on CTAS alike
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.db.atc_bad (v BIGINT) TBLPROPERTIES " +
        "('graft.constraint.bad' = 'v >')")
    }
    assert(!Files.isDirectory(Paths.get(root("atc_bad"), "_log")),
      "a CREATE with an unparseable CHECK must leave no table")
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.db.atc_bad2 TBLPROPERTIES " +
        "('graft.constraint.bad' = 'v >') AS SELECT id AS v FROM range(0, 3)")
    }
    assert(!Files.isDirectory(Paths.get(root("atc_bad2"), "_log")),
      "a CTAS with an unparseable CHECK must leave no table")
    // (3) REPLACE resets configuration wholesale: stale policy from
    // the replaced table never survives onto the new one
    spark.sql("CREATE TABLE gcat.db.rtp TBLPROPERTIES " +
      "('graft.autoCompact.minFiles' = '4', 'stale.policy' = 'old') " +
      "AS SELECT id AS k FROM range(0, 5)")
    spark.sql("REPLACE TABLE gcat.db.rtp TBLPROPERTIES " +
      "('owner.team' = 'core') AS SELECT id AS j FROM range(0, 3)")
    assert(TxnLog.tableProperties(root("rtp")) === Map("owner.team" -> "core"),
      "REPLACE must drop every inherited property and keep only the declared ones")
    // a REPLACE declaring nothing leaves a property-free table
    spark.sql("REPLACE TABLE gcat.db.rtp AS SELECT id AS m FROM range(0, 2)")
    assert(TxnLog.tableProperties(root("rtp")) === Map.empty,
      "REPLACE with no TBLPROPERTIES resets to none")
    // CHECK constraints reset the same way (r20, conReset): a stale
    // CHECK from the replaced table must not keep rejecting writes to
    // the new one — REPLACE declares the whole constraint set
    spark.sql("CREATE TABLE gcat.db.rtc TBLPROPERTIES " +
      "('graft.constraint.pos' = 'k >= 0') AS SELECT id AS k FROM range(0, 3)")
    assert(TxnLog.activeConstraints(root("rtc")).contains("pos"))
    spark.sql("REPLACE TABLE gcat.db.rtc TBLPROPERTIES " +
      "('graft.constraint.small' = 'j < 100') AS SELECT id AS j FROM range(0, 3)")
    assert(TxnLog.activeConstraints(root("rtc")).keySet === Set("small"),
      "REPLACE must drop inherited constraints and keep only the declared ones")
    spark.sql("INSERT INTO gcat.db.rtc VALUES (-5)") // old CHECK is gone
    intercept[Exception] {
      spark.sql("INSERT INTO gcat.db.rtc VALUES (500)") // new CHECK bites
    }
    // (4) a malformed property (an empty value) fails RTAS BEFORE
    // anything stages: the old table stays fully intact, data and
    // properties both
    intercept[Exception] {
      spark.sql("REPLACE TABLE gcat.db.atp TBLPROPERTIES " +
        "('owner.team' = '') AS SELECT id AS z FROM range(0, 1)")
    }
    assert(TxnLog.tableProperties(root("atp")) ===
      Map("graft.autoCompact.minFiles" -> "4", "owner.team" -> "ingest"),
      "a rejected REPLACE must leave the old configuration untouched")
    assert(spark.sql("SELECT * FROM gcat.db.atp").columns.toSeq === Seq("k"),
      "a rejected REPLACE must leave the old schema untouched")
  }

  test("table properties (r18, X-A95): TBLPROPERTIES fold, checkpoint persistence, " +
       "and table-property-driven auto-compact") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.tp (k BIGINT)")
    // set / read back / override / unset — one metadata commit each
    spark.sql("ALTER TABLE gcat.db.tp SET TBLPROPERTIES " +
      "('graft.autoCompact.minFiles' = '4', 'owner.team' = 'ingest')")
    assert(TxnLog.tableProperties(root("tp")) ===
      Map("graft.autoCompact.minFiles" -> "4", "owner.team" -> "ingest"))
    spark.sql("ALTER TABLE gcat.db.tp SET TBLPROPERTIES ('owner.team' = 'core')")
    spark.sql("ALTER TABLE gcat.db.tp UNSET TBLPROPERTIES ('graft.autoCompact.minFiles')")
    assert(TxnLog.tableProperties(root("tp")) === Map("owner.team" -> "core"))
    // DESCRIBE surfaces them
    assert(spark.sql("DESCRIBE TABLE EXTENDED gcat.db.tp")
      .collect().exists(r => r.getString(1).contains("owner.team")))
    // properties survive a checkpoint (the K line)
    spark.sql("INSERT INTO gcat.db.tp SELECT id FROM range(0, 10)")
    TxnLog.checkpoint(root("tp"))
    spark.sql("INSERT INTO gcat.db.tp SELECT id FROM range(10, 20)")
    assert(TxnLog.tableProperties(root("tp")) === Map("owner.team" -> "core"),
      "properties must fold through the checkpoint seed")

    // the POLICY consumer: auto-compact thresholds riding the TABLE,
    // no session conf set — the setting travels with the data
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE gcat.db.swt (k BIGINT)")
    spark.sql("ALTER TABLE gcat.db.swt SET TBLPROPERTIES " +
      "('graft.autoCompact.minFiles' = '4', " +
      "'graft.autoCompact.smallBytes' = '1048576', " +
      "'graft.autoCompact.targetBytes' = '1048576')")
    val ckpt = Files.createTempDirectory("graft-swt-ckpt").toString
    val in = MemoryStream[Long](spark)
    val q = in.toDF().selectExpr("value AS k")
      .writeStream.option("checkpointLocation", ckpt).toTable("gcat.db.swt")
    try {
      (0 until 12).foreach { i =>
        in.addData(i * 10L until i * 10L + 10L: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(TxnLog.snapshotFiles(root("swt")).size <= 6,
      "table-property auto-compact must bound the small-file count, got " +
        TxnLog.snapshotFiles(root("swt")).size)
    assert(spark.sql("SELECT count(*), sum(k) FROM gcat.db.swt").head.toSeq ===
      Seq(120L, (0L until 120L).sum))
    assert(spark.sql("SELECT action FROM gcat.db.swt.history")
      .collect().map(_.getString(0)).contains("compact"))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: delete/update arms in both cow and mor") {
    warehouse
    for ((mode, t) <- Seq(("cow", "nm1"), ("mor", "nm2"))) {
      spark.sql(s"CREATE TABLE gcat.db.$t AS SELECT id AS k, id AS v FROM range(0, 100)")
      spark.conf.set("spark.graft.dml.mode", mode)
      try {
        // source holds 50..149: 50..99 match (update), 100..149 are
        // inserts, 0..49 are target-only -> NOT MATCHED BY SOURCE
        spark.range(50, 150).selectExpr("id AS k", "id * 10 AS v")
          .createOrReplaceTempView(s"nmbs_src_$t")
        spark.sql(
          s"""MERGE INTO gcat.db.$t t USING nmbs_src_$t s ON t.k = s.k
              WHEN MATCHED THEN UPDATE SET v = s.v
              WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
              WHEN NOT MATCHED BY SOURCE AND k < 25 THEN DELETE
              WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1""")
        val got = spark.sql(s"SELECT k, v FROM gcat.db.$t")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val want = ((25L until 50L).map(k => k -> -1L) ++
          (50L until 150L).map(k => k -> k * 10L)).toMap
        assert(got === want, s"mode=$mode diverged")
      } finally spark.conf.set("spark.graft.dml.mode", "cow")
    }
  }

  test("DataFrameWriterV2: writeTo append / overwrite / createOrReplace plan through the catalog") {
    warehouse
    spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v")
      .writeTo("gcat.db.wv2").createOrReplace()
    assert(TxnLog.currentVersion(root("wv2")) === 1L, "createOrReplace is atomic CTAS")
    spark.range(50, 80).selectExpr("id AS k", "id * 2 AS v")
      .writeTo("gcat.db.wv2").append()
    assert(spark.sql("SELECT count(*), sum(v) FROM gcat.db.wv2").head.toSeq ===
      Seq(80L, (0L until 80L).map(_ * 2).sum))
    // truncate-overwrite swaps the live set in one commit
    val v = TxnLog.currentVersion(root("wv2"))
    spark.range(0, 10).selectExpr("id AS k", "id AS v")
      .writeTo("gcat.db.wv2").overwrite(org.apache.spark.sql.functions.lit(true))
    assert(TxnLog.currentVersion(root("wv2")) === v + 1)
    assert(spark.sql("SELECT count(*) FROM gcat.db.wv2").head.getLong(0) === 10L)
    // replace keeps history: the pre-replace snapshot still travels
    assert(spark.sql(s"SELECT count(*) FROM gcat.db.wv2 VERSION AS OF $v")
      .head.getLong(0) === 80L)
  }

  test("two concurrent streaming writers into one table: appends interleave, nothing lost") {
    warehouse
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE gcat.db.sw2 (k BIGINT, src BIGINT)")
    val ins = Seq(1L, 2L).map { srcId =>
      val ckpt = Files.createTempDirectory(s"graft-sw2-$srcId").toString
      val in = MemoryStream[Long](spark)
      val q = in.toDF().selectExpr("value AS k", s"CAST($srcId AS BIGINT) AS src")
        .writeStream.option("checkpointLocation", ckpt).toTable("gcat.db.sw2")
      (srcId, in, q)
    }
    try {
      // interleaved epochs from both queries; each epoch is an
      // append-class commit, so the CAS retries but never conflicts
      (0 until 5).foreach { i =>
        ins.foreach { case (srcId, in, _) =>
          in.addData(srcId * 1000L + i * 10L until srcId * 1000L + i * 10L + 10L: _*)
        }
        ins.foreach(_._3.processAllAvailable())
      }
    } finally ins.foreach(_._3.stop())
    assert(spark.sql("SELECT count(*) FROM gcat.db.sw2").head.getLong(0) === 100L)
    assert(spark.sql("SELECT src, count(*) AS n FROM gcat.db.sw2 GROUP BY src")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 50L), (2L, 50L)))
    // 10 epoch commits landed, distinct query ids in the txn ids
    val txns = TxnLog.commits(root("sw2")).filter(_.action == "stream-append")
      .map(_.txnId)
    assert(txns.size === 10 && txns.map(_.split("-e")(0)).distinct.size === 2)
  }

  test("streaming writes into a PARTITIONED table range-cluster per epoch") {
    warehouse
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE gcat.db.swp (k BIGINT, p BIGINT) PARTITIONED BY (p)")
    val ckpt = Files.createTempDirectory("graft-swp-ckpt").toString
    val in = MemoryStream[Long](spark)
    val q = in.toDF().selectExpr("value AS k", "value % 4 AS p")
      .writeStream.option("checkpointLocation", ckpt).toTable("gcat.db.swp")
    try {
      in.addData(0L until 4000L: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the write's requiredDistribution (ordered on p) reaches the
    // micro-batch plan: per-file p-ranges collapse like batch inserts
    val state = TxnLog.snapshotState(root("swp"))
    assert(state.nonEmpty && state.size <= 4)
    assert(state.forall { case (_, m) =>
      val st = m.stats("p"); st.hi - st.lo <= 1L },
      s"streamed partitioned files must hold narrow contiguous ranges: " +
        state.map(_._2.stats("p")).map(st => (st.lo, st.hi)).mkString(","))
    assert(spark.sql("SELECT count(*) FROM gcat.db.swp WHERE p = 2").head.getLong(0) === 1000L)
  }

  test("a chunked ANALYZE overlays in several commits; NDV unions across chunks") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.anc (k BIGINT)")
    (0 until 5).foreach(i => spark.sql(
      s"INSERT INTO gcat.db.anc SELECT /*+ REPARTITION(1) */ id " +
        s"FROM range(${i * 200}, ${i * 200 + 200})"))
    val v = TxnLog.currentVersion(root("anc"))
    TxnLog.analyzeTable(spark, root("anc"), Seq("k"), "anc-chunked", chunkFiles = 2)
    val analyzed = TxnLog.commits(root("anc")).filter(_.action == "analyze")
    assert(analyzed.size === 3, "5 files at chunk size 2 -> 3 overlay commits")
    assert(analyzed.flatMap(_.restatFiles).toSet ===
      TxnLog.snapshotFiles(root("anc")).toSet)
    // sketches from ALL chunks union into one table NDV
    withSQLConf("spark.sql.cbo.enabled" -> "true") {
      val cs = spark.table("gcat.db.anc").queryExecution.optimizedPlan
        .stats.attributeStats.map { case (a, c) => a.name -> c }
      assert(cs("k").distinctCount.exists(n =>
        n.toLong >= 950L && n.toLong <= 1050L), s"NDV off: ${cs.get("k")}")
    }
    // pre-analyze versions are untouched
    assert(spark.sql(s"SELECT count(*) FROM gcat.db.anc VERSION AS OF $v")
      .head.getLong(0) === 1000L)
  }

  test("metadata tables: SELECT over .history and .files reads only the log") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.meta (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.meta SELECT /*+ REPARTITION(1) */ id, id FROM range(0, 50)")
    spark.sql("DELETE FROM gcat.db.meta WHERE k < 10")
    val hist = spark.sql("SELECT version, action FROM gcat.db.meta.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.toSeq === Seq((1L, "create"), (2L, "append"), (3L, "delete")))
    val files = spark.sql("SELECT path, rows, deleted, stat_cols FROM gcat.db.meta.files")
      .collect()
    assert(files.length === 1)
    assert(files(0).getLong(1) === 50L)
    assert(files(0).getLong(2) === 10L, "deleted = DV popcount")
    assert(files(0).getString(3) === "k,v")
    // metadata tables answer with every DATA file corrupted: log-only
    TxnLog.snapshotFiles(root("meta")).foreach(f =>
      Files.write(Paths.get(f), Array[Byte](0)))
    assert(spark.sql("SELECT count(*) FROM gcat.db.meta.history").head.getLong(0) === 3L)
    assert(spark.sql("SELECT sum(rows) FROM gcat.db.meta.files").head.getLong(0) === 50L)
  }

  test("runtime group filtering narrows a COW rewrite to files that actually hold matches") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.rg (k BIGINT, v BIGINT)")
    // every file's v-range is [0, 99] (static stats admit ALL files
    // for v = 55) but the value 55 exists only in file 2 (k = 255)
    (0 until 4).foreach(i => spark.sql(
      s"""INSERT INTO gcat.db.rg SELECT /*+ REPARTITION(1) */ id,
            CASE WHEN id = 255 THEN 55 WHEN id % 100 = 0 THEN 0 ELSE 99 END
          FROM range(${i * 100}, ${i * 100 + 100})"""))
    val before = TxnLog.snapshotFiles(root("rg")).toSet
    assert(before.size === 4)
    spark.sql("UPDATE gcat.db.rg SET v = -1 WHERE v = 55")
    val after = TxnLog.snapshotFiles(root("rg")).toSet
    assert((before -- after).size === 1,
      s"the runtime matched-file subquery must narrow the rewrite to 1 file, " +
        s"rewrote ${(before -- after).size}")
    assert(spark.sql("SELECT count(*) FROM gcat.db.rg WHERE v = -1").head.getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM gcat.db.rg").head.getLong(0) === 400L)
  }

  test("merge-on-read UPDATE: deletion-vector bits + appended rows, zero files rewritten") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.mor (k BIGINT, v BIGINT)")
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO gcat.db.mor SELECT /*+ REPARTITION(1) */ id, id FROM range(${i * 100}, ${i * 100 + 100})"))
    val before = TxnLog.snapshotFiles(root("mor")).toSet
    withSQLConf("spark.graft.dml.mode" -> "mor") {
      spark.sql("UPDATE gcat.db.mor SET v = v + 1000000 WHERE k % 50 = 7")
    }
    val after = TxnLog.snapshotFiles(root("mor")).toSet
    assert((before -- after).isEmpty, "merge-on-read must rewrite NOTHING")
    assert((after -- before).nonEmpty, "updated rows land in new files")
    val state = TxnLog.snapshotState(root("mor")).toMap
    assert(before.count(f => state(f).dv.isDefined) === 4,
      "each touched file gets deletion-vector bits, not a rewrite")
    assert(spark.sql("SELECT count(*) FROM gcat.db.mor").head.getLong(0) === 400L)
    assert(spark.sql("SELECT sum(v) FROM gcat.db.mor").head.getLong(0) ===
      (0L until 400L).sum + 8L * 1000000L)
    assert(spark.sql("SELECT v FROM gcat.db.mor WHERE k = 107").head.getLong(0) === 1000107L)
    assert(spark.sql("SELECT v FROM gcat.db.mor WHERE k = 108").head.getLong(0) === 108L)
  }

  test("merge-on-read MERGE and subquery DELETE; cow and mor interleave on one table") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.mx (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.mx SELECT id, id * 10 FROM range(0, 50)")
    spark.range(40, 60).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("mx_src")
    val before = TxnLog.snapshotFiles(root("mx")).toSet
    withSQLConf("spark.graft.dml.mode" -> "mor") {
      spark.sql(
        """MERGE INTO gcat.db.mx t USING mx_src s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET v = s.v
           WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    }
    assert((before -- TxnLog.snapshotFiles(root("mx")).toSet).isEmpty,
      "MOR MERGE removes no file")
    assert(spark.sql("SELECT count(*) FROM gcat.db.mx").head.getLong(0) === 60L)
    assert(spark.sql("SELECT sum(v) FROM gcat.db.mx").head.getLong(0) ===
      (0L until 40L).map(_ * 10).sum + (40L until 60L).map(_ * 100).sum)
    // a MOR subquery DELETE stacks more bits on the same vectors
    withSQLConf("spark.graft.dml.mode" -> "mor") {
      spark.sql("DELETE FROM gcat.db.mx WHERE k IN (SELECT id * 2 FROM range(0, 5))")
    }
    assert(spark.sql("SELECT count(*) FROM gcat.db.mx").head.getLong(0) === 55L)
    // ...and a COW update afterwards compacts whatever it touches
    spark.sql("UPDATE gcat.db.mx SET v = 0 WHERE k >= 58")
    assert(spark.sql("SELECT count(*) FROM gcat.db.mx").head.getLong(0) === 55L)
    assert(spark.sql("SELECT sum(v) FROM gcat.db.mx WHERE k >= 58").head.getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM gcat.db.mx WHERE k = 4").head.getLong(0) === 0L,
      "MOR-deleted rows must not resurrect through a COW rewrite")
  }

  test("MOR post-images coalesce: O(advisory-size partitions) files, not O(input tasks)") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.smf (k BIGINT, v BIGINT)")
    // 32 input files -> a scattered UPDATE reads 32 tasks; without the
    // best-effort rebalance each task writes its own 1-row post-image
    spark.sql("INSERT INTO gcat.db.smf SELECT /*+ REPARTITION(32) */ id, 0 FROM range(0, 32000)")
    assert(TxnLog.snapshotFiles(root("smf")).size === 32)
    spark.conf.set("spark.graft.dml.mode", "mor")
    try {
      spark.sql("UPDATE gcat.db.smf SET v = 1 WHERE k % 100 = 7")
      val c = TxnLog.commits(root("smf")).last
      assert(c.action === "mor-update")
      assert(c.dvFiles.size === 32, "every input file holds tombstoned rows")
      assert(c.added.size <= 4,
        s"320 scattered post-image rows over 32 tasks must coalesce, got ${c.added.size}")
      assert(spark.sql("SELECT count(*), sum(v) FROM gcat.db.smf").head.toSeq ===
        Seq(32000L, 320L))
    } finally spark.conf.set("spark.graft.dml.mode", "cow")
  }

  test("SELECT _pos exposes the DV coordinate; stable under deletes") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.ps (k BIGINT)")
    spark.sql("INSERT INTO gcat.db.ps SELECT /*+ REPARTITION(1) */ id FROM range(0, 20)")
    def positions() = spark.sql("SELECT k, _pos FROM gcat.db.ps")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val before = positions()
    assert(before.values.toSeq.sorted === (0L until 20L), "one file: _pos is dense 0..19")
    spark.sql("DELETE FROM gcat.db.ps WHERE k < 5")
    assert(positions() === before.filter(_._1 >= 5L),
      "surviving rows keep their PHYSICAL position under a DV delete")
  }

  test("maintenance composes: optimizeCompactDeletes folds SQL-made vectors into clean files") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.mt (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcat.db.mt SELECT /*+ REPARTITION(1) */ id, id FROM range(0, 100)")
    spark.sql("DELETE FROM gcat.db.mt WHERE k % 10 < 6") // 60% dead
    val tRoot = root("mt")
    assert(TxnLog.compactionCandidates(tRoot, 0.5).nonEmpty,
      "metadata-only density selection must flag the 60%-dead file")
    val vBefore = TxnLog.currentVersion(tRoot)
    val before = TxnLog.snapshotFiles(tRoot).toSet
    assert(TxnLog.optimizeCompactDeletes(spark, tRoot, 0.5, "oc-sql").isDefined)
    assert(TxnLog.snapshotFiles(tRoot).toSet !== before, "the dense file was rewritten")
    assert(!TxnLog.snapshotState(tRoot).exists(_._2.dv.isDefined), "vectors cleared")
    // the SQL surface sees the same content before and after
    assert(spark.sql("SELECT count(*) FROM gcat.db.mt").head.getLong(0) === 40L)
    assert(spark.sql("SELECT sum(v) FROM gcat.db.mt").head.getLong(0) ===
      (0L until 100L).filter(_ % 10 >= 6).sum)
    // ...and time travel UNDER the compaction still applies the vectors
    assert(spark.sql(s"SELECT count(*) FROM gcat.db.mt VERSION AS OF $vBefore")
      .head.getLong(0) === 40L)
    // post-compaction scans are columnar again (no vectors left)
    val df = spark.sql("SELECT sum(v) FROM gcat.db.mt"); df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a compacted table goes back to the vectorized path")
  }

  test("writeStream.toTable lands exactly-once across a checkpoint restart") {
    warehouse
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE gcat.db.sw (k BIGINT, v BIGINT)")
    val ckpt = Files.createTempDirectory("graft-sw-ckpt").toString
    val in = MemoryStream[Long](spark)
    def start() = in.toDF().selectExpr("value AS k", "value * 2 AS v")
      .writeStream.option("checkpointLocation", ckpt).toTable("gcat.db.sw")
    val q1 = start()
    try {
      in.addData(0L until 10L: _*)
      q1.processAllAvailable()
      in.addData(10L until 20L: _*)
      q1.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM gcat.db.sw").head.getLong(0) === 20L)
    } finally q1.stop()
    // stream-written files carry typed stats like batch-written ones
    assert(TxnLog.snapshotState(root("sw")).forall(_._2.stats.keySet == Set("k", "v")))
    // force an epoch REPLAY: drop the sink-side commit marker of the
    // last batch — on restart Structured Streaming re-runs it, and
    // the (queryId, epochId) txnId must resolve to the existing
    // commit instead of appending twice
    val commitFiles = Files.list(Paths.get(ckpt, "commits"))
    val lastCommit = try {
      import scala.jdk.CollectionConverters._
      commitFiles.iterator().asScala.toSeq
        .filter(_.getFileName.toString.matches("\\d+")).maxBy(_.getFileName.toString.toLong)
    } finally commitFiles.close()
    Files.delete(lastCommit)
    // the sidecar checksum must go with it or the re-write is blocked
    Files.deleteIfExists(lastCommit.getParent.resolve(
      "." + lastCommit.getFileName.toString + ".crc"))
    val vBefore = TxnLog.currentVersion(root("sw"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM gcat.db.sw").head.getLong(0) === 20L,
        "the replayed epoch must dedup through the txn ledger")
      assert(TxnLog.currentVersion(root("sw")) === vBefore,
        "a replayed epoch publishes no new commit")
      // and the stream keeps going after the replay
      in.addData(100L, 101L)
      q2.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM gcat.db.sw").head.getLong(0) === 22L)
    } finally q2.stop()
    // ledger reads back exactly the stream's rows
    assert(spark.sql("SELECT sum(k), sum(v) FROM gcat.db.sw").head.toSeq ===
      Seq(((0L until 20L) ++ Seq(100L, 101L)).sum,
        ((0L until 20L) ++ Seq(100L, 101L)).map(_ * 2).sum))
  }

  test("a CHECK constraint rejects a violating micro-batch: the epoch publishes nothing") {
    warehouse
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE gcat.db.swc (k BIGINT) " +
      "TBLPROPERTIES ('graft.constraint.pos' = 'k >= 0')")
    val ckpt = Files.createTempDirectory("graft-swc-ckpt").toString
    val in = MemoryStream[Long](spark)
    val q = in.toDF().selectExpr("value AS k")
      .writeStream.option("checkpointLocation", ckpt).toTable("gcat.db.swc")
    try {
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM gcat.db.swc").head.getLong(0) === 3L)
      val v = TxnLog.currentVersion(root("swc"))
      in.addData(4L, -1L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(_.isInstanceOf[TxnLog.ConstraintViolationException]))
      assert(TxnLog.currentVersion(root("swc")) === v, "nothing may publish")
      assert(spark.sql("SELECT count(*) FROM gcat.db.swc").head.getLong(0) === 3L)
    } finally q.stop()
  }

  test("exactly-once relay: readStream.table -> writeStream.toTable composes end to end") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.relsrc (k BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE gcat.db.reldst (k BIGINT, v BIGINT)")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO gcat.db.relsrc SELECT id, id * 3 FROM range(${i * 100}, ${i * 100 + 100})"))
    val ckpt = Files.createTempDirectory("graft-rel-ckpt").toString
    def relay() = spark.readStream.option("maxVersionsPerTrigger", "1")
      .table("gcat.db.relsrc")
      .writeStream.option("checkpointLocation", ckpt).toTable("gcat.db.reldst")
    val q = relay()
    try { q.processAllAvailable() } finally q.stop()
    // restart picks up live source commits, no duplicates
    spark.sql("INSERT INTO gcat.db.relsrc VALUES (900, 2700)")
    val q2 = relay()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(spark.sql(
      "SELECT count(*) FROM (SELECT * FROM gcat.db.relsrc EXCEPT SELECT * FROM gcat.db.reldst)")
      .head.getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM gcat.db.reldst").head.getLong(0) === 301L,
      "relay must be exactly-once: every source row once, none twice")
  }

  test("readStream.table drains the change feed to the snapshot through the catalog") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.sr (k BIGINT, v BIGINT)")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO gcat.db.sr SELECT id, id * 2 FROM range(${i * 10}, ${i * 10 + 10})"))
    val q = spark.readStream
      .option("maxVersionsPerTrigger", "1")
      .table("gcat.db.sr")
      .writeStream.format("memory").queryName("cat_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cat_stream").count() === 30L)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "1 version per trigger over 3 inserts must take >=3 micro-batches")
      // a live commit is picked up
      spark.sql("INSERT INTO gcat.db.sr VALUES (999, 1998)")
      q.processAllAvailable()
      assert(spark.table("cat_stream").count() === 31L)
      assert(spark.table("cat_stream").columns.toSeq === Seq("k", "v"),
        "the catalog stream emits the table's own schema, un-stamped")
    } finally q.stop()
  }

  test("complete-mode streaming aggregate: one stream-replace per epoch, " +
       "restart converges to the batch answer, every epoch travels") {
    warehouse
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{count, lit}
    spark.sql("CREATE TABLE gcat.db.cm (k BIGINT, n BIGINT)")
    val ckpt = Files.createTempDirectory("graft-cm-ckpt").toString
    val in = MemoryStream[Long](spark)
    def start() = in.toDF().selectExpr("value % 3 AS k").groupBy("k")
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt).toTable("gcat.db.cm")
    def tableNow(): Map[Long, Long] = spark.sql("SELECT k, n FROM gcat.db.cm")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val q1 = start()
    try {
      in.addData(0L until 10L: _*)
      q1.processAllAvailable()
      // epoch 0 (v2): counts of 0..9 by k%3
      assert(tableNow() === Map(0L -> 4L, 1L -> 3L, 2L -> 3L))
      in.addData(10L until 30L: _*)
      q1.processAllAvailable()
      assert(tableNow() === Map(0L -> 10L, 1L -> 10L, 2L -> 10L),
        "the table IS the aggregate — not an accumulation of epochs")
    } finally q1.stop()
    // restart from the checkpoint: state recovers, more data lands,
    // the final table equals the batch aggregate over ALL input
    val q2 = start()
    try {
      in.addData(30L until 37L: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(tableNow() === Map(0L -> 13L, 1L -> 12L, 2L -> 12L),
      "post-restart the materialized aggregate must equal the batch answer")
    // ledger: every data epoch is exactly ONE stream-replace commit
    // keyed stream-<queryId>-e<epoch>; time travel keeps each epoch
    val cs = TxnLog.commits(root("cm")).filter(_.action == "stream-replace")
    assert(cs.size === 3, s"3 data epochs -> 3 replace commits, got ${cs.size}")
    assert(cs.map(_.txnId).distinct.size === 3 &&
      cs.forall(_.txnId.startsWith("stream-")))
    // two query runs over one checkpoint share the STABLE query id
    assert(cs.map(_.txnId.split("-e")(0)).distinct.size === 1,
      "queryId must be checkpoint-stable across restarts")
    val v2 = cs.head.version
    assert(spark.sql(s"SELECT k, n FROM gcat.db.cm VERSION AS OF $v2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap ===
      Map(0L -> 4L, 1L -> 3L, 2L -> 3L),
      "each epoch's aggregate must stay time-travelable")
    // each replace removed the previous epoch's whole live set
    assert(cs.tail.forall(_.removed.nonEmpty))
  }

  test("one stat decision: every SQL and streaming write path records " +
       "statPaths(schema) plus bucket(N;c) on each file it adds") {
    warehouse
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    def rows(lo: Long, hi: Long): String =
      s"SELECT id AS k, id * 2 AS v, concat('s', id) AS s, " +
        s"named_struct('x', id) AS n FROM range($lo, $hi)"
    spark.sql(s"CREATE TABLE gcat.db.sd PARTITIONED BY (bucket(4, k)) AS ${rows(0, 40)}")
    val r = root("sd")
    val want = GraftTable.statPaths(TxnLog.tableSchema(r).get) :+
      TxnLog.bucketStatKey(4, "k")
    assert(want.toSet === Set("k", "v", "s", "n.x", "bucket(4;k)"))
    /** Every file a write path added records exactly `want`. */
    def check(path: String, before: Set[String]): Unit = {
      val added = TxnLog.snapshotState(r).filterNot { case (f, _) => before(f) }
      assert(added.nonEmpty, s"$path added no file")
      added.foreach { case (f, m) =>
        assert(m.stats.keySet === want.toSet, s"$path: $f recorded ${m.stats.keySet}")
      }
    }
    def addedBy(path: String)(op: => Unit): Unit = {
      val before = TxnLog.snapshotFiles(r).toSet
      op
      check(path, before)
    }
    check("ctas", Set.empty)
    addedBy("insert")(spark.sql(s"INSERT INTO gcat.db.sd ${rows(40, 80)}"))
    addedBy("stream") {
      val ckpt = Files.createTempDirectory("graft-sd-ckpt").toString
      val in = MemoryStream[Long](spark)
      val q = in.toDF().selectExpr("value AS k", "value * 2 AS v",
          "concat('s', value) AS s", "named_struct('x', value) AS n")
        .writeStream.option("checkpointLocation", ckpt).toTable("gcat.db.sd")
      try { in.addData(80L until 100L: _*); q.processAllAvailable() }
      finally q.stop()
    }
    Seq("cow", "mor").foreach { mode =>
      withSQLConf("spark.graft.dml.mode" -> mode) {
        addedBy(s"$mode update")(spark.sql("UPDATE gcat.db.sd SET v = v + 1 WHERE k % 7 = 3"))
        addedBy(s"$mode merge")(spark.sql(
          s"MERGE INTO gcat.db.sd t USING (${rows(95, 110)}) src ON t.k = src.k " +
            "WHEN MATCHED THEN UPDATE SET v = src.v + 5 " +
            "WHEN NOT MATCHED THEN INSERT *"))
      }
    }
    addedBy("replace-where")(spark.sql(rows(200, 230)).writeTo("gcat.db.sd")
      .overwrite(col("k") >= 200))
    assert(spark.sql("SELECT count(*) FROM gcat.db.sd").head.getLong(0) === 140L)
  }

  test("PARTITIONED BY bucket(n, c): equality prunes to ONE bucket; " +
       "wide or unstatted files are never wrongly pruned") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.bk (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gcat.db.bk SELECT id, concat('v', id) FROM range(0, 400)")
    // DESCRIBE surfaces the transform
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val part = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "bk")).partitioning.map(_.describe).toSeq
    assert(part === Seq("bucket(4, k)"), s"got $part")
    // the writer clustered by bucket id: every file's bucket stat is
    // a POINT, and all 4 buckets exist
    val key = TxnLog.bucketStatKey(4, "k")
    val state = TxnLog.snapshotState(root("bk"))
    assert(state.nonEmpty && state.forall { case (_, m) =>
      val st = m.stats(key); st.typ == "l" && st.lo == st.hi })
    assert(state.map(_._2.stats(key).lo).toSet === Set(0L, 1L, 2L, 3L))
    // corrupt every file outside k=123's bucket: the probe must still
    // answer, proving out-of-bucket files are never opened
    val b123 = TxnLog.bucketOf(123L,
      org.apache.spark.sql.types.LongType, 4).get.toLong
    val victims = state.filterNot { case (_, m) =>
      val st = m.stats(key); st.lo <= b123 && b123 <= st.hi }
    assert(victims.nonEmpty, "4 buckets must spread across files")
    victims.foreach { case (f, _) => Files.write(Paths.get(f), Array[Byte](9)) }
    assert(spark.sql("SELECT v FROM gcat.db.bk WHERE k = 123").head.getString(0)
      === "v123")
    assert(spark.sql("SELECT count(*) FROM gcat.db.bk WHERE k IN (123)")
      .head.getLong(0) === 1L)
  }

  test("bucket pruning soundness: a hand-committed file SPANNING buckets is kept") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.bks (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    // stage an UNCLUSTERED file (all buckets in one file) through the
    // raw API — its bucket stat records the WIDE range, not a point
    val df = spark.range(0, 100).selectExpr("id AS k", "concat('w', id) AS v")
      .repartition(1)
    val (files, multi) = TxnLog.stageWithStatsFor(df, root("bks"),
      "hand-wide", Seq("k", "v"), buckets = Seq((4, "k")))
    TxnLog.commit(root("bks"), "append", files, Nil, readVersion = 0L,
      txnId = "hand-wide", multiStats = multi)
    val key = TxnLog.bucketStatKey(4, "k")
    val st = TxnLog.snapshotState(root("bks")).head._2.stats(key)
    assert(st.lo === 0L && st.hi === 3L, "unclustered file must record a wide range")
    // every probe into the wide file resolves — never wrongly pruned
    assert(spark.sql("SELECT v FROM gcat.db.bks WHERE k = 57").head.getString(0)
      === "w57")
    // ...and a file with NO bucket stat at all is also kept
    val (f2, m2) = TxnLog.stageWithStatsFor(
      spark.range(1000, 1010).selectExpr("id AS k", "concat('n', id) AS v"),
      root("bks"), "hand-nostat", Seq("k", "v"))
    TxnLog.commit(root("bks"), "append", f2, Nil, readVersion = 0L,
      txnId = "hand-nostat", multiStats = m2)
    assert(spark.sql("SELECT v FROM gcat.db.bks WHERE k = 1005").head.getString(0)
      === "n1005")
  }

  test("streamed appends into a bucketed table stay SOUND (wide bucket stats); " +
       "compaction re-derives exact bucket clustering") {
    warehouse
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE gcat.db.bkst (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    val ckpt = Files.createTempDirectory("graft-bkst-ckpt").toString
    val in = MemoryStream[Long](spark)
    val q = in.toDF().selectExpr("value AS k", "value * 2 AS v")
      .writeStream.option("checkpointLocation", ckpt).toTable("gcat.db.bkst")
    try {
      (0 until 3).foreach { i =>
        in.addData(i * 100L until i * 100L + 100L: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val key = TxnLog.bucketStatKey(4, "k")
    // the streaming path declares no bucket distribution: files carry
    // the WIDE range — kept for every probe, never wrongly pruned
    val streamed = TxnLog.snapshotState(root("bkst"))
    assert(streamed.forall(_._2.stats.contains(key)))
    assert(spark.sql("SELECT v FROM gcat.db.bkst WHERE k = 123").head.getLong(0)
      === 246L)
    // CALL compact_files re-clusters by the declared partitioning:
    // bucket stats collapse to points and equality pruning turns on
    spark.sql("CALL gcat.system.compact_files(table => 'db.bkst', " +
      "small_mb => 64, target_mb => 64)")
    val compacted = TxnLog.snapshotState(root("bkst"))
    assert(compacted.size === 4 && compacted.forall { case (_, m) =>
      val st = m.stats(key); st.lo == st.hi },
      "the fold must hash-route every row to its own bucket's file")
    val b = TxnLog.bucketOf(123L, org.apache.spark.sql.types.LongType, 4).get.toLong
    compacted.filterNot { case (_, m) =>
      val st = m.stats(key); st.lo <= b && b <= st.hi }
      .foreach { case (f, _) => Files.write(Paths.get(f), Array[Byte](3)) }
    assert(spark.sql("SELECT v FROM gcat.db.bkst WHERE k = 123").head.getLong(0)
      === 246L, "post-compaction probes read one bucket")
    // an IN-list inside the surviving bucket also answers
    val k2 = (0L until 300L).find(x => x != 123L && TxnLog.bucketOf(x,
      org.apache.spark.sql.types.LongType, 4).get.toLong == b).get
    assert(spark.sql(s"SELECT count(*) FROM gcat.db.bkst WHERE k IN (123, $k2)")
      .head.getLong(0) === 2L)
  }

  test("storage-partitioned join: two co-bucketed tables join with NO shuffle " +
       "on either side; a plain table still shuffles") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.spj1 (k BIGINT, a BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE gcat.db.spj2 (k BIGINT, b BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE gcat.db.spjp (k BIGINT, c BIGINT)")
    spark.sql("INSERT INTO gcat.db.spj1 SELECT id, id * 2 FROM range(0, 1000)")
    spark.sql("INSERT INTO gcat.db.spj2 SELECT id, id * 3 FROM range(500, 1500)")
    spark.sql("INSERT INTO gcat.db.spjp SELECT id, id * 5 FROM range(0, 1000)")
    // shuffles UNDER the join (the final scalar aggregate's
    // SinglePartition exchange is unrelated to co-location)
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.size
    withSQLConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val q = spark.sql(
        """SELECT sum(t1.a + t2.b) AS s, count(*) AS n
           FROM gcat.db.spj1 t1 JOIN gcat.db.spj2 t2 ON t1.k = t2.k""")
      assert(shuffles(q) === 0,
        s"co-bucketed join must be shuffle-FREE:\n${q.queryExecution.executedPlan}")
      assert(q.head.toSeq === Seq((500L until 1000L).map(k => k * 2 + k * 3).sum, 500L),
        "the shuffle-free join must still be CORRECT")
      // the un-bucketed side forces ordinary shuffles
      val qp = spark.sql(
        """SELECT count(*) AS n
           FROM gcat.db.spj1 t1 JOIN gcat.db.spjp tp ON t1.k = tp.k""")
      assert(shuffles(qp) >= 1, "a plain side cannot co-locate")
      assert(qp.head.getLong(0) === 1000L)
    }
    // with the switch OFF the same join shuffles — and stays correct
    withSQLConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val q = spark.sql(
        """SELECT count(*) AS n
           FROM gcat.db.spj1 t1 JOIN gcat.db.spj2 t2 ON t1.k = t2.k""")
      assert(shuffles(q) >= 1)
      assert(q.head.getLong(0) === 500L)
    }
  }

  test("storage-partitioned join composes with deletion vectors: still " +
       "shuffle-free, deleted rows stay dead") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.spjd1 (k BIGINT, a BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE gcat.db.spjd2 (k BIGINT, b BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gcat.db.spjd1 SELECT id, id FROM range(0, 1000)")
    spark.sql("INSERT INTO gcat.db.spjd2 SELECT id, id FROM range(0, 1000)")
    // a DV delete on one side: files keep their bytes AND their point
    // bucket stats, so the key-grouped report must survive
    spark.sql("DELETE FROM gcat.db.spjd1 WHERE k % 10 = 3")
    assert(TxnLog.snapshotState(root("spjd1")).exists(_._2.dv.nonEmpty),
      "the delete must be a deletion vector, not a rewrite")
    withSQLConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val q = spark.sql(
        """SELECT count(*) AS n FROM gcat.db.spjd1 t1
           JOIN gcat.db.spjd2 t2 ON t1.k = t2.k""")
      val smj = q.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(smj.nonEmpty)
      assert(smj.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.isEmpty, s"DV'd buckets must still co-locate:\n${q.queryExecution.executedPlan}")
      assert(q.head.getLong(0) === 900L,
        "deleted rows must not resurface through the bucket partitions")
    }
  }

  test("SPJ with COMPATIBLE bucket counts: bucket(8) joins bucket(4) shuffle-free " +
       "through the reducer; non-divisible counts degrade soundly to shuffle") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.spc8 (k BIGINT, a BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE gcat.db.spc4 (k BIGINT, b BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE gcat.db.spc3 (k BIGINT, c BIGINT) " +
      "PARTITIONED BY (bucket(3, k))")
    spark.sql("INSERT INTO gcat.db.spc8 SELECT id, id * 2 FROM range(0, 1000)")
    spark.sql("INSERT INTO gcat.db.spc4 SELECT id, id * 3 FROM range(500, 1500)")
    spark.sql("INSERT INTO gcat.db.spc3 SELECT id, id * 5 FROM range(0, 1000)")
    def shuffles(q: org.apache.spark.sql.DataFrame): Int =
      q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.size
    withSQLConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      // 8 % 4 == 0: the fine side's groups fold pairwise (id % 4)
      // into the coarse side's — ZERO shuffles UNDER THE JOIN (the
      // global aggregate above it legitimately gathers), exact answer
      val q = spark.sql(
        """SELECT sum(t1.a + t2.b) AS s, count(*) AS n
           FROM gcat.db.spc8 t1 JOIN gcat.db.spc4 t2 ON t1.k = t2.k""")
      val smj = q.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected SMJ:\n${q.queryExecution.executedPlan}")
      assert(smj.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.isEmpty,
        s"compatible-count join must be shuffle-FREE:\n${q.queryExecution.executedPlan}")
      assert(q.head.toSeq === Seq((500L until 1000L).map(k => k * 2 + k * 3).sum, 500L),
        "the reduced join must still be CORRECT")
      // 8 % 3 != 0: no reducer — sound fallback to an ordinary shuffle
      val q3 = spark.sql(
        """SELECT count(*) AS n
           FROM gcat.db.spc8 t1 JOIN gcat.db.spc3 t3 ON t1.k = t3.k""")
      assert(shuffles(q3) >= 1, "non-divisible bucket counts cannot co-locate")
      assert(q3.head.getLong(0) === 1000L)
    }
    // reducer disabled (compatible-transforms off): still correct,
    // just shuffled
    withSQLConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val q = spark.sql(
        """SELECT count(*) AS n
           FROM gcat.db.spc8 t1 JOIN gcat.db.spc4 t2 ON t1.k = t2.k""")
      assert(shuffles(q) >= 1)
      assert(q.head.getLong(0) === 500L)
    }
  }

  test("SPJ under partially-clustered distribution: a skewed co-bucketed join stays correct") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.skw1 (k BIGINT, a BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE gcat.db.skw2 (k BIGINT, b BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // one HOT key carries 50k rows on the probe side (classic skew);
    // the build side is uniform
    spark.sql("INSERT INTO gcat.db.skw1 " +
      "SELECT IF(id < 50000, 7, id), id FROM range(0, 60000)")
    spark.sql("INSERT INTO gcat.db.skw2 SELECT id, id * 2 FROM range(0, 100)")
    withSQLConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val q = spark.sql(
        """SELECT count(*) AS n, sum(t1.a + t2.b) AS s
           FROM gcat.db.skw1 t1 JOIN gcat.db.skw2 t2 ON t1.k = t2.k""")
      val row = q.head
      // hot key 7 matches (50k rows x 1) + ids 50000..59999 match none
      // except... every t1.k in [50000,60000) has no t2 match; t1 also
      // holds NO plain ids < 100 except the hot 7
      assert(row.getLong(0) === 50000L)
      assert(row.getLong(1) === (0L until 50000L).map(_ + 14L).sum)
    }
  }

  test("bucket pruning survives ALTER COLUMN TYPE widening: canonical hashing " +
       "keeps int-era and bigint-era buckets aligned") {
    warehouse
    spark.sql("CREATE TABLE gcat.db.bkw (k INT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gcat.db.bkw SELECT CAST(id AS INT), concat('a', id) " +
      "FROM range(0, 200)")
    spark.sql("ALTER TABLE gcat.db.bkw ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO gcat.db.bkw SELECT id, concat('b', id) FROM range(200, 400)")
    val key = TxnLog.bucketStatKey(4, "k")
    val state = TxnLog.snapshotState(root("bkw"))
    assert(state.forall(_._2.stats.contains(key)))
    // corrupt everything outside k=57's bucket — files of BOTH eras
    // whose bucket admits 57 must survive, and the probe answers from
    // the int-era file (the long literal hashes to the same bucket)
    val b = TxnLog.bucketOf(57L, org.apache.spark.sql.types.LongType, 4).get.toLong
    val victims = state.filterNot { case (_, m) =>
      val st = m.stats(key); st.lo <= b && b <= st.hi }
    assert(victims.nonEmpty)
    victims.foreach { case (f, _) => Files.write(Paths.get(f), Array[Byte](9)) }
    assert(spark.sql("SELECT v FROM gcat.db.bkw WHERE k = 57").head.getString(0)
      === "a57")
    // a bigint-era key from the SAME bucket also answers: both eras
    // keep their bucket alignment under the canonical hash
    val k2 = (200L until 400L).find(x => TxnLog.bucketOf(x,
      org.apache.spark.sql.types.LongType, 4).get.toLong == b).get
    assert(spark.sql(s"SELECT v FROM gcat.db.bkw WHERE k = $k2").head.getString(0)
      === s"b$k2")
  }

  test("update-mode streaming writes are rejected: the builder is not update-as-append") {
    warehouse
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{count, lit}
    spark.sql("CREATE TABLE gcat.db.cmu (k BIGINT, n BIGINT)")
    val ckpt = Files.createTempDirectory("graft-cmu-ckpt").toString
    val in = MemoryStream[Long](spark)
    // update-as-append would silently append changed rows and corrupt
    // the materialized aggregate; keyed upserts belong in foreachBatch
    // + mergeInto/maintainInto
    val e = intercept[Exception] {
      val q = in.toDF().selectExpr("value % 3 AS k").groupBy("k")
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt).toTable("gcat.db.cmu")
      try { in.addData(1L, 2L); q.processAllAvailable() } finally q.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(m =>
      m.toLowerCase.contains("update"))), s"got: $e")
    assert(TxnLog.currentVersion(root("cmu")) === 1L, "nothing may publish")
  }
}
