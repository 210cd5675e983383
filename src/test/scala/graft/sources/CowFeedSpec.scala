package graft.sources

import java.nio.file.Files

import graft.SparkTestBase

/** r18 (X-A93): EXACT change-data capture through copy-on-write DML.
  *
  * The default `cow` mode finalizes through the delta write — the
  * commit carries per-row kill bitmaps plus the rewritten survivor
  * files marked row-preserving (`radds`) — so `t.feed` emits exactly
  * the changed rows for COW UPDATE/DELETE/MERGE, never whole
  * post-image files, while the table state ends fully rewritten with
  * no residual deletion vectors. These specs pin:
  *
  *  - per-row exactness of the feed for each COW DML verb,
  *  - feed PARITY between cow and mor modes on the same DML,
  *  - the pure-COW invariant (no DVs survive in the snapshot),
  *  - commit shape (removed = touched files, survivors ⊆ added),
  *  - mirror convergence: a consumer applying feed deltas per
  *    version reconstructs every snapshot, and its per-version work
  *    is O(changed rows) — including zero across a compaction.
  */
class CowFeedSpec extends SparkTestBase {

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft-cowfd-wh").toString
    spark.conf.set("spark.sql.catalog.gcf", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcf.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcf.db")
    wh
  }

  private def root(table: String): String = s"$warehouse/db/$table"

  private def feedRows(table: String): Seq[(Long, String, Long, Long)] =
    spark.sql(s"SELECT _commit_version, _change_type, k, v FROM gcf.db.$table.feed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  test("COW UPDATE: feed emits exactly the changed rows, pre and post") {
    warehouse
    spark.sql("CREATE TABLE gcf.db.cu (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcf.db.cu SELECT id, id FROM range(0, 100)")
    spark.sql("UPDATE gcf.db.cu SET v = v * 10 WHERE k % 10 = 0")     // v3, COW
    val rows = feedRows("cu").filter(_._1 == 3L)
    val want = (0L until 100L by 10).flatMap(k =>
      Seq((3L, "update_preimage", k, k), (3L, "update_postimage", k, k * 10))).sorted
    assert(rows === want, "COW update CDC must be row-exact")
    // pure-COW invariant: the rewrite left no residual deletion vectors
    assert(TxnLog.snapshotState(root("cu")).forall(_._2.dv.isEmpty),
      "finalized COW must fold its kill bits into rewritten files")
    // commit shape: survivors are marked row-preserving inside `added`
    val c = TxnLog.commits(root("cu")).find(_.version == 3L).get
    assert(c.action === "update")
    assert(c.removed.nonEmpty && c.removed.toSet === c.dvFiles.toSet,
      "removed must be exactly the touched (DV'd) files")
    assert(c.radds.nonEmpty && c.radds.forall(c.added.contains))
    assert((c.added.toSet -- c.radds.toSet).nonEmpty,
      "the change files must not be marked row-preserving")
    // table state + time travel
    assert(spark.sql("SELECT sum(v) FROM gcf.db.cu").head.getLong(0)
      === (0L until 100L).map(k => if (k % 10 == 0) k * 10 else k).sum)
    assert(spark.sql("SELECT sum(v) FROM gcf.db.cu VERSION AS OF 2").head.getLong(0)
      === (0L until 100L).sum)
  }

  test("COW DELETE: feed emits exactly the killed rows; survivors silent") {
    warehouse
    spark.sql("CREATE TABLE gcf.db.cd (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcf.db.cd SELECT id, id * 2 FROM range(0, 100)")
    // a subquery condition fails canDeleteWhere, so this takes the
    // row-level REWRITE path (a translatable predicate would take the
    // metadata deletion-vector path — exact CDC already, by bitmap)
    spark.sql("DELETE FROM gcf.db.cd " +
      "WHERE k IN (SELECT id * 7 FROM range(0, 15))")                 // v3, COW
    val rows = feedRows("cd").filter(_._1 == 3L)
    val want = (0L until 100L by 7).map(k => (3L, "delete", k, k * 2)).sorted
    assert(rows === want, "COW delete CDC must be row-exact")
    assert(TxnLog.snapshotState(root("cd")).forall(_._2.dv.isEmpty),
      "the rewrite-path delete must leave no residual deletion vectors")
    val c = TxnLog.commits(root("cd")).find(_.version == 3L).get
    assert(c.radds.nonEmpty, "survivor files must be marked row-preserving")
    assert(spark.sql("SELECT count(*) FROM gcf.db.cd").head.getLong(0)
      === (0L until 100L).count(_ % 7 != 0).toLong)
  }

  test("COW MERGE: matched rows emit delete+insert pairs, new keys insert") {
    warehouse
    spark.sql("CREATE TABLE gcf.db.cm (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcf.db.cm SELECT id, id FROM range(0, 50)")
    spark.range(40, 60).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("cm_src")
    spark.sql("""MERGE INTO gcf.db.cm t USING cm_src s ON t.k = s.k
                 WHEN MATCHED THEN UPDATE SET v = s.v
                 WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""") // v3
    val rows = feedRows("cm").filter(_._1 == 3L)
    // matched 40..49: pre-image (old value) as delete + post as insert;
    // 50..59: plain inserts — the merge vocabulary is delete/insert
    // (matched-vs-not is a write-time distinction; rows are exact)
    val want = ((40L until 50L).flatMap(k =>
      Seq((3L, "delete", k, k), (3L, "insert", k, k * 100))) ++
      (50L until 60L).map(k => (3L, "insert", k, k * 100))).sorted
    assert(rows === want, "COW merge CDC must be row-exact")
    assert(TxnLog.snapshotState(root("cm")).forall(_._2.dv.isEmpty))
  }

  test("feed parity: cow and mor produce identical change rows for the same DML") {
    warehouse
    for ((mode, t) <- Seq(("cow", "pc"), ("mor", "pm"))) {
      spark.sql(s"CREATE TABLE gcf.db.$t (k BIGINT, v BIGINT)")
      withSQLConf("spark.graft.dml.mode" -> mode) {
        spark.sql(s"INSERT INTO gcf.db.$t SELECT id, id FROM range(0, 200)")
        spark.sql(s"UPDATE gcf.db.$t SET v = v + 1000 WHERE k % 13 = 0")
        spark.sql(s"DELETE FROM gcf.db.$t WHERE k % 26 = 0")
      }
    }
    assert(feedRows("pc") === feedRows("pm"),
      "the same DML must produce the same change rows in both modes")
    // and the final table states agree too
    assert(spark.sql("SELECT sum(v), count(*) FROM gcf.db.pc").head
      === spark.sql("SELECT sum(v), count(*) FROM gcf.db.pm").head)
  }

  test("mirror convergence: per-version work is O(changed rows) across COW DML and compaction") {
    warehouse
    spark.sql("CREATE TABLE gcf.db.mc (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcf.db.mc SELECT id, id FROM range(0, 60)")   // v2
    spark.sql("INSERT INTO gcf.db.mc SELECT id, id FROM range(60, 120)") // v3
    spark.sql("UPDATE gcf.db.mc SET v = -k WHERE k % 20 = 0")            // v4 COW
    spark.sql("CALL gcf.system.compact_files(table => 'db.mc', " +
      "small_mb => 32, target_mb => 128)")                               // v5 layout
    spark.sql("DELETE FROM gcf.db.mc WHERE k % 30 = 0")                  // v6 COW
    val head = TxnLog.currentVersion(root("mc"))
    assert(head === 6L)
    // a consumer holding the mirror as a key->value map applies each
    // version's feed delta: kills by pre-image key, adds by post-image
    var mirror = Map.empty[Long, Long]
    val perVersionWork = (2L to head).map { v =>
      val delta = spark.sql(
        s"""SELECT _change_type AS ct, k, v FROM gcf.db.mc.feed
            WHERE _commit_version = $v""")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // kills first, then adds: a key's update_pre/postimage pair
      // arrives unordered within the version
      delta.foreach { case (ct, k, _) =>
        if (ct == "delete" || ct == "update_preimage") mirror -= k
      }
      delta.foreach { case (ct, k, x) =>
        if (ct != "delete" && ct != "update_preimage") mirror += (k -> x)
      }
      // the mirror tracks the snapshot at every version
      val snap = spark.sql(s"SELECT k, v FROM gcf.db.mc VERSION AS OF $v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(mirror === snap, s"mirror diverged at v$v")
      delta.length
    }
    // v2/v3: 60 inserts each; v4: 6 updated keys -> 12 rows; v5
    // (compaction): ZERO — this is the O(changed rows) receipt; v6:
    // 4 deletes (0,30,60,90)
    assert(perVersionWork === Seq(60, 60, 12, 0, 4),
      s"per-version feed work must track changed rows, got $perVersionWork")
  }

  test("readChanges excludeRowPreserving skips COW survivor re-adds: " +
       "the mirror's merge half is O(changed rows) (r19)") {
    warehouse
    spark.sql("CREATE TABLE gcf.db.rc (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcf.db.rc SELECT /*+ REPARTITION(4) */ id, id " +
      "FROM range(0, 100)")
    spark.sql("UPDATE gcf.db.rc SET v = -1 WHERE k = 7")              // v3, COW
    // default feed: survivors re-read (full re-add view, idempotent)
    val full = TxnStream.readChanges(spark, root("rc"), 2, 3).count()
    // radd-excluding feed: exactly the changed rows
    val changed = TxnStream.readChanges(spark, root("rc"), 2, 3,
      excludeRowPreserving = true)
    assert(changed.count() === 1L,
      s"survivor files must not ride the changed-rows view (default saw $full)")
    assert(changed.select("k", "v").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq === Seq((7L, -1L)))
    assert(full > 1L, "the default full re-add view keeps its semantics")
  }

  test("spark.graft.dml.mode accepts only cow and mor; any other value " +
       "fails the UPDATE and commits nothing") {
    warehouse
    spark.sql("CREATE TABLE gcf.db.cg (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcf.db.cg SELECT id, id FROM range(0, 50)")
    val v0 = TxnLog.currentVersion(root("cg"))
    Seq("cow-group", "bogus").foreach { mode =>
      val e = intercept[Exception] {
        withSQLConf("spark.graft.dml.mode" -> mode) {
          spark.sql("UPDATE gcf.db.cg SET v = 0 WHERE k < 5")
        }
      }
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains(s"spark.graft.dml.mode must be cow or mor, got $mode"), msg)
      assert(TxnLog.currentVersion(root("cg")) === v0, s"$mode must commit nothing")
    }
    assert(spark.sql("SELECT sum(v) FROM gcf.db.cg").head.getLong(0) === (0L until 50L).sum)
  }
}
