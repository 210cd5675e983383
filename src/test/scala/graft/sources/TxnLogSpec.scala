package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.functions.col

/** Two-writer semantics of the [[TxnLog]] optimistic-concurrency
  * layer: version CAS, file-level conflict detection, append
  * auto-retry, snapshot isolation under concurrent commits, and the
  * CAS under a real thread race. The driver rows `tx_snapshot` /
  * `tx_time_travel` / `tx_changes` hash-check the read path against
  * DuckDB; this spec owns everything DuckDB cannot see (the log
  * protocol itself).
  */
class TxnLogSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String = {
    val root = Files.createTempDirectory("graft-txnlog").toString
    TxnLog.init(root)
    root
  }

  private def rows(root: String, version: Long = Long.MaxValue): Set[(Long, Long)] =
    TxnLog.read(spark, root, version).as[(Long, Long)].collect().toSet

  private def append(root: String, txnId: String, data: Seq[(Long, Long)]): TxnLog.Commit = {
    val files = TxnLog.stage(data.toDF("k", "v"), root, txnId)
    TxnLog.commit(root, "append", files, Nil,
      readVersion = TxnLog.currentVersion(root), txnId = txnId)
  }

  test("serial commits: snapshots fold added/removed; time travel sees the past") {
    val root = freshRoot()
    append(root, "t1", Seq((1L, 10L), (2L, 20L)))
    append(root, "t2", Seq((3L, 30L)))
    assert(TxnLog.currentVersion(root) === 2L)
    assert(rows(root) === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(rows(root, version = 1L) === Set((1L, 10L), (2L, 20L)))

    // copy-on-write upsert: rewrite v1's files with k=1 doubled
    val v1Files = TxnLog.commits(root).head.added
    val rewritten = TxnLog.stage(
      spark.read.parquet(v1Files: _*).as[(Long, Long)]
        .map { case (k, v) => (k, if (k == 1L) v * 2 else v) }.toDF("k", "v"),
      root, "t3")
    TxnLog.commit(root, "upsert", rewritten, removed = v1Files,
      readVersion = 2L, txnId = "t3")
    assert(rows(root) === Set((1L, 20L), (2L, 20L), (3L, 30L)))
    // the rewrite is invisible at version 2 even though it is committed
    assert(rows(root, version = 2L) === Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("two writers rewriting the same files: the second commit aborts with a conflict") {
    val root = freshRoot()
    val c1 = append(root, "base", Seq((1L, 10L), (2L, 20L)))
    // both writers read snapshot v1 and stage rewrites of ITS files
    val readV = TxnLog.currentVersion(root)
    val stagedA = TxnLog.stage(Seq((1L, 11L), (2L, 20L)).toDF("k", "v"), root, "wa")
    val stagedB = TxnLog.stage(Seq((1L, 10L), (2L, 22L)).toDF("k", "v"), root, "wb")
    TxnLog.commit(root, "upsert", stagedA, removed = c1.added,
      readVersion = readV, txnId = "wa")
    val e = intercept[TxnLog.ConflictException] {
      TxnLog.commit(root, "upsert", stagedB, removed = c1.added,
        readVersion = readV, txnId = "wb")
    }
    assert(e.getMessage.contains("wa"),
      "the conflict must name the commit that won")
    // the loser published nothing: table state is writer A's, alone
    assert(rows(root) === Set((1L, 11L), (2L, 20L)))
  }

  test("an append with a stale read version never conflicts; it retries the CAS and lands") {
    val root = freshRoot()
    append(root, "t1", Seq((1L, 10L)))
    // writer B staged against v1, then A committed v2 — B's append
    // has an empty read set, so it must succeed at v3, not abort
    val stagedB = TxnLog.stage(Seq((3L, 30L)).toDF("k", "v"), root, "wb")
    append(root, "wa", Seq((2L, 20L)))
    val cb = TxnLog.commit(root, "append", stagedB, Nil,
      readVersion = 1L, txnId = "wb")
    assert(cb.version === 3L)
    assert(rows(root) === Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("a resolved snapshot is stable: commits landing after resolution do not change it") {
    val root = freshRoot()
    val c1 = append(root, "t1", Seq((1L, 10L), (2L, 20L)))
    val snapshot = TxnLog.read(spark, root) // file list resolved NOW
    // concurrent upsert rewrites everything the snapshot points at
    val staged = TxnLog.stage(Seq((1L, 99L), (2L, 99L)).toDF("k", "v"), root, "t2")
    TxnLog.commit(root, "upsert", staged, removed = c1.added,
      readVersion = 1L, txnId = "t2")
    // data files are immutable and only ever ADDED, so the pre-commit
    // resolution still reads the old bytes — snapshot isolation
    assert(snapshot.as[(Long, Long)].collect().toSet === Set((1L, 10L), (2L, 20L)))
    assert(rows(root) === Set((1L, 99L), (2L, 99L)))
  }

  test("compaction is a transaction: content preserved, file count drops, and a concurrent rewrite aborts it") {
    // the X-A17 small-file OPTIMIZE flow expressed as a TxnLog use
    // case: read live files, stage them repacked, commit with the
    // originals removed — same protocol as an upsert, so the conflict
    // check protects it for free
    val root = freshRoot()
    val data = (1L to 8L).map(k => (k, k * 10L))
    val files = TxnLog.stage(data.toDF("k", "v").repartition(4), root, "t1")
    assert(files.size === 4, "fixture: the append must produce small files to pack")
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1")

    val packed = TxnLog.stage(
      spark.read.parquet(files: _*).coalesce(1), root, "compact1")
    TxnLog.commit(root, "compact", packed, removed = files,
      readVersion = 1L, txnId = "compact1")
    assert(TxnLog.snapshotFiles(root).size === 1, "packed into one file")
    assert(rows(root) === data.toSet, "compaction must not change content")
    assert(rows(root, version = 1L) === data.toSet, "pre-compaction version intact")

    // lost-update direction: compaction staged against v2, then an
    // upsert rewrites one of the files it plans to remove — committing
    // the compaction now would silently drop that update, so it must
    // abort and re-plan
    val live = TxnLog.snapshotFiles(root)
    val repacked = TxnLog.stage(
      spark.read.parquet(live: _*).coalesce(1), root, "compact2")
    val upsert = TxnLog.stage(
      spark.read.parquet(live: _*).as[(Long, Long)]
        .map { case (k, v) => (k, if (k == 1L) 999L else v) }.toDF("k", "v"),
      root, "hotfix")
    TxnLog.commit(root, "upsert", upsert, removed = live,
      readVersion = 2L, txnId = "hotfix")
    intercept[TxnLog.ConflictException] {
      TxnLog.commit(root, "compact", repacked, removed = live,
        readVersion = 2L, txnId = "compact2")
    }
    assert(rows(root) === data.toSet - ((1L, 10L)) + ((1L, 999L)),
      "the hotfix must survive the aborted compaction")
  }

  test("compactionPlan output drives a real transaction: concurrent append lands, victim rewrite aborts it") {
    // X-A17 meets X-A22 end-to-end: the OPTIMIZE planner's groups are
    // executed via stage+commit, and the log's file-level conflict
    // check arbitrates the races a real compactor meets — a concurrent
    // APPEND touches no removed file and must land; a concurrent
    // REWRITE of a victim file makes the compaction a lost update and
    // must abort it.
    import graft.operators.LayoutOps
    val root = freshRoot()
    val data = (1L to 12L).map(k => (k, k * 10L))
    val files = TxnLog.stage(data.toDF("k", "v").repartition(6), root, "t1")
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1")

    // plan compaction groups from per-file row counts (manifest-scale
    // stats, exactly what a real compactor feeds the planner)
    val counts = spark.read.parquet(files: _*)
      .select(org.apache.spark.sql.functions.input_file_name().as("file_id"))
      .groupBy("file_id").count()
      .withColumn("file_id", org.apache.spark.sql.functions
        .regexp_replace($"file_id", "^file:(//)?", ""))
    val plan = LayoutOps.compactionPlan(counts, "file_id", "count", targetRows = 12L)
    val groups = plan.filter($"merges").select($"file_id", $"compact_group")
      .as[(String, Long)].collect().groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    assert(groups.nonEmpty, "fixture: 6 small files must form a merging group")
    val victims = groups.head._2
    assert(victims.size > 1)

    // the compactor stages its merged replacement against v1...
    val packed = TxnLog.stage(
      spark.read.parquet(victims: _*).coalesce(1), root, "compact1")
    // ...meanwhile an APPEND lands (touches no victim: no conflict)...
    append(root, "concurrent-append", Seq((100L, 1000L)))
    // ...and so does a REWRITE of one victim file (a hotfix upsert)
    val hotfix = TxnLog.stage(
      spark.read.parquet(victims.head).as[(Long, Long)]
        .map { case (k, v) => (k, v + 1) }.toDF("k", "v"), root, "hotfix")
    TxnLog.commit(root, "upsert", hotfix, removed = Seq(victims.head),
      readVersion = 1L, txnId = "hotfix")
    // the compaction read v1: its victims were rewritten under it —
    // committing now would silently drop the hotfix, so it must abort
    intercept[TxnLog.ConflictException] {
      TxnLog.commit(root, "compact", packed, removed = victims,
        readVersion = 1L, txnId = "compact1")
    }
    // the append survived, the hotfix survived, nothing was lost
    val want = data.map { case (k, v) =>
      val hotfixed = spark.read.parquet(hotfix: _*).as[(Long, Long)]
        .collect().toMap
      (k, hotfixed.getOrElse(k, v))
    }.toSet + ((100L, 1000L))
    assert(rows(root) === want)

    // the compactor re-plans against the NEW head and succeeds
    val live = TxnLog.snapshotFiles(root)
    val repacked = TxnLog.stage(
      spark.read.parquet(live: _*).coalesce(1), root, "compact2")
    TxnLog.commit(root, "compact", repacked, removed = live,
      readVersion = TxnLog.currentVersion(root), txnId = "compact2")
    assert(TxnLog.snapshotFiles(root).size === 1)
    assert(rows(root) === want, "re-planned compaction changes layout, not content")
  }

  test("a replayed txnId is a no-op: the original commit is returned and the log does not grow") {
    val root = freshRoot()
    val files = TxnLog.stage(Seq((1L, 10L)).toDF("k", "v"), root, "t1")
    val first = TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1")
    // a retried driver re-commits the same transaction (even with a
    // different staged file list — the FIRST commit is the truth)
    val replay = TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1")
    assert(replay === first)
    assert(TxnLog.currentVersion(root) === first.version)
    assert(rows(root) === Set((1L, 10L)))
  }

  test("exactly-once streaming ingest: a full stream replay adds no rows") {
    // foreachBatch's contract is at-least-once per micro-batch;
    // appendOnce keys each commit by (streamId, batchId) so the
    // replayed batches resolve to their existing commits
    val root = freshRoot()
    implicit val ctx = spark.sqlContext
    def runStream(): Unit = {
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val q = ms.toDS().toDF("k", "v").writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          TxnLog.appendOnce(df, root, streamId = "ingest", batchId); ()
        }
        .outputMode("append").start()
      try {
        ms.addData((1L, 10L), (2L, 20L)); q.processAllAvailable()
        ms.addData((3L, 30L)); q.processAllAvailable()
      } finally q.stop()
    }
    runStream()
    val afterFirst = rows(root)
    assert(afterFirst === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // new query, FRESH checkpoint, same data: batch ids restart at 0 —
    // the worst-case total replay. Every commit must dedupe by txnId.
    runStream()
    assert(rows(root) === afterFirst, "replayed batches must not duplicate rows")
    assert(TxnLog.currentVersion(root) === 2L, "still exactly two batch commits")
  }

  test("checkpointed and unfolded snapshot resolution agree, including pre-checkpoint time travel") {
    val root = freshRoot()
    val c1Files = TxnLog.stage(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root, "t1")
    TxnLog.commit(root, "append", c1Files, Nil, readVersion = 0L, txnId = "t1")
    append(root, "t2", Seq((3L, 30L)))
    // v3 rewrites v1's files so the checkpointed live set differs
    // from a naive union of all added files
    val rewritten = TxnLog.stage(Seq((1L, 11L), (2L, 22L)).toDF("k", "v"), root, "t3")
    TxnLog.commit(root, "upsert", rewritten, removed = c1Files,
      readVersion = 2L, txnId = "t3")
    val before = (1L to 3L).map(v => rows(root, v))

    assert(TxnLog.checkpoint(root) === 3L)
    append(root, "t4", Seq((4L, 40L))) // tail commit after the checkpoint

    // resolution now seeds from the v3 checkpoint for v>=3 and folds
    // the raw log for earlier versions — all must match the
    // pre-checkpoint reads
    assert((1L to 3L).map(v => rows(root, v)) === before)
    assert(rows(root) === Set((1L, 11L), (2L, 22L), (3L, 30L), (4L, 40L)))
    assert(TxnLog.checkpoint(root) === 4L, "re-checkpoint at the new head")
  }

  test("the log rejects record and checkpoint shapes it does not write") {
    def rejects(file: String, body: String, bad: String): Unit = {
      val root = freshRoot()
      val path = java.nio.file.Paths.get(root, "_log", file)
      Files.writeString(path, body)
      val e = intercept[RuntimeException](TxnLog.snapshotState(root))
      assert(e.getMessage.contains(path.toString) && e.getMessage.contains(bad),
        s"expected the file and '$bad' in: ${e.getMessage}")
    }
    def record(rest: String): String =
      """{"version":1,"action":"append","txnId":"t1","readVersion":0,""" +
        s""""added":["/t/data/a.parquet"],"removed":[]$rest}"""
    val rec = f"${1L}%020d.json"
    // a checkpoint in the old `#graft-ckpt-v2` line format
    rejects(f"${1L}%020d.checkpoint", "#graft-ckpt-v2\nT t1 1\nF /t/data/a.parquet\n",
      "'#'")
    // a checkpoint whose body holds another version than its name
    rejects(f"${2L}%020d.checkpoint", """{"version":1}""", "holds version 1")
    // a key Commit does not have (the old name of `schemaId`)
    rejects(rec, record(""","ts":5,"schema":"s1""""), "\"schema\"")
    // a record without its timestamp
    rejects(rec, record(""), "\"ts\"")
    // an old string stat token where a column -> stat map belongs
    rejects(rec, record(""","ts":5,"multiStats":["k:l:1:9:10:0"]"""), "k:l:1:9:10:0")
  }

  test("inline commit-record stats prune non-overlapping files; the range read equals filter-after-full-scan") {
    val root = freshRoot()
    // 64 keys range-clustered into 8 files -> disjoint ~8-key ranges
    val data = (1L to 64L).map(k => (k, k * 10L))
    val (files, stats) = TxnLog.stageWithStatsFor(
      data.toDF("k", "v").repartitionByRange(8, $"k"), root, "t1", Seq("k"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats)
    assert(files.size === 8)
    // the stats live IN the log record — no sidecar file anywhere, so
    // pruning below provably does zero sidecar reads
    assert(!Files.exists(java.nio.file.Paths.get(root, "data", "t1", "_stats.json")),
      "r12 staging must not write a sidecar; stats are inline in the commit")

    // a 10-key range overlaps at most 3 of the 8 range-files
    val pruned = TxnLog.prunedFiles(root, "k", lo = 20L, hi = 29L)
    assert(pruned.nonEmpty && pruned.size <= 3,
      s"expected <=3 of 8 files to survive pruning, got ${pruned.size}")
    val got = TxnLog.readRange(spark, root, "k", 20L, 29L)
      .as[(Long, Long)].collect().toSet
    assert(got === data.filter(d => d._1 >= 20 && d._1 <= 29).toSet,
      "skipping must be invisible in the result")

    // a range beyond every file: provably empty without opening data
    assert(TxnLog.prunedFiles(root, "k", 1000L, 2000L).isEmpty)
    assert(TxnLog.readRange(spark, root, "k", 1000L, 2000L).count() === 0L)

    // files staged WITHOUT stats are never pruned (soundness)
    val plain = TxnLog.stage(Seq((500L, 1L)).toDF("k", "v"), root, "t2")
    TxnLog.commit(root, "append", plain, Nil, readVersion = 1L, txnId = "t2")
    assert(TxnLog.prunedFiles(root, "k", 20L, 29L).toSet === pruned.toSet ++ plain,
      "stat-less files must always survive pruning")
    assert(TxnLog.readRange(spark, root, "k", 490L, 510L)
      .as[(Long, Long)].collect().toSet === Set((500L, 1L)))

    // pruning survives a checkpoint: the stats ride the F-lines, so a
    // post-checkpoint resolution prunes identically with no record
    // opens and no sidecars
    TxnLog.checkpoint(root)
    assert(TxnLog.prunedFiles(root, "k", 20L, 29L).toSet === pruned.toSet ++ plain)
  }

  test("schema enforcement: a drifted append aborts; an explicit schema-evolve commit lands") {
    val root = freshRoot()
    val gen1 = Seq((1L, 10L)).toDF("k", "v")
    val f1 = TxnLog.stage(gen1, root, "t1")
    TxnLog.commit(root, "append", f1, Nil, readVersion = 0L, txnId = "t1",
      schemaId = TxnLog.schemaFingerprint(gen1.schema))
    // an upstream silently drifts a column type: the declared-schema
    // append must abort instead of forking the table
    val drifted = Seq((2, "oops")).toDF("k", "v")
    val f2 = TxnLog.stage(drifted, root, "t2")
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.commit(root, "append", f2, Nil, readVersion = 1L, txnId = "t2",
        schemaId = TxnLog.schemaFingerprint(drifted.schema))
    }
    assert(TxnLog.currentVersion(root) === 1L, "the drifted append published nothing")
    // widening is allowed, but only as an EXPLICIT evolution action
    val gen2 = Seq((3L, 30L, "b")).toDF("k", "v", "tag")
    val f3 = TxnLog.stage(gen2, root, "t3")
    val gen2Id = TxnLog.schemaFingerprint(gen2.schema)
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.commit(root, "append", f3, Nil, readVersion = 1L, txnId = "t3",
        schemaId = gen2Id)
    }
    TxnLog.commit(root, "schema-evolve", f3, Nil, readVersion = 1L,
      txnId = "t3", schemaId = gen2Id)
    // the evolved schema is now current: matching appends pass again
    val f4 = TxnLog.stage(Seq((4L, 40L, "c")).toDF("k", "v", "tag"), root, "t4")
    TxnLog.commit(root, "append", f4, Nil, readVersion = 2L, txnId = "t4",
      schemaId = gen2Id)
    assert(TxnLog.read(spark, root, mergeSchema = true).count() === 3L)
    // enforcement survives a checkpoint (it carries the current schema)
    TxnLog.checkpoint(root)
    val f5 = TxnLog.stage(gen1, root, "t5")
    intercept[TxnLog.SchemaMismatchException] {
      TxnLog.commit(root, "append", f5, Nil, readVersion = 3L, txnId = "t5",
        schemaId = TxnLog.schemaFingerprint(gen1.schema))
    }
  }

  test("commit paths with log-reserved characters are rejected at commit time, not corrupted") {
    val root = freshRoot()
    // `[`, `]` and `\` are Hadoop glob syntax: a read would expand them
    for (bad <- Seq("/tmp/a[b.parquet", "/tmp/a]b.parquet", "/tmp/a\\b.parquet")) {
      intercept[RuntimeException] {
        TxnLog.commit(root, "append", Seq(bad), Nil, readVersion = 0L,
          txnId = s"bad-${bad.hashCode}")
      }
    }
    assert(TxnLog.currentVersion(root) === 0L, "no corrupt record may land")
    // quotes, commas and spaces are ordinary path bytes to the codec
    val odd = Seq("/tmp/a\"b.parquet", "/tmp/a,b.parquet", "/tmp/a b.parquet")
    TxnLog.commit(root, "append", odd, Nil, readVersion = 0L, txnId = "odd")
    assert(TxnLog.snapshotFiles(root) === odd)
  }

  test("a txnId that is not one file-name component is rejected before anything lands") {
    val root = freshRoot()
    for (bad <- Seq("a/b", "a\\b", "a\u0000b", "", ".", "..")) {
      val e = intercept[IllegalArgumentException] {
        TxnLog.commit(root, "append", Seq("/fake/f.parquet"), Nil, readVersion = 0L,
          txnId = bad)
      }
      assert(e.getMessage.contains(s"'$bad'"), s"the message must name the txnId: ${e.getMessage}")
    }
    val logEntries = Files.list(java.nio.file.Paths.get(root, "_log"))
    try assert(logEntries.count() === 0L, "no record or temp file may be written")
    finally logEntries.close()
  }

  test("txnId dedup and replay answer from the checkpoint ledger, not a full log scan") {
    val root = freshRoot()
    (1 to 12).foreach(i => append(root, s"t$i", Seq((i.toLong, i.toLong))))
    val ckptV = TxnLog.checkpoint(root)
    assert(ckptV === 12L)
    // white-box probe: CORRUPT every pre-checkpoint record except
    // t7's. The ledger path answers dedup from the checkpoint's
    // T-lines plus the (empty) tail and opens only record 7; any
    // implementation that still scans full history would throw
    // parsing the garbage.
    (1L to 12L).filter(_ != 7L).foreach(v =>
      Files.writeString(
        java.nio.file.Paths.get(root, "_log", f"$v%020d.json"), "CORRUPT"))
    val replay = TxnLog.commit(root, "append", Seq("/fake/other"), Nil,
      readVersion = 12L, txnId = "t7")
    assert(replay.version === 7L && replay.txnId === "t7",
      "the ledger must resolve the replay to its original commit without a history scan")
    assert(TxnLog.findCommit(root, "t7").map(_.version) === Some(7L))
    assert(TxnLog.findCommit(root, "never-committed") === None)
  }

  test("vacuum reclaims only files outside the retention horizon; retained versions read intact") {
    val root = freshRoot()
    val c1Files = TxnLog.stage(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root, "t1")
    TxnLog.commit(root, "append", c1Files, Nil, readVersion = 0L, txnId = "t1")
    append(root, "t2", Seq((3L, 30L)))
    val rewritten = TxnLog.stage(Seq((1L, 11L), (2L, 22L)).toDF("k", "v"), root, "t3")
    TxnLog.commit(root, "upsert", rewritten, removed = c1Files,
      readVersion = 2L, txnId = "t3")

    // retain v2+: only v1's REWRITTEN files (live solely in v1..v2's
    // snapshots... they are live in v2 as well) — horizon at v3 then
    val none = TxnLog.vacuum(root, retainFromVersion = 2L)
    assert(none.isEmpty, s"files live at v2 must survive a v2 horizon: $none")
    val victims = TxnLog.vacuum(root, retainFromVersion = 3L)
    assert(victims.toSet === c1Files.toSet,
      "exactly the replaced files fall outside a v3 horizon")
    // retained versions are untouched; the log keeps full provenance
    assert(rows(root) === Set((1L, 11L), (2L, 22L), (3L, 30L)))
    assert(TxnLog.commits(root).size === 3)
    // pre-horizon time travel fails LOUDLY (missing files), never
    // silently returns partial data
    intercept[Exception] { rows(root, version = 1L) }
    // idempotent
    assert(TxnLog.vacuum(root, retainFromVersion = 3L).isEmpty)
  }

  test("schema generations merge on read: old files yield nulls for columns they predate") {
    val root = freshRoot()
    append(root, "t1", Seq((1L, 10L)))
    // a later generation gains a column; history is never rewritten
    val gen2 = TxnLog.stage(Seq((2L, 20L, "b")).toDF("k", "v", "tag"), root, "t2")
    TxnLog.commit(root, "append", gen2, Nil, readVersion = 1L, txnId = "t2")

    val merged = TxnLog.read(spark, root, mergeSchema = true)
    assert(merged.columns.sorted.toSeq === Seq("k", "tag", "v"))
    assert(merged.as[(Long, Long, Option[String])].collect().toSet ===
      Set((1L, 10L, None), (2L, 20L, Some("b"))),
      "gen-1 rows must surface with a null tag, not be dropped or rewritten")
    // time travel composes: at v1 only the old schema's files exist
    assert(TxnLog.read(spark, root, version = 1L, mergeSchema = true)
      .columns.sorted.toSeq === Seq("k", "v"))
  }

  test("version CAS under a real race: concurrent appenders produce contiguous versions, no losses") {
    val root = freshRoot()
    val perThread = 8
    // stage everything first so the race is over the COMMIT protocol,
    // not Spark write throughput
    val staged = (0 until 2).map { t =>
      (0 until perThread).map { i =>
        TxnLog.stage(Seq((t * 100L + i, i.toLong)).toDF("k", "v"), root, s"w$t-$i")
      }
    }
    val threads = (0 until 2).map { t =>
      new Thread(() => staged(t).zipWithIndex.foreach { case (files, i) =>
        TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
          txnId = s"w$t-$i")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val commits = TxnLog.commits(root)
    assert(commits.map(_.version) === (1L to 2L * perThread),
      "every commit must land on its own contiguous version")
    assert(commits.map(_.txnId).toSet.size === 2 * perThread,
      "no commit may be lost or duplicated")
    assert(rows(root).size === 2 * perThread)
  }

  private def corruptParquet(files: Seq[String]): Unit =
    files.foreach(f => Files.write(java.nio.file.Paths.get(f),
      "not parquet anymore".getBytes))

  test("statsAggregate answers COUNT/MIN/MAX from the log alone: correct with every data file corrupted") {
    val root = freshRoot()
    val data = (1L to 64L).map(k => (k, k * 10L))
    val (files, stats) = TxnLog.stageWithStatsFor(
      data.toDF("k", "v").repartitionByRange(8, $"k"), root, "t1", Seq("k"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats)
    def agg(): (Long, Long, Long) = {
      val r = TxnLog.statsAggregate(spark, root, "k").head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(agg() === ((64L, 1L, 64L)))
    // white-box metadata-only proof: corrupt every parquet file on
    // disk — a plan that opened ANY of them would throw, so the
    // correct answer here demonstrates zero data-file opens
    corruptParquet(files)
    assert(agg() === ((64L, 1L, 64L)),
      "fully-statted aggregation must not touch data files")
    // ...and it survives a checkpoint: rows ride the F-lines
    TxnLog.checkpoint(root)
    assert(agg() === ((64L, 1L, 64L)))
  }

  test("statsAggregate hybrid: files without applicable stats are scanned, not guessed") {
    val root = freshRoot()
    val (f1, st1) = TxnLog.stageWithStatsFor(
      (1L to 10L).map(k => (k, k)).toDF("k", "v"), root, "t1", Seq("k"))
    TxnLog.commit(root, "append", f1, Nil, readVersion = 0L, txnId = "t1",
      multiStats = st1)
    // second commit has NO stats: its rows must come from a real scan
    val f2 = TxnLog.stage(Seq((100L, 1L), (101L, 1L)).toDF("k", "v"), root, "t2")
    TxnLog.commit(root, "append", f2, Nil, readVersion = 1L, txnId = "t2")
    val r = TxnLog.statsAggregate(spark, root, "k").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((12L, 1L, 101L)))
    // stats recorded for a DIFFERENT column must not masquerade as
    // k-stats: v-stats on a third commit, aggregate on k still exact
    val (f3, st3) = TxnLog.stageWithStatsFor(
      Seq((200L, 7L)).toDF("k", "v"), root, "t3", Seq("v"))
    TxnLog.commit(root, "append", f3, Nil, readVersion = 2L, txnId = "t3",
      multiStats = st3)
    val r2 = TxnLog.statsAggregate(spark, root, "k").head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((13L, 1L, 200L)),
      "wrong-column stats must fall back to scanning, not claim v-ranges as k-ranges")
  }

  test("bloom point skipping: prunes most files, never the containing one, exact result") {
    val root = freshRoot()
    // tag is a multiplicative hash of k: uncorrelated with the k
    // clustering, so every file's [min,max] of tag spans the domain —
    // the shape where range stats are useless and blooms are the
    // only index that works
    val data = (1L to 512L).map(k => (k, k * 2654435761L % 1000000007L))
    val (files, stats) = TxnLog.stageWithStatsFor(
      data.toDF("k", "tag").repartitionByRange(8, $"k"), root, "t1", Seq("k"))
    val blooms = TxnLog.bloomsForStaged(spark, root, "t1", "tag", files)
    assert(files.size === 8 && blooms.forall(_.nonEmpty))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats, blooms = blooms, bloomCol = "tag")

    val probe = 137L * 2654435761L % 1000000007L
    val got = TxnLog.readPoint(spark, root, "tag", probe)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((137L, probe)), "bloom skipping must be invisible in the result")

    // effectiveness: absent keys prune nearly everything (FPR at
    // 8192 bits / 4 hashes / 64 keys-per-file is ~1e-6; 8 files and
    // 20 probes make even one false positive vanishingly unlikely)
    val absent = (1L to 20L).map(i => 900000000L + i)
    absent.foreach { v =>
      assert(TxnLog.readPoint(spark, root, "tag", v).count() === 0L)
    }

    // skipping survives a checkpoint (blooms ride the B-lines): after
    // corrupting every file except 137's, the lookup still works —
    // proof the plan opened only bloom-positive files
    TxnLog.checkpoint(root)
    val keep = TxnLog.readPoint(spark, root, "tag", probe).inputFiles.toSet
    assert(keep.size <= 2, s"expected <=2 of 8 files to survive bloom pruning, got ${keep.size}")
    corruptParquet(files.filterNot(f => keep.exists(_.endsWith(java.nio.file.Paths.get(f).getFileName.toString))))
    assert(TxnLog.readPoint(spark, root, "tag", probe)
      .as[(Long, Long)].collect().toSet === Set((137L, probe)))
  }

  test("deletion vectors: row-level delete with zero file rewrites; time travel sees pre-delete rows") {
    val root = freshRoot()
    val data = (1L to 64L).map(k => (k, k * 10L))
    val (files, stats) = TxnLog.stageWithStatsFor(
      data.toDF("k", "v").repartitionByRange(8, $"k"), root, "t1", Seq("k"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats)
    val fingerprints = files.map(f => (f, Files.getLastModifiedTime(
      java.nio.file.Paths.get(f)), Files.size(java.nio.file.Paths.get(f))))

    val del = TxnLog.deleteWhere(spark, root, col("k") % 5 === 2, "d1")
    assert(del.isDefined && del.get.action === "delete")
    assert(del.get.added.isEmpty && del.get.removed.isEmpty,
      "a DV delete must not add or remove files")
    // no data file was rewritten — same bytes, same mtimes
    fingerprints.foreach { case (f, mt, sz) =>
      val p = java.nio.file.Paths.get(f)
      assert(Files.getLastModifiedTime(p) === mt && Files.size(p) === sz,
        s"delete must not touch $f")
    }
    assert(rows(root) === data.filterNot(_._1 % 5 == 2).toSet)
    // time travel: pre-delete snapshot still shows every row
    assert(rows(root, version = 1L) === data.toSet)

    // deletes UNION across commits
    TxnLog.deleteWhere(spark, root, col("k") % 7 === 3, "d2")
    assert(rows(root) === data.filterNot(d => d._1 % 5 == 2 || d._1 % 7 == 3).toSet)
    // a predicate whose matches are all already dead burns no version
    assert(TxnLog.deleteWhere(spark, root, col("k") === 17L, "d3") === None)
    assert(TxnLog.currentVersion(root) === 3L)

    // DVs ride checkpoints
    TxnLog.checkpoint(root)
    assert(rows(root) === data.filterNot(d => d._1 % 5 == 2 || d._1 % 7 == 3).toSet)

    // every read path applies the vector: range, point via stats, agg
    assert(TxnLog.readRange(spark, root, "k", 1L, 20L).as[(Long, Long)]
      .collect().toSet ===
      data.filter(d => d._1 <= 20 && d._1 % 5 != 2 && d._1 % 7 != 3).toSet)
    val expect = data.filterNot(d => d._1 % 5 == 2 || d._1 % 7 == 3)
    val agg = TxnLog.statsAggregate(spark, root, "k").head()
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) ===
      ((expect.size.toLong, expect.map(_._1).min, expect.map(_._1).max)),
      "statsAggregate must not count deleted rows (DV'd files take the scan path)")
  }

  test("deletion vectors: a rewrite compacts the deletes in and clears the vector; conflict matrix holds") {
    val root = freshRoot()
    val data = (1L to 16L).map(k => (k, k))
    val f1 = TxnLog.stage(data.toDF("k", "v"), root, "t1")
    TxnLog.commit(root, "append", f1, Nil, readVersion = 0L, txnId = "t1")
    TxnLog.deleteWhere(spark, root, col("k") <= 4L, "d1")

    // rewrite from the DV-filtered read: deletes are compacted into
    // the new file, the DV dies with the old one
    val rewritten = TxnLog.stage(TxnLog.read(spark, root), root, "t2")
    TxnLog.commit(root, "compact", rewritten, removed = f1,
      readVersion = TxnLog.currentVersion(root), txnId = "t2")
    assert(rows(root) === data.filter(_._1 > 4).toSet)
    assert(TxnLog.snapshotState(root).forall(_._2.dv.isEmpty),
      "the rewritten snapshot must carry no deletion vector")

    // conflict: a DV landing after a rewriter's snapshot aborts the rewrite
    val root2 = freshRoot()
    val g1 = TxnLog.stage(data.toDF("k", "v"), root2, "t1")
    TxnLog.commit(root2, "append", g1, Nil, readVersion = 0L, txnId = "t1")
    val readV = TxnLog.currentVersion(root2)
    val staged = TxnLog.stage(data.toDF("k", "v"), root2, "racer")
    TxnLog.deleteWhere(spark, root2, col("k") === 1L, "dx") // lands first
    intercept[TxnLog.ConflictException] {
      TxnLog.commit(root2, "compact", staged, removed = g1,
        readVersion = readV, txnId = "racer")
    }
    // ...and a DV whose target was rewritten under it aborts too
    val root3 = freshRoot()
    val h1 = TxnLog.stage(data.toDF("k", "v"), root3, "t1")
    TxnLog.commit(root3, "append", h1, Nil, readVersion = 0L, txnId = "t1")
    val dvReadV = TxnLog.currentVersion(root3)
    val h2 = TxnLog.stage(data.toDF("k", "v"), root3, "rewriter")
    TxnLog.commit(root3, "compact", h2, removed = h1,
      readVersion = dvReadV, txnId = "rewriter")
    intercept[TxnLog.ConflictException] {
      TxnLog.commit(root3, "delete", Nil, Nil, readVersion = dvReadV,
        txnId = "stale-dv", dvFiles = h1, dvs = h1.map(_ => "01"))
    }
    // two DVs on the SAME file commute (bitmap union) — no conflict
    val root4 = freshRoot()
    val j1 = TxnLog.stage(data.toDF("k", "v"), root4, "t1")
    TxnLog.commit(root4, "append", j1, Nil, readVersion = 0L, txnId = "t1")
    val v = TxnLog.currentVersion(root4)
    TxnLog.commit(root4, "delete", Nil, Nil, readVersion = v, txnId = "dva",
      dvFiles = Seq(j1.head), dvs = Seq("0000000000000001"))
    TxnLog.commit(root4, "delete", Nil, Nil, readVersion = v, txnId = "dvb",
      dvFiles = Seq(j1.head), dvs = Seq("0000000000000002"))
    val m = TxnLog.snapshotState(root4).toMap.apply(j1.head)
    assert(m.dv === Some("0000000000000003"), "concurrent DVs must union")
  }

  test("mergeInto: upsert semantics with stats-pruned rewrites — untouched files keep their bytes") {
    val root = freshRoot()
    val data = (1L to 64L).map(k => (k, k * 10L))
    val (files, stats) = TxnLog.stageWithStatsFor(
      data.toDF("k", "v").repartitionByRange(8, $"k"), root, "t1", Seq("k"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats)
    val mtimes = files.map(f => (f, Files.getLastModifiedTime(java.nio.file.Paths.get(f))))

    // source confined to keys 20..29 (+ one insert at 1000): at most
    // 3 of the 8 range files overlap, so at most 3 may be rewritten
    val source = ((20L to 29L).map(k => (k, k * 1000L)) :+ ((1000L, 7L)))
      .toDF("k", "v")
    val c = TxnLog.mergeInto(spark, root, source, "k", "m1")
    assert(c.action === "merge")
    assert(c.removed.size <= 3,
      s"merge must rewrite only stats-affected files, rewrote ${c.removed.size} of 8")
    val untouched = files.filterNot(c.removed.contains)
    mtimes.filter(t => untouched.contains(t._1)).foreach { case (f, mt) =>
      assert(Files.getLastModifiedTime(java.nio.file.Paths.get(f)) === mt,
        s"merge must not touch pruned file $f")
    }
    val expect = data.map { case (k, v) =>
      (k, if (k >= 20 && k <= 29) k * 1000L else v) } :+ ((1000L, 7L))
    assert(rows(root) === expect.toSet)
    // time travel under the merge
    assert(rows(root, version = 1L) === data.toSet)

    // pure insert: keys provably outside every file range -> no rewrite
    val c2 = TxnLog.mergeInto(spark, root,
      Seq((5000L, 1L)).toDF("k", "v"), "k", "m2")
    assert(c2.removed.isEmpty, "an out-of-range merge is a pure append")
    assert(rows(root).contains((5000L, 1L)))

    // a multi-row key makes the merge order-dependent: reject loudly
    intercept[IllegalArgumentException] {
      TxnLog.mergeInto(spark, root,
        Seq((1L, 1L), (1L, 2L)).toDF("k", "v"), "k", "m3")
    }
  }

  test("merge rewrites carry INSERT-grade metadata: non-key stats and blooms survive; a non-key predicate prunes freshly-merged files") {
    val root = freshRoot()
    // k = merge key, v = NON-key stat column, tag = bloom column
    val data = (1L to 64L).map(k => (k, k * 10L, k * 2654435761L % 1000000007L))
    val df = data.toDF("k", "v", "tag").repartitionByRange(8, $"k")
    val files = TxnLog.stage(df, root, "t1")
    val multi = TxnLog.statsForStaged(spark, root, "t1", Seq("k", "v", "tag"), files)
    val blooms = TxnLog.bloomsForStaged(spark, root, "t1", "tag", files)
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = multi, blooms = blooms, bloomCol = "tag",
      physSchema = Some(df.schema))

    // merge confined to keys 20..29: rewrites <= 3 of the 8 range files
    val src = (20L to 29L)
      .map(k => (k, k * 1000L, k * 2654435761L % 1000000007L))
      .toDF("k", "v", "tag")
    val c = TxnLog.mergeIntoKeys(spark, root, src, Seq("k"), "m1")
    assert(c.removed.nonEmpty && c.removed.size <= 3)
    assert(c.added.nonEmpty)

    // every rewritten file carries typed stats for EVERY column (the
    // INSERT contract) and a rebuilt bloom under the victims' column
    val st = TxnLog.snapshotState(root).toMap
    c.added.foreach { f =>
      val m = st(f)
      assert(Seq("k", "v", "tag").forall(m.stats.contains),
        s"merged file must stat every column, got ${m.stats.keySet}")
      assert(m.bloom.isDefined && m.bloomCol === "tag",
        "merged file must carry a rebuilt bloom on the victims' column")
    }

    // adversarial pruning proof on the NON-key column: merged rows
    // hold v = k*1000 (>= 20000); every untouched file's v <= 640.
    // Corrupt every file whose v-range excludes the probe — a correct
    // answer PROVES the non-key predicate pruned via the MERGED
    // files' stats (pre-fix, merge output carried key-only stats and
    // this scan would open a corrupted file and throw).
    corruptParquet(TxnLog.snapshotState(root).collect {
      case (f, m) if m.stats.get("v").exists(s => s.hi < 20000L) => f
    })
    val got = TxnLog.table(spark, root).filter($"v" >= 20000L)
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(got === (20L to 29L).map(k => (k, k * 1000L)).toSet,
      "non-key predicate must prune through merged files' stats")

    // point lookup on a MERGED row's tag works end-to-end through
    // readPoint even with the out-of-range files corrupted — the
    // rebuilt blooms (and stats) keep the lookup off dead files
    val probe = 25L * 2654435761L % 1000000007L
    assert(TxnLog.readPoint(spark, root, "tag", probe)
      .select("k").as[Long].collect().toSeq === Seq(25L),
      "rebuilt bloom must serve point lookups on merged files")
  }

  test("mergeInto: merge∥merge on overlapping keys conflicts; merge compacts deletion vectors in") {
    val root = freshRoot()
    val data = (1L to 16L).map(k => (k, k))
    val (f1, st1) = TxnLog.stageWithStatsFor(data.toDF("k", "v"), root, "t1", Seq("k"))
    TxnLog.commit(root, "append", f1, Nil, readVersion = 0L, txnId = "t1",
      multiStats = st1)
    // DV first: merge must not resurrect the deleted row
    TxnLog.deleteWhere(spark, root, col("k") === 3L, "d1")
    TxnLog.mergeInto(spark, root, Seq((1L, 100L)).toDF("k", "v"), "k", "m1")
    assert(rows(root) === data.filterNot(_._1 == 3L)
      .map { case (k, v) => (k, if (k == 1L) 100L else v) }.toSet)
    assert(TxnLog.snapshotState(root).forall(_._2.dv.isEmpty),
      "the merge rewrite must compact the vector away")

    // two merges racing on the same keys: the loser aborts. mb's
    // plan is fixed against readV (it would rewrite every file live
    // then); ma lands first and removes at least one of them
    val readV = TxnLog.currentVersion(root)
    val mbVictims = TxnLog.snapshotFiles(root, readV)
    TxnLog.mergeInto(spark, root, Seq((2L, 200L)).toDF("k", "v"), "k", "ma")
    intercept[TxnLog.ConflictException] {
      TxnLog.commit(root, "merge", Nil, removed = mbVictims,
        readVersion = readV, txnId = "mb")
    }
  }

  test("table(): arbitrary DataFrame and SQL filters drive log-stats file skipping through the optimizer") {
    val root = freshRoot()
    val data = (1L to 512L).map(k => (k, k * 2654435761L % 1000000007L))
    val (files, multi) = TxnLog.stageWithStatsFor(
      data.toDF("k", "tag").repartitionByRange(8, $"k"), root, "t1", Seq("k"))
    val blooms = TxnLog.bloomsForStaged(spark, root, "t1", "tag", files)
    // physSchema makes planning fully metadata-only: table() must not
    // read any footer, which the corruption below also PROVES
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      blooms = blooms, bloomCol = "tag", multiStats = multi,
      physSchema = Some(data.toDF("k", "tag").schema))
    val byRange = files.zip(TxnLog.snapshotState(root).map(_._2))

    // white-box: corrupt every file whose k-range is outside [100, 149]
    // — a .filter that still answers correctly PROVES the scan never
    // opened them, i.e. Catalyst's pushed filters reached the log
    corruptParquet(byRange.collect {
      case (f, m) if m.stats("k").hi < 100 || m.stats("k").lo > 149 => f
    })
    val t = TxnLog.table(spark, root)
    assert(t.filter($"k".between(100, 149)).as[(Long, Long)].collect().toSet ===
      data.filter(d => d._1 >= 100 && d._1 <= 149).toSet,
      "DataFrame range filter must plan against the log's file stats")
    // the same through pure SQL
    t.createOrReplaceTempView("txn_t")
    assert(spark.sql("SELECT k FROM txn_t WHERE k >= 100 AND k < 150")
      .as[Long].collect().toSet === (100L until 150L).toSet,
      "SQL WHERE must drive the same skipping")
    // bloom point lookup through SQL: probe a tag in a LIVE file
    val probe = 120L * 2654435761L % 1000000007L
    assert(spark.sql(s"SELECT k FROM txn_t WHERE tag = $probe")
      .as[Long].collect().toSeq === Seq(120L),
      "SQL equality on the bloom column must skip bloom-negative files")
    // a predicate the index cannot understand keeps every (live) file
    assert(t.filter($"k" % 7 === 0 && $"k".between(100, 149)).count() ===
      data.count(d => d._1 % 7 == 0 && d._1 >= 100 && d._1 <= 149))

    // deletion vectors apply through table()
    val root2 = freshRoot()
    val d2 = (1L to 16L).map(k => (k, k))
    val f2 = TxnLog.stage(d2.toDF("k", "tag"), root2, "t1")
    TxnLog.commit(root2, "append", f2, Nil, readVersion = 0L, txnId = "t1")
    TxnLog.deleteWhere(spark, root2, col("k") % 2 === 0, "d1")
    assert(TxnLog.table(spark, root2).as[(Long, Long)].collect().toSet ===
      d2.filter(_._1 % 2 == 1).toSet,
      "table() must apply deletion vectors like read()")
  }

  test("CHECK constraints: violating writes are rejected before publishing; constraints ride the log and checkpoints") {
    val root = freshRoot()
    append(root, "t1", Seq((1L, 10L)))
    TxnLog.setConstraint(root, "v_positive", "v > 0", "c1")
    assert(TxnLog.activeConstraints(root) === Map("v_positive" -> "v > 0"))

    // conforming streaming append lands
    TxnLog.appendOnce(Seq((2L, 20L)).toDF("k", "v"), root, "s", 0L)
    assert(rows(root) === Set((1L, 10L), (2L, 20L)))
    // violating batch: rejected, NOTHING published, head unchanged
    val headBefore = TxnLog.currentVersion(root)
    val e = intercept[TxnLog.ConstraintViolationException] {
      TxnLog.appendOnce(Seq((3L, 30L), (4L, -1L)).toDF("k", "v"), root, "s", 1L)
    }
    assert(e.getMessage.contains("v_positive") && e.getMessage.contains("1 row"))
    assert(TxnLog.currentVersion(root) === headBefore)
    assert(rows(root) === Set((1L, 10L), (2L, 20L)))
    // merge enforces too
    intercept[TxnLog.ConstraintViolationException] {
      TxnLog.mergeInto(spark, root, Seq((1L, -5L)).toDF("k", "v"), "k", "m1")
    }
    // a null predicate result counts as a violation (CHECK must PROVE)
    intercept[TxnLog.ConstraintViolationException] {
      TxnLog.appendOnce(Seq((5L, Option.empty[Long])).toDF("k", "v"), root, "s", 2L)
    }

    // constraints survive checkpoints; drop re-admits
    TxnLog.checkpoint(root)
    assert(TxnLog.activeConstraints(root) === Map("v_positive" -> "v > 0"))
    TxnLog.dropConstraint(root, "v_positive", "c2")
    TxnLog.appendOnce(Seq((6L, -60L)).toDF("k", "v"), root, "s", 3L)
    assert(rows(root).contains((6L, -60L)))
  }

  test("r12 review regressions: token validation, insert-insert merge conflict, staging vacuum") {
    val root = freshRoot()
    // a txnId that is not one file-name component is rejected at the
    // API boundary, and so is an empty constraint expression
    intercept[IllegalArgumentException] {
      TxnLog.commit(root, "append", Nil, Nil, readVersion = 0L, txnId = "my stream/b0")
    }
    intercept[IllegalArgumentException] {
      TxnLog.setConstraint(root, "c1", "", "cx")
    }
    // empty-table point lookup: empty result, no unresolved-column crash
    assert(TxnLog.readPoint(spark, root, "k", 1L).count() === 0L)

    // insert-insert merge race: both writers read the same snapshot,
    // both sources hold key 42, neither rewrites a file — the second
    // must STILL abort (key uniqueness is the merge contract)
    append(root, "base", Seq((1L, 10L)))
    TxnLog.mergeInto(spark, root, Seq((42L, 1L)).toDF("k", "v"), "k", "mx")
    // simulate the loser: a merge committed against the PRE-mx
    // snapshot (readVersion 1) whose planning saw no file overlap
    intercept[TxnLog.ConflictException] {
      TxnLog.commit(root, "merge", Nil, Nil, readVersion = 1L, txnId = "my",
        failOnConcurrentAppend = true)
    }

    // staging vacuum reclaims orphaned attempt dirs, never live ones
    val root3 = freshRoot()
    TxnLog.appendOnce(Seq((1L, 1L)).toDF("k", "v"), root3, "s", 0L)
    TxnLog.stage(Seq((2L, 2L)).toDF("k", "v"), root3, "crashed-attempt")
    val reclaimed = TxnLog.vacuumStaging(root3)
    assert(reclaimed.exists(_.endsWith("crashed-attempt")) && reclaimed.size === 1,
      s"exactly the orphan must go: $reclaimed")
    assert(TxnLog.read(spark, root3, Long.MaxValue).count() === 1L,
      "the committed attempt's files must survive staging vacuum")
  }

  test("bloom point lookup on a STRING key: the canonical UUID-lookup shape") {
    val root = freshRoot()
    val data = (1L to 256L).map(k => (k, f"doc-$k%04d-${k * 2654435761L % 100000}"))
    val (files, stats) = TxnLog.stageWithStatsFor(
      data.toDF("k", "uid").repartitionByRange(8, $"k"), root, "t1", Seq("k"))
    val blooms = TxnLog.bloomsForStaged(spark, root, "t1", "uid", files)
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats, blooms = blooms, bloomCol = "uid")
    val probe = data.find(_._1 == 137L).get._2
    val hit = TxnLog.readPoint(spark, root, "uid", probe)
    assert(hit.as[(Long, String)].collect().toSet === Set((137L, probe)))
    assert(hit.inputFiles.length <= 2,
      s"string bloom must skip most files, scanned ${hit.inputFiles.length} of 8")
    assert(TxnLog.readPoint(spark, root, "uid", "no-such-uid").count() === 0L)
  }

  test("multi-column stats: any statted column prunes; a partition-style column prunes like a partition scan") {
    val root = freshRoot()
    // k clustered 1..64 into 8 files; p = k/16 is a coarse bucket
    // (near-constant per file) — the partition-column shape
    val data = (1L to 64L).map(k => (k, k / 16, k * 10L))
    val (files, multi) = TxnLog.stageWithStatsFor(
      data.toDF("k", "p", "v").repartitionByRange(8, $"k"), root, "t1",
      cols = Seq("k", "p"))
    assert(files.size === 8 && multi.forall(_.keySet === Set("k", "p")))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = multi)

    // pruning works on BOTH columns independently
    assert(TxnLog.prunedFiles(root, "k", 20L, 29L).size <= 3)
    val partFiles = TxnLog.prunedFiles(root, "p", 2L, 2L)
    assert(partFiles.nonEmpty && partFiles.size <= 3,
      s"partition-equality pruning must skip non-matching files, kept ${partFiles.size} of 8")
    // an unstatted column never prunes
    assert(TxnLog.prunedFiles(root, "v", 0L, 0L).size === 8)

    // both reads stay exact
    assert(TxnLog.readRange(spark, root, "p", 2L, 2L)
      .select($"k").as[Long].collect().toSet ===
      data.filter(_._2 == 2L).map(_._1).toSet)
    // metadata-only aggregate works off EITHER column's map entry
    val agg = TxnLog.statsAggregate(spark, root, "p").head()
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) === ((64L, 0L, 4L)))

    // the per-column map survives a checkpoint (one F-line per column)
    TxnLog.checkpoint(root)
    assert(TxnLog.prunedFiles(root, "p", 2L, 2L).toSet === partFiles.toSet)
    assert(TxnLog.snapshotState(root).forall(_._2.stats.keySet === Set("k", "p")))
  }

  test("optimizeZorder: one transaction, content invariant, BOTH dimensions prune afterwards") {
    val root = freshRoot()
    // two independent uniform dims; arrival order clusters neither
    val data = (0L until 1024L).map(k => (k * 37 % 1024, k * 59 % 1024))
    val files = TxnLog.stage(
      data.toDF("x", "y").repartition(8), root, "t1")
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1")
    // unclustered: a narrow range on either dim overlaps every file
    assert(TxnLog.prunedFiles(root, "x", 0L, 127L).size === 8,
      "fixture: stat-less arrival order must not prune")

    val c = TxnLog.optimizeZorder(spark, root, "x", "y", nFiles = 8, txnId = "z1")
    assert(c.action === "zorder" && c.removed.toSet === files.toSet)
    // content is byte-for-byte the same rows
    assert(rows(root) === data.toSet)
    assert(rows(root, version = 1L) === data.toSet, "time travel under the rewrite")
    // an eighth of EITHER dimension's domain now touches a minority
    // of files — the property a single-column sort gives only to its
    // own column
    val xPruned = TxnLog.prunedFiles(root, "x", 0L, 127L)
    val yPruned = TxnLog.prunedFiles(root, "y", 0L, 127L)
    assert(xPruned.size <= 4, s"x-range must prune: ${xPruned.size} of 8")
    assert(yPruned.size <= 4, s"y-range must prune: ${yPruned.size} of 8")
    assert(TxnLog.readRange(spark, root, "y", 0L, 127L).as[(Long, Long)]
      .collect().toSet === data.filter(_._2 <= 127).toSet)

    // a concurrent append is untouched by OPTIMIZE (no file overlap):
    // both land, the appended rows simply stay unclustered
    val root2 = freshRoot()
    val f2 = TxnLog.stage(data.toDF("x", "y").repartition(4), root2, "t1")
    TxnLog.commit(root2, "append", f2, Nil, readVersion = 0L, txnId = "t1")
    val late = TxnLog.stage(Seq((9999L, 9999L)).toDF("x", "y"), root2, "late")
    TxnLog.optimizeZorder(spark, root2, "x", "y", nFiles = 4, txnId = "z1")
    TxnLog.commit(root2, "append", late, Nil, readVersion = 1L, txnId = "late")
    assert(rows(root2) === data.toSet + ((9999L, 9999L)))
  }

  test("timestamp-as-of time travel: strictly-increasing commit timestamps resolve versions deterministically") {
    val root = freshRoot()
    val c1 = append(root, "t1", Seq((1L, 10L)))
    val c2 = append(root, "t2", Seq((2L, 20L)))
    val c3 = append(root, "t3", Seq((3L, 30L)))
    assert(c1.ts < c2.ts && c2.ts < c3.ts,
      "commit timestamps must be strictly increasing even within one wall-clock tick")
    assert(TxnLog.versionAsOf(root, c2.ts) === 2L)
    assert(TxnLog.versionAsOf(root, c3.ts - 1) === 2L)
    assert(TxnLog.versionAsOf(root, c3.ts) === 3L)
    assert(TxnLog.versionAsOf(root, Long.MaxValue) === 3L)
    intercept[IllegalArgumentException] {
      TxnLog.versionAsOf(root, c1.ts - 1) // predates the table
    }
    assert(TxnLog.readAsOf(spark, root, c2.ts).as[(Long, Long)]
      .collect().toSet === Set((1L, 10L), (2L, 20L)))
  }

  test("bloom soundness: bloom-less files and foreign-column blooms are always scanned") {
    val root = freshRoot()
    val (f1, st1) = TxnLog.stageWithStatsFor(
      Seq((1L, 111L)).toDF("k", "tag"), root, "t1", Seq("k"))
    val bl1 = TxnLog.bloomsForStaged(spark, root, "t1", "tag", f1)
    TxnLog.commit(root, "append", f1, Nil, readVersion = 0L, txnId = "t1",
      multiStats = st1, blooms = bl1, bloomCol = "tag")
    // bloom-less commit: must always be scanned
    val f2 = TxnLog.stage(Seq((2L, 222L)).toDF("k", "tag"), root, "t2")
    TxnLog.commit(root, "append", f2, Nil, readVersion = 1L, txnId = "t2")
    // bloom over a DIFFERENT column: irrelevant for tag lookups
    val (f3, st3) = TxnLog.stageWithStatsFor(
      Seq((3L, 333L)).toDF("k", "tag"), root, "t3", Seq("k"))
    val bl3 = TxnLog.bloomsForStaged(spark, root, "t3", "k", f3)
    TxnLog.commit(root, "append", f3, Nil, readVersion = 2L, txnId = "t3",
      multiStats = st3, blooms = bl3, bloomCol = "k")
    assert(TxnLog.readPoint(spark, root, "tag", 222L)
      .as[(Long, Long)].collect().toSet === Set((2L, 222L)))
    assert(TxnLog.readPoint(spark, root, "tag", 333L)
      .as[(Long, Long)].collect().toSet === Set((3L, 333L)),
      "a k-bloom must never be probed as if it indexed tag")
  }

  test("r13: an Int probe of a Long-built bloom finds its rows (type-normalized hashing)") {
    val root = freshRoot()
    // xxhash64(Int) != xxhash64(Long) for the same value — pre-r13,
    // probing a long bloom column with an Int computed wrong bit
    // positions and silently pruned the containing file
    val data = (1L to 256L).map(k => (k, k * 7L))
    val (files, stats) = TxnLog.stageWithStatsFor(
      data.toDF("k", "tag").repartitionByRange(4, $"k"), root, "t1", Seq("k"))
    val blooms = TxnLog.bloomsForStaged(spark, root, "t1", "tag", files)
    assert(blooms.forall(_.startsWith("4n:")),
      "an integral bloom column must carry the normalization flag")
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats, blooms = blooms, bloomCol = "tag")
    // Int probe vs Long column: must not lose rows to a wrong-type hash
    assert(TxnLog.readPoint(spark, root, "tag", 84)
      .as[(Long, Long)].collect().toSet === Set((12L, 84L)))
    assert(TxnLog.readPoint(spark, root, "tag", 84L)
      .as[(Long, Long)].collect().toSet === Set((12L, 84L)))
  }

  test("r13: stats and blooms survive a root with URI-encodable characters") {
    // '#' and '%' percent-encode in input_file_name(); pre-r13 the
    // staging stat keys were not decoded, so every lookup missed and
    // the commit silently carried no stats — disabling all skipping
    val dir = Files.createTempDirectory("graft-enc")
    // '%', '#' and a space are legal path bytes that URI-encode, the
    // exact hazard class
    val root = dir.resolve("100%odd #table").toString
    TxnLog.init(root)
    val data = (1L to 64L).map(k => (k, k * 2654435761L % 1000000007L))
    val (files, stats) = TxnLog.stageWithStatsFor(
      data.toDF("k", "tag").repartitionByRange(4, $"k"), root, "t1", Seq("k"))
    val blooms = TxnLog.bloomsForStaged(spark, root, "t1", "tag", files)
    assert(stats.forall(_.contains("k")),
      "every staged file must resolve a stat under an encodable root")
    assert(blooms.forall(_.nonEmpty),
      "every staged file must resolve a bloom under an encodable root")
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats, blooms = blooms, bloomCol = "tag")
    assert(TxnLog.prunedFiles(root, "k", 1L, 5L).size < files.size,
      "range pruning must actually skip files on an encodable root")
    assert(TxnLog.readRange(spark, root, "k", 1L, 5L).count() === 5L)
    // multi-column stats take the same decoded-key path
    val multi = TxnLog.statsForStaged(spark, root, "t1", Seq("k", "tag"), files)
    assert(multi.forall(_.nonEmpty))
  }

  test("r13: deleteWhereKeys — join-driven keyed retraction, stats-pruned, one DV row per file") {
    val root = freshRoot()
    val (files, stats) = TxnLog.stageWithStatsFor(
      (1L to 1024L).map(k => (k, k * 3L)).toDF("k", "v")
        .repartitionByRange(8, $"k"), root, "t1", Seq("k"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats)
    // keys live in two files' ranges only; the scan must stay pruned
    val keys = Seq(5L, 6L, 7L, 1020L).toDF("k")
    val c = TxnLog.deleteWhereKeys(spark, root, keys, "k", "d1").get
    assert(c.dvFiles.size === 2,
      s"4 keys span 2 of 8 file ranges; got DVs on ${c.dvFiles.size} files")
    assert(TxnLog.read(spark, root).as[(Long, Long)].collect().toSet ===
      (1L to 1024L).filterNot(Set(5L, 6L, 7L, 1020L)).map(k => (k, k * 3L)).toSet)
    // no matching key: no version burned
    assert(TxnLog.deleteWhereKeys(spark, root,
      Seq(9999L).toDF("k"), "k", "d2").isEmpty)
    // a key frame too large to broadcast still works (shuffled semi-join)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val big = spark.range(1, 200).toDF("k")
      val c2 = TxnLog.deleteWhereKeys(spark, root, big, "k", "d3").get
      assert(c2.dvFiles.nonEmpty)
    }
    // keys 1..199: 196 newly dead (5,6,7 were already retracted)
    assert(TxnLog.read(spark, root).count() === 1024L - 4 - 196)
  }

  test("r13: recorded file sizes — the SQL surface plans with every data file ABSENT from the filesystem") {
    val root = freshRoot()
    val df = (1L to 64L).map(k => (k, k * 2L)).toDF("k", "v").repartitionByRange(4, $"k")
    val files = TxnLog.stage(df, root, "t1")
    val multi = TxnLog.statsForStaged(spark, root, "t1", Seq("k"), files)
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = multi, physSchema = Some(df.schema))
    assert(TxnLog.snapshotState(root).forall(_._2.size >= 0L),
      "every committed file must carry its recorded size")
    // hide the data: schema, index construction and file listing must
    // all come from the LOG alone (pre-r13 this stat-ed every file —
    // at cloud scale a HEAD request per live file at every plan)
    files.foreach(f => Files.move(java.nio.file.Paths.get(f),
      java.nio.file.Paths.get(f + ".hidden")))
    try {
      val t = TxnLog.table(spark, root)
      assert(t.schema.fieldNames.toSeq === Seq("k", "v"))
      assert(t.inputFiles.length === 4)
    } finally files.foreach(f => Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    // data restored: the same plan executes correctly
    assert(TxnLog.table(spark, root).filter($"k" <= 10L).count() === 10L)
    // sizes survive checkpoints
    TxnLog.checkpoint(root)
    assert(TxnLog.snapshotState(root).forall(_._2.size >= 0L))
  }

  test("r13: dense deletion vectors spill to sidecars — log records stay metadata-thin, every path resolves refs") {
    val root = freshRoot()
    // ONE 100k-row file: a half-delete's bitmap is 12.5 KB = 25,000
    // hex chars — far past the 4,096-char inline threshold
    val (files, stats) = TxnLog.stageWithStatsFor(
      spark.range(0, 100000).selectExpr("id AS k", "id * 3 AS v").coalesce(1),
      root, "t1", Seq("k"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats)
    val c = TxnLog.deleteWhere(spark, root, col("k") % 2 === 0, "d1").get
    assert(c.dvs.forall(_.startsWith("@")),
      s"a dense vector must spill to a sidecar ref, got inline of ${c.dvs.map(_.length)}")
    // the RECORD is metadata-thin even though 50k rows died
    val rec = java.nio.file.Files.list(java.nio.file.Paths.get(root, "_log"))
      .toList.asScala.find(_.getFileName.toString == f"${2L}%020d.json").get
    assert(java.nio.file.Files.size(rec) < 2048,
      s"the delete record must stay small, got ${java.nio.file.Files.size(rec)} bytes")
    // reads resolve the ref
    assert(TxnLog.read(spark, root).count() === 50000L)
    // the delete feed reads pre-images through the sidecar
    assert(TxnStream.readDeletes(spark, root, 1L, 2L).count() === 50000L)
    // a SECOND delete on the same file unions through the ref
    TxnLog.deleteWhere(spark, root, col("k") % 3 === 0 && col("k") % 2 =!= 0, "d2")
    val expect = (0L until 100000L).filterNot(k => k % 2 == 0 || k % 3 == 0)
    assert(TxnLog.read(spark, root).count() === expect.size.toLong)
    // the checkpoint re-spills the materialized union: thin entry,
    // correct reads from checkpoint-seeded resolution
    TxnLog.checkpoint(root)
    val ckpt = java.nio.file.Files.list(java.nio.file.Paths.get(root, "_log"))
      .toList.asScala.find(_.getFileName.toString.endsWith(".checkpoint")).get
    assert(java.nio.file.Files.size(ckpt) < 4096,
      s"the checkpoint must stay thin, got ${java.nio.file.Files.size(ckpt)} bytes")
    assert(TxnLog.read(spark, root).count() === expect.size.toLong)
    // time travel under both deletes still resolves
    assert(TxnLog.read(spark, root, version = 1L).count() === 100000L)
    assert(TxnLog.read(spark, root, version = 2L).count() === 50000L)
    // vacuumStaging reclaims ORPHAN sidecars (losing attempts) but
    // never a referenced one
    val dvDir = java.nio.file.Paths.get(root, "_log", "dv")
    val orphan = dvDir.resolve("dead-a0123456789ab.dv")
    java.nio.file.Files.writeString(orphan, "ff")
    val vacuumed = TxnLog.vacuumStaging(root)
    assert(vacuumed.contains(orphan.toString))
    assert(TxnLog.read(spark, root).count() === expect.size.toLong,
      "referenced sidecars must survive the orphan sweep")

    // density selection reads through the ref; compaction clears it
    assert(TxnLog.compactionCandidates(root, 0.5).size === 1)
    TxnLog.optimizeCompactDeletes(spark, root, 0.5, "oc1")
    assert(TxnLog.snapshotState(root).forall(_._2.dv.isEmpty))
    assert(TxnLog.read(spark, root).count() === expect.size.toLong)
  }

  test("r13: column rename — one metadata commit, era-correct time travel, writers and skipping follow the map") {
    val root = freshRoot()
    val base = (1L to 64L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartitionByRange(4, $"k")
    val (files, stats) = TxnLog.stageWithStatsFor(base, root, "t1", Seq("k"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats,
      physSchema = Some(base.schema))              // v1

    TxnLog.renameColumn(root, "v", "amount", "r1")                // v2
    assert(TxnLog.snapshotFiles(root) === files,
      "a rename must move ZERO data files")
    assert(TxnLog.read(spark, root).columns.toSeq === Seq("k", "amount"))
    assert(TxnLog.tableSchema(root).get.fieldNames.toSeq === Seq("k", "amount"))
    assert(TxnLog.columnMapping(root) === Map("amount" -> "v"))
    // time travel BEFORE the rename shows that era's own names
    assert(TxnLog.read(spark, root, version = 1L).columns.toSeq === Seq("k", "v"))
    // invalid renames are rejected against the logged schema
    intercept[IllegalArgumentException] {
      TxnLog.renameColumn(root, "nope", "x", "r-bad1") }
    intercept[IllegalArgumentException] {
      TxnLog.renameColumn(root, "k", "amount", "r-bad2") }

    // a writer using the NEW name stages files under the stable
    // PHYSICAL name — every generation stores the same column
    val extra = (65L to 80L).map(k => (k, k * 10L)).toDF("k", "amount")
    val c3 = TxnLog.appendOnce(extra, root, "ing", 0L)            // v3
    assert(spark.read.parquet(c3.added: _*).columns.toSeq === Seq("k", "v"),
      "staged files must carry the physical name")
    assert(TxnLog.read(spark, root).as[(Long, Long)].collect().toSet ===
      (1L to 80L).map(k => (k, k * 10L)).toSet)

    TxnLog.renameColumn(root, "k", "id", "r2")                    // v4
    // logical-named mutations flow through the map: delete, keyed
    // retraction, merge, range read
    TxnLog.deleteWhere(spark, root, col("id") === 7L, "d1")
    TxnLog.deleteWhereKeys(spark, root, Seq(9L).toDF("id"), "id", "d2")
    TxnLog.mergeInto(spark, root,
      Seq((2L, 999L)).toDF("id", "amount"), "id", "m1")
    val expect = (1L to 80L).filterNot(Set(7L, 9L))
      .map(k => (k, if (k == 2L) 999L else k * 10L)).toSet
    assert(TxnLog.read(spark, root).as[(Long, Long)].collect().toSet === expect)
    assert(TxnLog.readRange(spark, root, "id", 1L, 10L).columns.toSeq ===
      Seq("id", "amount"))
    assert(TxnLog.readRange(spark, root, "id", 1L, 10L)
      .as[(Long, Long)].collect().toSet === expect.filter(_._1 <= 10L))
    // the change feed surfaces current logical names
    assert(TxnStream.readChanges(spark, root, fromExclusive = 0L)
      .columns.contains("id"))

    // renames ride checkpoints
    TxnLog.checkpoint(root)
    assert(TxnLog.read(spark, root).columns.toSeq === Seq("id", "amount"))

    // skipping SURVIVES the rename: corrupt every v1 file whose key
    // range is above the probe — the logical predicate must push
    // through the rename projection to the physical stats
    val metas = TxnLog.snapshotState(root)
    corruptParquet(metas.collect {
      case (f, m) if m.stats.get("k").exists(_.lo > 32) => f })
    assert(TxnLog.table(spark, root).filter($"id".between(3L, 5L))
      .select($"id").as[Long].collect().toSet === Set(3L, 4L, 5L),
      "pruning on the physical stats must serve the renamed predicate")
  }

  test("r13: optimizeCompactDeletes — dense-DV files rewritten clean, sparse vectors kept, history intact") {
    val root = freshRoot()
    val (files, stats) = TxnLog.stageWithStatsFor(
      (1L to 1024L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(4, $"k"), root, "t1", Seq("k"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats)                                             // v1
    // dense deletes in the low key range (~90% of file 1), sparse
    // everywhere (every 97th key)
    TxnLog.deleteWhere(spark, root, col("k") <= 230L, "d1")           // v2
    TxnLog.deleteWhere(spark, root, col("k") % 97 === 0, "d2")        // v3
    val deleted = (1L to 1024L).filter(k => k <= 230 || k % 97 == 0).toSet
    val expectLive = (1L to 1024L).filterNot(deleted).map(k => (k, k)).toSet

    // selection is metadata-only and threshold-driven
    assert(TxnLog.compactionCandidates(root, 0.5).size === 1,
      "only the dense-DV file crosses 50%")
    assert(TxnLog.compactionCandidates(root, 0.001).size === 4,
      "at a trivial threshold every DV'd file is a candidate")

    val preV = TxnLog.currentVersion(root)
    val c = TxnLog.optimizeCompactDeletes(spark, root, 0.5, "oc1").get
    assert(c.removed.size === 1 && c.removed.forall(files.contains),
      "exactly the dense file is rewritten")
    // content invariant, at head and through every surviving vector
    assert(rows(root) === expectLive)
    val state = TxnLog.snapshotState(root)
    assert(state.count(_._2.dv.isDefined) === 3,
      "sparse vectors on untouched files survive; the rewrite's die with it")
    assert(state.collect { case (f, m) if c.added.contains(f) => m }
      .forall(m => m.dv.isEmpty && m.stats.get("k").exists(_.rows >= 0)),
      "rewritten files carry no vector and fresh stats (metadata-agg eligible again)")
    // the metadata aggregate answers the live count again
    assert(TxnLog.statsAggregate(spark, root, "k").head().getLong(0) ===
      expectLive.size.toLong)
    // time travel: pre-compaction versions still apply their vectors
    assert(rows(root, preV) === expectLive)
    assert(rows(root, 1L) === (1L to 1024L).map(k => (k, k)).toSet)
    // idempotent policy: nothing crosses the threshold now
    assert(TxnLog.optimizeCompactDeletes(spark, root, 0.5, "oc2").isEmpty)
    // a later append is untouched by compaction and lands freely
    append(root, "t2", Seq((9999L, 1L)))
    assert(rows(root) === expectLive + ((9999L, 1L)))
  }

  test("r13: typed stats — string/timestamp/date/double predicates and IS NULL prune through table()") {
    import org.apache.spark.sql.functions.{date_add, lit, timestamp_seconds, when}
    val root = freshRoot()
    val df = (1L to 1024L).map(k => (k, f"n$k%04d")).toDF("k", "name")
      .withColumn("ts", timestamp_seconds(col("k")))
      .withColumn("d", date_add(lit("2020-01-01").cast("date"), col("k").cast("int")))
      .withColumn("x", col("k").cast("double") / 2)
      .withColumn("opt", when(col("k") > 200L, col("name"))) // nulls iff k <= 200
      .repartitionByRange(4, col("k"))
    val files = TxnLog.stage(df, root, "t1")
    // k's stat is hand-built the way a caller of the raw commit API
    // builds one: FileStat(lo, hi, rows), null count unknown (-1)
    val handK = TxnLog.statsForStaged(spark, root, "t1", Seq("k"), files)
      .map { m => val st = m("k"); TxnLog.FileStat(st.lo, st.hi, st.rows) }
    val multi = TxnLog.statsForStaged(spark, root, "t1",
      Seq("name", "ts", "d", "x", "opt"), files)
      .zip(handK).map { case (m, k) => m + ("k" -> k) }
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = multi, physSchema = Some(df.schema))

    // the stats are TYPED, with null counts
    val metas = TxnLog.snapshotState(root).map(_._2)
    assert(metas.map(_.stats("k")) === handK && handK.forall(_.nulls == -1L),
      "a long stat with unknown nulls must read back unchanged from the record")
    assert(metas.forall(_.stats("name").typ == "s"))
    assert(metas.forall(_.stats("ts").typ == "t"))
    assert(metas.forall(_.stats("d").typ == "d"))
    assert(metas.forall(_.stats("x").typ == "f"))
    assert(metas.forall(_.stats("k").typ == "l"))
    assert(metas.forall(_.stats("name").nulls == 0L))
    assert(metas.map(_.stats("opt").nulls).sum === 200L)

    // white-box: corrupt every file whose k-range starts above the
    // query region — every assertion below answers correctly ONLY if
    // the typed stats actually pruned those files out of the scan
    val byRange = files.zip(metas)
    corruptParquet(byRange.collect { case (f, m) if m.stats("k").lo > 210 => f })
    def t = TxnLog.table(spark, root)
    val expectNames = (100L to 149L).map(k => f"n$k%04d").toSet
    assert(t.filter($"name" >= "n0100" && $"name" <= "n0149")
      .select($"name").as[String].collect().toSet === expectNames,
      "string range must prune on binary-order string stats")
    assert(t.filter($"name" === "n0123").count() === 1L,
      "string equality must prune")
    assert(t.filter($"name".startsWith("n01")).count() === 100L,
      "startsWith must prune on the prefix-range logic")
    assert(t.filter($"ts" < timestamp_seconds(lit(200))).count() === 199L,
      "timestamp predicates must compare micros against micros stats")
    assert(t.filter($"d" < lit("2020-07-19").cast("date")).count() === 199L,
      "date predicates must compare days against days stats")
    assert(t.filter($"x" < 100.0).count() === 199L,
      "double predicates must prune on double stats")
    assert(t.filter($"opt".isNull).count() === 200L,
      "IS NULL must prune files whose recorded null count is zero")

    // typed stats survive the checkpoint round trip (typed F-lines),
    // the hand-built k stat with its unknown null count included
    TxnLog.checkpoint(root)
    assert(TxnLog.snapshotState(root).map(_._2.stats) === metas.map(_.stats))
    assert(TxnLog.table(spark, root)
      .filter($"name".startsWith("n01")).count() === 100L)

    // soundness: a fresh table queried on an UNSTATTED string column
    // keeps every file (no silent pruning without stats)
    val root2 = freshRoot()
    val df2 = (1L to 64L).map(k => (k, f"v$k%03d")).toDF("k", "s")
    val f2 = TxnLog.stage(df2.repartitionByRange(4, $"k"), root2, "t1")
    val m2 = TxnLog.statsForStaged(spark, root2, "t1", Seq("k"), f2)
    TxnLog.commit(root2, "append", f2, Nil, readVersion = 0L, txnId = "t1",
      multiStats = m2, physSchema = Some(df2.schema))
    assert(TxnLog.table(spark, root2).filter($"s" === "v050").count() === 1L)
  }

  test("r13: executor-built DV bitmaps — a 50% delete collects one row per file, bitmaps exact") {
    val root = freshRoot()
    val (files, stats) = TxnLog.stageWithStatsFor(
      (0L until 32768L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(8, $"k"), root, "t1", Seq("k"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats)
    // the regime the r12 per-row collect shipped 16k rows to the
    // driver for: the aggregate result is structurally one row per
    // touched file (dvBitmaps groups by __fp), O(files × bitmap-bytes)
    val c = TxnLog.deleteWhere(spark, root, col("k") % 2 === 0, "d1").get
    assert(c.dvFiles.size === 8, "every file holds even keys")
    // bitmap exactness: committed hex has exactly the even bits set
    val survivors = TxnLog.read(spark, root).as[(Long, Long)].collect()
    assert(survivors.length === 16384 && survivors.forall(_._1 % 2 == 1))
    val deadBits = c.dvs.map(_.map(ch =>
      Integer.bitCount(Integer.parseInt(ch.toString, 16))).sum).sum
    assert(deadBits === 16384, s"expected 16384 set bits, got $deadBits")
  }
  test("rowCountFromStats (r18, X-V6): metadata-only live count, DV-aware; None without stats") {
    val root = freshRoot()
    val data = (1L to 100L).map(k => (k, k * 2L))
    val (files, stats) = TxnLog.stageWithStatsFor(
      data.toDF("k", "v").repartitionByRange(4, $"k"), root, "t1", Seq("k"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L, txnId = "t1",
      multiStats = stats)
    assert(TxnLog.rowCountFromStats(root) === Some(100L))
    // a deletion vector subtracts its set bits — still zero tasks
    TxnLog.deleteWhere(spark, root, col("k") % 10 === 0, "d1")
    assert(TxnLog.rowCountFromStats(root) === Some(90L))
    assert(TxnLog.rowCountFromStats(root).get ===
      TxnLog.read(spark, root).count(), "metadata count must equal scan count")
    // time travel: the pre-delete snapshot still prices at 100
    assert(TxnLog.rowCountFromStats(root, version = 1L) === Some(100L))
    // a stat-less raw-API file makes the metadata count undefined
    val raw = freshRoot()
    append(raw, "r1", Seq((1L, 1L)))
    assert(TxnLog.rowCountFromStats(raw) === None,
      "files without recorded counts must refuse, not guess")
  }
}
