package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** The DataSource V2 streaming source over the transaction log
  * ([[TxnLogSourceProvider]]): `spark.readStream` drives a TxnLog
  * table with commit-version offsets, admission control, engine
  * checkpointing, and — composed with [[TxnLog.appendOnce]] —
  * exactly-once delivery end to end. DuckDB cannot run streams; the
  * batch change feed these micro-batches must agree with IS
  * hash-checked by the driver (`tx_stream_changes`).
  */
class TxnStreamSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String = {
    val root = Files.createTempDirectory("graft-txnsrc").toString
    TxnLog.init(root)
    root
  }

  private def append(root: String, txnId: String, data: Seq[(Long, Long)]): TxnLog.Commit = {
    val df = data.toDF("k", "v")
    val files = TxnLog.stage(df, root, txnId)
    TxnLog.commit(root, "append", files, Nil,
      readVersion = TxnLog.currentVersion(root), txnId = txnId,
      physSchema = Some(df.schema))
  }

  private def stream(root: String, maxVersions: Long): DataFrame =
    spark.readStream.format("graft-txn")
      .option("root", root)
      .option("maxVersionsPerTrigger", maxVersions.toString)
      .load()

  test("readStream over the log: version-stamped rows, admission control, live commits picked up") {
    val root = freshRoot()
    append(root, "t1", Seq((1L, 10L), (2L, 20L)))
    append(root, "t2", Seq((3L, 30L)))
    append(root, "t3", Seq((4L, 40L)))

    val q = stream(root, maxVersions = 1)
      .writeStream.format("memory").queryName("txnsrc_a").start()
    try {
      q.processAllAvailable()
      val got = spark.table("txnsrc_a").as[(Long, Long, Long)].collect().toSet
      assert(got === Set((1L, 10L, 1L), (2L, 20L, 1L), (3L, 30L, 2L), (4L, 40L, 3L)),
        "every committed row must arrive, stamped with its commit version")
      // admission control: 1 version per trigger → ≥3 non-empty batches
      val batches = spark.table("txnsrc_a")
        .select($"_commit_version").distinct().count()
      assert(batches === 3L)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        s"3 versions at maxVersionsPerTrigger=1 must take >=3 micro-batches, " +
          s"got ${q.recentProgress.map(_.numInputRows).mkString(",")}")

      // a commit landing while the stream runs is picked up
      append(root, "t4", Seq((5L, 50L)))
      q.processAllAvailable()
      assert(spark.table("txnsrc_a").count() === 5L)
    } finally q.stop()
  }

  test("maxBytesPerTrigger: byte-based admission from recorded file sizes; a giant commit still admits") {
    val root = freshRoot()
    (0 until 4).foreach(i => append(root, s"t$i",
      (1L to 512L).map(k => (i * 1000L + k, k))))
    val perVersion = TxnLog.commits(root).head.sizes.sum
    assert(perVersion > 0, "commits must carry recorded sizes")
    // cap to ~1.5 versions of bytes: each batch admits exactly one
    // version (the second would cross the cap)
    val q = spark.readStream.format("graft-txn")
      .option("root", root)
      .option("maxBytesPerTrigger", (perVersion * 3 / 2).toString)
      .load()
      .writeStream.format("memory").queryName("txnsrc_bytes").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txnsrc_bytes").count() === 4 * 512L)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        s"a 1.5-version byte cap must take one version per batch, got " +
          q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
    // a cap SMALLER than any single commit must still make progress
    val q2 = spark.readStream.format("graft-txn")
      .option("root", root).option("maxBytesPerTrigger", "1")
      .load()
      .writeStream.format("memory").queryName("txnsrc_bytes1").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("txnsrc_bytes1").count() === 4 * 512L,
        "a sub-commit byte cap must admit one version per batch, not wedge")
    } finally q2.stop()
  }

  test("checkpoint restart resumes at the version watermark; appendOnce makes the pipeline exactly-once") {
    val src = freshRoot()
    val target = freshRoot()
    val ckpt = Files.createTempDirectory("graft-txnsrc-ckpt").toString
    append(src, "t1", (1L to 4L).map(k => (k, k * 10L)))
    append(src, "t2", (5L to 8L).map(k => (k, k * 10L)))

    def run(): Unit = {
      val q = stream(src, maxVersions = 1)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          TxnLog.appendOnce(df.drop(TxnStream.CommitVersionCol),
            target, streamId = "mirror", batchId)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    run()
    def targetRows() = TxnLog.read(spark, target).as[(Long, Long)].collect().toSeq
    assert(targetRows().sorted === (1L to 8L).map(k => (k, k * 10L)),
      "first run must deliver both source versions exactly once")

    // restart from the same checkpoint: nothing re-delivered, new
    // commits flow — across BOTH dedup layers (engine offsets + the
    // target's txn ledger)
    append(src, "t3", Seq((9L, 90L)))
    run()
    assert(targetRows().sorted === (1L to 9L).map(k => (k, k * 10L)),
      "restart must resume at the committed version watermark, no duplicates")

    // a third run with no new source commits is a no-op
    run()
    assert(targetRows().size === 9)
  }

  test("a RENAMED table streams correctly: physical files, logical output columns") {
    val root = freshRoot()
    append(root, "t1", Seq((1L, 10L), (2L, 20L)))
    TxnLog.renameColumn(root, "v", "amount", "r1")
    // a post-rename writer stages physical names through the map
    TxnLog.appendOnce(Seq((3L, 30L)).toDF("k", "amount"), root, "ing", 0L)
    val q = stream(root, maxVersions = Long.MaxValue)
      .writeStream.format("memory").queryName("txnsrc_ren").start()
    try {
      q.processAllAvailable()
      val t = spark.table("txnsrc_ren")
      assert(t.columns.toSeq === Seq("k", "amount", TxnStream.CommitVersionCol),
        "the stream must surface the current LOGICAL names")
      assert(t.select($"k", $"amount").as[(Long, Long)].collect().toSet ===
        Set((1L, 10L), (2L, 20L), (3L, 30L)),
        "rows from both schema eras must decode through the pinned physical schema")
    } finally q.stop()
  }

  test("the streamed feed equals the batch change feed; schema comes from the log") {
    val root = freshRoot()
    append(root, "t1", Seq((1L, 10L)))
    append(root, "t2", Seq((2L, 20L)))
    val q = stream(root, maxVersions = Long.MaxValue)
      .writeStream.format("memory").queryName("txnsrc_c").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("txnsrc_c").collect().toSet
      val batch = TxnStream.readChanges(spark, root, fromExclusive = 0L).collect().toSet
      assert(streamed === batch,
        "micro-batched rows must equal the batch change feed bit for bit")
    } finally q.stop()
  }
}
