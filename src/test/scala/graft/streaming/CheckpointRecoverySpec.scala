package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** S-4 — fault tolerance: a stateful update-mode aggregation stopped
  * and restarted from its checkpoint must resume offsets AND
  * aggregation state (not recount from zero, not double-count).
  * Transport is the `text` file source (same `value: string` contract
  * as the Kafka source), so restart semantics are exercised end-to-end
  * through the real checkpoint machinery.
  */
class CheckpointRecoverySpec extends SparkTestBase {
  import spark.implicits._

  /** Run the query twice on one checkpoint, the first run under
    * `firstConf` and the restart under `restartConf`, and check the
    * resumed totals. Returns each run's state-store instance count. */
  private def recoveryScenario(tag: String,
                               firstConf: Seq[(String, String)] = Nil,
                               restartConf: Seq[(String, String)] = Nil): (Long, Long) = {
    val root = Files.createTempDirectory(s"graft-recovery-$tag").toString
    val (srcDir, chkDir, outDir) = (s"$root/src", s"$root/chk", s"$root/out")
    Files.createDirectories(Paths.get(srcDir))

    val eventsA = VoteGenerator.votes(60)
    val eventsB = VoteGenerator.votes(40, seed = 99)
    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(srcDir, name), String.join("\n", lines: _*).getBytes)

    def runOnce(conf: Seq[(String, String)]): Long = withSQLConf(conf: _*) {
      val parsed = VotePipeline.parse(spark.readStream.text(srcDir))
      val q = VotePipeline.votesPerCandidate(parsed)
        .writeStream.outputMode("update")
        .option("checkpointLocation", chkDir)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outDir)
        }
        .start()
      q.processAllAvailable(); q.stop()
      stateStoreInstances(q).head
    }

    writeFile("a.json", eventsA)
    val first = runOnce(firstConf)
    writeFile("b.json", eventsB)
    val restart = runOnce(restartConf) // fresh query object, same checkpoint -> must RESUME

    // latest update per candidate == batch aggregate over ALL events
    val updates = spark.read.parquet(outDir)
    val latest = updates
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("candidate_id").orderBy(col("batch_id").desc)))
      .filter(col("rn") === 1)
      .select("candidate_id", "total_votes")
    val batch = VotePipeline.votesPerCandidate(VotePipeline.parse(
        (eventsA ++ eventsB).toDF("value")))
      .select("candidate_id", "total_votes")
    val mismatches = latest.join(batch, Seq("candidate_id"))
      .filter(latest("total_votes") =!= batch("total_votes")).count()
    assert(mismatches === 0,
      "restarted query must carry prior state (no zero-restart, no double count)")
    assert(latest.agg(sum("total_votes")).head.getLong(0) === 100L)
    (first, restart)
  }

  test("update-mode aggregation resumes from checkpoint across a restart") {
    recoveryScenario("hdfs")
  }

  test("checkpoint recovery holds under the RocksDB state store") {
    // same scenario, state backed by RocksDB -- the provider a 100 TB
    // stream deploys with (keyed state off-heap, spillable); recovery
    // must restore RocksDB snapshots + changelog identically
    withStateStoreProvider(RocksDbProvider) {
      recoveryScenario("rocksdb")
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == RocksDbProvider)
    }
  }

  test("a checkpoint started with 4 shuffle partitions keeps 4 state stores after a restart") {
    val counts = recoveryScenario("keep4", firstConf = Seq("spark.sql.shuffle.partitions" -> "4"))
    assert(counts === (4L, 4L))
  }

  test("a checkpoint started with the session default keeps 1 state store after a restart") {
    val counts = recoveryScenario("keep1", restartConf = Seq("spark.sql.shuffle.partitions" -> "4"))
    assert(counts === (1L, 1L))
  }
}
