package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** `df.writeStream.toTable("graft.db.t")` — the STREAMING write half
  * of the catalog, closing the loop with `readStream.table`: the same
  * pipeline can now read AND write the lakehouse through SQL names
  * (reference behavior: `spark_stream.py:66–84` writes two streams to
  * sinks; here the sink is the transaction log itself).
  *
  * Exactly-once by construction, with NO side offset store:
  *
  *  - each epoch's tasks write parquet into a per-run staging
  *    directory (`data/stream-<queryId>-a<run>-e<epoch>/`) through
  *    the shared [[StagedParquet]] writer — fully distributed, the
  *    driver sees (path, rowCount) messages only;
  *  - `commit(epochId)` publishes ONE log record whose txnId is
  *    `stream-<queryId>-e<epochId>`. `queryId` is Structured
  *    Streaming's STABLE query id (persisted in the checkpoint's
  *    metadata file, unchanged across restarts), so a REPLAYED epoch —
  *    crash after the table commit but before the checkpoint's own
  *    commit marker — resolves to its existing record inside
  *    [[TxnLog.commit]]'s txnId ledger and publishes nothing: the
  *    replay's freshly staged bytes orphan for [[TxnLog.vacuumStaging]]
  *    (the Delta `txnAppId`/`txnVersion` idempotent-writer contract,
  *    same as [[TxnLog.appendOnce]] one layer down);
  *  - CHECK constraints are enforced per epoch BEFORE the commit
  *    (one re-read of the staged batch, only when constraints exist):
  *    a violating micro-batch fails the epoch and publishes nothing;
  *  - typed per-file stats are collected in one distributed pass, so
  *    stream-written files prune and metadata-aggregate exactly like
  *    batch-written ones;
  *  - every [[TxnLog.CheckpointInterval]]-th commit auto-checkpoints,
  *    keeping a long-lived ingest stream's per-commit cost O(tail).
  *
  * Output modes: APPEND publishes each epoch's rows as a
  * `stream-append`. COMPLETE (`replaceEach = true` — Spark signals it
  * by calling `truncate()` on the write builder before `toStreaming`)
  * publishes each epoch as ONE honest `stream-replace` transaction:
  * removed = the live snapshot at commit time, added = the epoch's
  * full result — the same single-commit swap INSERT OVERWRITE / RTAS
  * use, so time travel keeps every epoch's aggregate and a replayed
  * epoch still resolves through the txnId ledger. This is the
  * reference's own topology (`spark_stream.py:58–84`: a streaming
  * aggregate materialized at a sink) landing in the lakehouse.
  * UPDATE mode takes the `mergeKey` write option
  * ([[GraftStreamingUpsertWrite]]: per-epoch keyed MERGE on the same
  * exactly-once ledger); without the option it stays structurally
  * rejected — a blind update-as-append would corrupt aggregates.
  */
private abstract class GraftStreamingStaging(root: String,
                                             logicalSchema: StructType,
                                             queryId: String) extends StreamingWrite {

  protected def spark = SparkSession.active

  // staged files carry PHYSICAL names, like every other write path
  protected val physSchema = StagedParquet.physicalSchema(root, logicalSchema)

  /** Per-RUN token: restarts (and speculative duplicate drivers)
    * stage into their own directories and can never clobber another
    * attempt's files — the [[TxnLog.stageAttempt]] contract.
    */
  protected val runToken = s"stream-$queryId-a${TxnLog.uuid12}"

  protected def epochDir(epochId: Long): String = s"$runToken-e$epochId"

  /** The exactly-once txnId: stable across restarts (queryId persists
    * in the checkpoint), unique per epoch.
    */
  protected def epochTxnId(epochId: Long): String = s"stream-$queryId-e$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(Paths.get(root, "data").toString, runToken,
      StagedParquet(spark, physSchema))

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftFileMessage(p, _) => Files.deleteIfExists(Paths.get(p)); ()
      case _                      => ()
    }
}

private class GraftStreamingWrite(root: String, logicalSchema: StructType,
                                  queryId: String,
                                  replaceEach: Boolean)
  extends GraftStreamingStaging(root, logicalSchema, queryId) {

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val txnId = epochTxnId(epochId)
    TxnLog.withTxnLock(txnId) {
      if (TxnLog.findCommit(root, txnId).isEmpty) {
        val files = messages.collect {
          case GraftFileMessage(p, n) if n > 0 => p
        }.toSeq.sorted
        // COMPLETE mode: the epoch output IS the table — one replace
        // transaction swaps the live set (an EMPTY result still
        // truncates a non-empty table; only empty-onto-empty skips,
        // so no version is ever burned on a no-op).
        val readV = if (replaceEach) TxnLog.currentVersion(root) else 0L
        val live = if (replaceEach) TxnLog.snapshotFiles(root, readV) else Nil
        if (files.nonEmpty || (replaceEach && live.nonEmpty)) {
          // gate on BOTH write contracts: CHECK constraints and NOT
          // NULL columns — a table with only NOT NULL declarations
          // must still reject a null-bearing epoch at commit time
          TxnLog.checkStagedConstraints(spark, root, files)
          // bucket stats recorded but typically un-collapsed here (the
          // streaming path declares no bucket distribution): SOUND by
          // construction — a wide bucket range just keeps the file
          val multi = GraftTable.statsForWritten(spark, root, epochDir(epochId),
            physSchema, files, TxnLog.partitionFields(root))
          val rec =
            if (replaceEach)
              TxnLog.commit(root, "stream-replace", added = files,
                removed = live, readVersion = readV,
                txnId = txnId, multiStats = multi,
                schemaId = TxnLog.schemaFingerprint(physSchema),
                physSchema = GraftTable.declareSchema(root, physSchema))
            else
              TxnLog.commit(root, "stream-append", added = files,
                removed = Nil, readVersion = 0L, txnId = txnId, multiStats = multi,
                schemaId = TxnLog.schemaFingerprint(physSchema),
                physSchema = GraftTable.declareSchema(root, physSchema))
          if (rec.version % TxnLog.CheckpointInterval == 0) TxnLog.checkpoint(root)
          // opt-in AUTO-COMPACT: long-lived ingest manufactures small
          // files faster than unscheduled maintenance folds them, so
          // the writer itself folds once enough accumulate — an
          // ordinary `compact` transaction, OPPORTUNISTIC by design:
          // a conflict with concurrent maintenance just skips (the
          // next epoch retries); the epoch's own commit stands
          // regardless. Policy is the TABLE properties
          // `graft.autoCompact.{minFiles, smallBytes, targetBytes}`
          // (X-A95 — the threshold travels with the table, like
          // Delta's delta.autoOptimize; minFiles 0 = off, default).
          val tProps = TxnLog.tableProperties(root)
          def knob(name: String, dflt: Long): Long =
            tProps.get(s"graft.autoCompact.$name").map(_.toLong).getOrElse(dflt)
          val acMin = knob("minFiles", 0L).toInt
          // (pointless under replaceEach: the next epoch swaps the
          // whole live set anyway, so small files never accumulate)
          if (acMin > 0 && !replaceEach) {
            val small = knob("smallBytes", 32L * 1024 * 1024)
            val target = knob("targetBytes", 128L * 1024 * 1024)
            try TxnLog.compactSmallFiles(spark, root, small, target,
              txnId = s"$txnId-ac", minFiles = acMin)
            catch { case _: TxnLog.ConflictException => () }
          }
        }
        // an empty epoch publishes nothing: replaying it is a no-op
        // with or without a record, so no version is burned
      }
    }
    ()
  }
}

/** UPDATE-mode `writeStream.option("mergeKey", k).toTable(...)`: each
  * epoch's rows MERGE into the table by `keyCol` —
  * [[TxnLog.mergeInto]], the per-epoch keyed upsert (the Delta
  * upsert-sink recipe, reference topology `spark_stream.py:73,83`: an
  * update-mode streaming aggregate materialized at a sink). An
  * update-mode aggregate emits each CHANGED key once per trigger, so
  * merging by the grouping key leaves the table equal to the batch
  * aggregate over everything ingested so far; the same sink under
  * append mode is a CDC upsert (each batch's rows must still be
  * key-unique — [[TxnLog.mergeInto]] enforces it, a multi-row key
  * would make the merge order-dependent).
  *
  * Exactly-once rides the SAME (queryId, epochId) txnId ledger as the
  * append/replace sinks: a replayed epoch — crash between the table's
  * merge commit and the checkpoint's own marker — finds its txnId
  * already published and applies NOTHING (the replay's staged bytes
  * orphan for [[TxnLog.vacuumStaging]]). File pruning inside
  * [[TxnLog.mergeInto]] keeps the 100 TB property: an epoch touching
  * a handful of keys rewrites the handful of files whose key ranges
  * admit them, never the table.
  */
private class GraftStreamingUpsertWrite(root: String,
                                        logicalSchema: StructType,
                                        queryId: String, keyCols: Seq[String])
  extends GraftStreamingStaging(root, logicalSchema, queryId) {

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val txnId = epochTxnId(epochId)
    TxnLog.withTxnLock(txnId) {
      if (TxnLog.findCommit(root, txnId).isEmpty) {
        val files = messages.collect {
          case GraftFileMessage(p, n) if n > 0 => p
        }.toSeq.sorted
        if (files.nonEmpty) {
          // read the staged epoch back LOGICAL-named: mergeInto owns
          // the physical translation, constraint check, key-unique
          // guard, affected-file pruning, and the conflict matrix
          val batch = TxnLog.toLogical(
            spark.read.parquet(files: _*), TxnLog.columnMapping(root))
          TxnLog.mergeIntoKeys(spark, root, batch, keyCols, txnId)
          ()
        }
        // an empty epoch merges nothing; no version is burned
      }
    }
    ()
  }
}

/** One [[StagedParquet]] file per (epoch, partition, task) under the
  * epoch's own staging directory, created executor-side (the factory
  * is built once per run and reused across epochs).
  */
private class GraftStreamingWriterFactory(dataDir: String, runToken: String,
                                          format: StagedParquet)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val dir = Paths.get(dataDir, s"$runToken-e$epochId")
    Files.createDirectories(dir)
    format.open(s"$dir/part-$partitionId-$taskId.parquet", partitionId, taskId)
  }
}
