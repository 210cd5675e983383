package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** One written staging file. */
private case class GraftFileMessage(path: String, rows: Long)
  extends WriterCommitMessage

/** Spark's own parquet `OutputWriterFactory` for a table write's
  * PHYSICAL schema, plus the Hadoop conf its writers need — prepared
  * once on the driver and shipped to every task of a SQL row-level or
  * streaming write, so rows, stats and parquet bytes never pass the
  * driver.
  */
private class StagedParquet(schema: StructType, owf: OutputWriterFactory,
                            conf: SerializableConfiguration) extends Serializable {

  /** The writer of one staged file. Paths are per (partition, task):
    * a retried or speculative attempt can never clobber another
    * attempt's file.
    */
  def open(path: String, partitionId: Int, taskId: Long): StagedFileWriter =
    new StagedFileWriter(path, partitionId, taskId)

  /** Opened LAZILY on the first row, so a task with no rows — a
    * delete-only delta task, an empty epoch partition — writes no
    * file; an aborted attempt deletes what it wrote.
    */
  class StagedFileWriter(path: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
    private var writer: OutputWriter = _
    private var n = 0L

    override def write(row: InternalRow): Unit = {
      if (writer == null) {
        val attempt = new TaskAttemptID(
          new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), taskId.toInt)
        writer = owf.newInstance(path, schema,
          new TaskAttemptContextImpl(conf.value, attempt))
      }
      writer.write(row); n += 1
    }

    override def commit(): GraftFileMessage = {
      if (writer != null) writer.close()
      GraftFileMessage(path, n)
    }

    override def abort(): Unit = {
      if (writer != null) writer.close()
      Files.deleteIfExists(Paths.get(path))
      ()
    }

    override def close(): Unit = ()
  }
}

private object StagedParquet {
  /** Staged files carry PHYSICAL names (all generations of a renamed
    * table store the same column name); rows need no change — only
    * the writer schema's field names differ.
    */
  def physicalSchema(root: String, logical: StructType): StructType = {
    val renames = TxnLog.columnMapping(root)
    StructType(logical.fields.map(f =>
      f.copy(name = renames.getOrElse(f.name, f.name))))
  }

  def apply(spark: SparkSession, physSchema: StructType): StagedParquet = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, physSchema)
    new StagedParquet(physSchema, owf, new SerializableConfiguration(job.getConfiguration))
  }
}

/** A delta task's result: files written (inserts) plus per-file
  * deleted-row bitmap words (sparse: only words with set bits). The
  * message is O(files + touched-rows/64) — never row-proportional.
  */
private case class GraftDeltaMessage(files: Seq[(String, Long)],
                                     deletes: Map[String, Array[Long]])
  extends WriterCommitMessage

/** SQL `UPDATE` / `MERGE INTO` (and rewrite-path `DELETE`) over
  * [[TxnLog]] tables — the one row-level operation, through Spark's
  * delta-write framework ([[SupportsDelta]], the Iceberg
  * position-delete / Delta DV recipe):
  *
  *  - the scan is a [[GraftScan]], so the command's ON/WHERE
  *    condition prunes FILES against the log's typed stats and
  *    blooms first, and the scan CAPTURES the snapshot version it
  *    resolved — the commit's `readVersion`;
  *  - the row ID is `(_file, _pos)` — the coordinates the scan's
  *    readers already materialize and the DV format already
  *    addresses;
  *  - updates arrive as DELETE + INSERT pairs
  *    (`representUpdateAsDeleteAndInsert`), so the writer is two
  *    primitives: set a bit, append a row;
  *  - each task accumulates per-file bitmaps locally (a BitSet per
  *    touched file) and ships O(touched-rows/64) words; the driver
  *    ORs them and publishes ONE commit: `added` = insert files,
  *    `dvFiles`/`dvs` = the vectors. MERGE additionally sets
  *    `failOnConcurrentAppend` (read-set protection: a concurrent
  *    append may hold keys this merge decided to insert).
  *
  * `finalizeCow` (the default `cow` mode) then rewrites the touched
  * files' SURVIVORS into that same commit and removes the touched
  * files: the table ends pure copy-on-write, while the bitmaps ride
  * the commit so `t.feed` serves exact pre-images. Without it (`mor`)
  * write amplification is O(changed rows): a 0.1%-selectivity MERGE
  * over a 1M-file table writes KB of bitmap per touched file instead
  * of re-materializing each, and reads pay the DV filter until
  * `optimizeCompactDeletes` folds dense vectors back in — the standard
  * MOR maintenance contract. Mode selection is per session, in
  * [[GraftTable.newRowLevelOperationBuilder]].
  */
private[sources] class GraftDeltaOperation(root: String,
                                           tableSchema: StructType,
                                           cmd: RowLevelOperation.Command,
                                           finalizeCow: Boolean)
  extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

  /** The snapshot version the scan resolved — set on the driver
    * during scan planning, read at write commit.
    */
  @volatile private var scannedVersion: Option[Long] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftDelta($cmd, root=$root)"

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(GraftTable.FileMetaCol),
      org.apache.spark.sql.connector.expressions.Expressions.column(GraftTable.PosMetaCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      GraftTable.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, root, Long.MaxValue, tableSchema,
      options, onPlan = Some(v => scannedVersion = Some(v)))

  override def newWriteBuilder(info: LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          override def description(): String = s"GraftDeltaWrite($cmd)"

          /** Small-file hygiene (the Iceberg position-delta recipe):
            * cluster the delta rows by `_file` BEST-EFFORT — Spark
            * plans a RebalancePartitions, so with AQE a small MOR
            * update's post-images coalesce into a handful of write
            * tasks instead of one 1-row file per input task
            * (O(advisory-size partitions), not O(tasks)), while a
            * huge merge-insert load (null `_file`, one hash bucket)
            * is split back out by AQE's skew handling. Non-strict:
            * with AQE off the plan degrades to a plain shuffle —
            * never a failure. Delete bitmaps are unaffected (they OR
            * across tasks regardless of placement).
            */
          override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              Array(org.apache.spark.sql.connector.expressions.Expressions.column(
                GraftTable.FileMetaCol)))
          override def distributionStrictlyRequired(): Boolean = false
          override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty

          override def toBatch(): org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new GraftDeltaBatchWrite(root, info.schema(),
              action = (if (finalizeCow) "" else "mor-") +
                cmd.toString.toLowerCase(java.util.Locale.ROOT),
              () => scannedVersion,
              failOnConcurrentAppend = cmd == RowLevelOperation.Command.MERGE,
              finalizeCow = finalizeCow)
        }
    }
}

/** The delta batch write: insert files staged executor-side
  * ([[StagedParquet]]), deletion bitmaps assembled from the sparse
  * per-task words, one commit carrying both.
  */
private class GraftDeltaBatchWrite(root: String, logicalSchema: StructType,
                                   action: String,
                                   scannedVersion: () => Option[Long],
                                   failOnConcurrentAppend: Boolean,
                                   finalizeCow: Boolean)
  extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private def spark = SparkSession.active
  private val txnId = s"sql-$action-a${TxnLog.uuid12}"
  private val physSchema = StagedParquet.physicalSchema(root, logicalSchema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
    : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    val dir = Paths.get(root, "data", txnId)
    Files.createDirectories(dir)
    new GraftDeltaWriterFactory(dir.toString, StagedParquet(spark, physSchema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val deltas = messages.collect { case m: GraftDeltaMessage => m }
    val files = deltas.flatMap(_.files).collect { case (p, n) if n > 0 => p }
      .toSeq.sorted
    // OR the sparse word maps across tasks, render the DV hex per file
    val merged = scala.collection.mutable.Map.empty[String, Array[Long]]
    deltas.foreach(_.deletes.foreach { case (f, words) =>
      val cur = merged.getOrElseUpdate(f, new Array[Long](words.length))
      val grown = if (cur.length >= words.length) cur else java.util.Arrays.copyOf(cur, words.length)
      var i = 0
      while (i < words.length) { grown(i) |= words(i); i += 1 }
      merged(f) = grown
    })
    val (dvFiles, dvs) = merged.toSeq.sortBy(_._1).map { case (f, ws) =>
      (f, ws.map(w => f"$w%016x").mkString)
    }.unzip
    if (files.isEmpty && dvFiles.isEmpty) return
    // MOR post-images (insert halves of update pairs + merge inserts)
    // honor CHECK + NOT NULL like every other write; pure-DV deletes
    // stage no rows and skip via the empty-files early return
    TxnLog.checkStagedConstraints(spark, root, files)
    val readV = scannedVersion().getOrElse(TxnLog.currentVersion(root))
    // post-image files record insert-grade stats, bucket stats
    // included, so rewrites never lose pruning
    val multi = GraftTable.statsForWritten(spark, root, txnId, physSchema,
      files, TxnLog.partitionFields(root))
    // COW finalize: rewrite the touched files' SURVIVORS into this
    // same commit — added = change files + survivor files (survivors
    // marked row-preserving via `radds`), removed = the touched
    // files, and the kill bitmaps ride along as `dvFiles`/`dvs` so
    // the change feed serves exact pre-images at O(changed rows).
    // The table state ends pure copy-on-write: no residual vectors.
    val (survivors, survMulti) =
      if (finalizeCow && dvFiles.nonEmpty)
        TxnLog.stageCowSurvivors(spark, root, readV, dvFiles.zip(dvs), txnId)
      else (Nil, Nil)
    val allAdds = files ++ survivors
    val allMulti =
      if (multi.isEmpty && survMulti.isEmpty) Nil
      else (if (multi.isEmpty) files.map(_ => Map.empty[String, TxnLog.FileStat])
            else multi) ++
           (if (survMulti.isEmpty && survivors.nonEmpty)
              survivors.map(_ => Map.empty[String, TxnLog.FileStat])
            else survMulti)
    // declare the write schema only when rows were added: a DELETE's
    // LogicalWriteInfo schema is the operation's (not the table's),
    // and a pure-DV commit changes no schema anyway
    TxnLog.commit(root, action, added = allAdds,
      removed = if (finalizeCow) dvFiles else Nil,
      readVersion = readV, txnId = txnId, multiStats = allMulti,
      dvFiles = dvFiles, dvs = dvs,
      schemaId = if (files.isEmpty) "" else TxnLog.schemaFingerprint(physSchema),
      physSchema =
        if (files.isEmpty) None else GraftTable.declareSchema(root, physSchema),
      failOnConcurrentAppend = failOnConcurrentAppend,
      radds = survivors)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: GraftDeltaMessage =>
        m.files.foreach { case (p, _) => Files.deleteIfExists(Paths.get(p)) }
      case _ => ()
    }
}

private class GraftDeltaWriterFactory(stagingDir: String, format: StagedParquet)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
    : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] = {
    val inserts =
      format.open(s"$stagingDir/part-$partitionId-$taskId.parquet", partitionId, taskId)
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      private val deletes =
        scala.collection.mutable.Map.empty[String, java.util.BitSet]

      override def insert(row: InternalRow): Unit = inserts.write(row)

      /** `id` carries the row's `(_file, _pos)` in [[rowId]] order. */
      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        val file = id.getUTF8String(0).toString
        val pos = id.getLong(1)
        require(pos < Int.MaxValue, s"row index $pos out of bitmap range for $file")
        deletes.getOrElseUpdate(file, new java.util.BitSet()).set(pos.toInt)
      }

      override def update(metadata: InternalRow, id: InternalRow,
                          row: InternalRow): Unit =
        throw new IllegalStateException(
          "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")

      override def commit(): WriterCommitMessage = {
        val written = inserts.commit()
        GraftDeltaMessage(
          if (written.rows > 0L) Seq((written.path, written.rows)) else Nil,
          deletes.view.mapValues(_.toLongArray).toMap)
      }

      override def abort(): Unit = inserts.abort()

      override def close(): Unit = ()
    }
  }
}
