package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Structured Streaming source OVER the transaction log — the
  * packaging that lets `spark.readStream` drive a [[TxnLog]] table
  * like a Kafka topic:
  *
  * {{{
  * spark.readStream.format("graft-txn")
  *   .option("root", tableRoot)
  *   .option("maxVersionsPerTrigger", "10")   // admission: commits/batch
  *   .option("maxBytesPerTrigger", "134217728") // admission: bytes/batch
  *   .option("startingVersion", "0")          // EXCLUSIVE lower bound
  *   .load()
  * }}}
  *
  * `startingVersion` is EXCLUSIVE — the stream emits commits strictly
  * AFTER it (the default 0 emits the full history; `N` skips versions
  * 1..N). Note the difference from Delta's inclusive option of the
  * same name: here the value is the offset the checkpoint would hold
  * after consuming version N, which is also what
  * [[TxnStream.appliedVersion]] returns for ledger-driven consumers.
  *
  * OFFSETS ARE COMMIT VERSIONS ([[TxnVersionOffset]]): a micro-batch
  * covers commits `(start, end]`, planned metadata-only from the log
  * (the commit records name the files — no directory listing, no
  * file-arrival heuristics), and Structured Streaming's checkpoint
  * persists the version watermark, so restart/replay semantics are
  * exactly the engine's own. Admission control caps each batch at
  * `maxVersionsPerTrigger` source commits (the Delta
  * `maxFilesPerTrigger` analogue, via [[SupportsAdmissionControl]]).
  *
  * Rows are the change feed's ADD half, each stamped with its commit
  * version (`_commit_version`, like [[TxnStream.readChanges]]):
  * appends surface their rows, copy-on-write rewrites surface
  * post-images — a downstream that must treat re-emitted rows as
  * upserts should merge on key (the public Delta streaming-source
  * `ignoreChanges` contract; deletion-vector retractions stream
  * through [[TxnStream.readDeletes]] / [[TxnStream.maintainMirror]],
  * which keeps its ledger-offset poll loop: its exactly-once contract
  * stores the consumer offset IN the target's txn ledger, which a
  * second, engine-managed checkpoint store would only weaken).
  * Compose with [[TxnLog.appendOnce]] in `foreachBatch` and the
  * pipeline is exactly-once end to end: the engine's checkpoint
  * de-duplicates the read, the target ledger de-duplicates the
  * write.
  *
  * Reading uses Spark's own `ParquetFileFormat` reader (built once on
  * the driver, shipped as the standard serializable closure — the
  * same machinery `FileSourceScanExec` broadcasts), with the CURRENT
  * log schema as required schema: files from older schema generations
  * yield nulls for columns they predate, so a feed crossing a
  * `schema-evolve` commit keeps flowing.
  *
  * 100 TB shape: planning is O(commits in range) metadata; each file
  * is one [[InputPartition]], so a large backfill parallelizes across
  * the cluster and `maxVersionsPerTrigger` bounds per-batch work.
  * Reference behavior: the dashboard's poll-for-new-rows loop
  * (`streamlit-app.py`) re-expressed as an engine-managed stream.
  */
class TxnLogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-txn"

  private def root(options: CaseInsensitiveStringMap): String = {
    val r = options.get("root")
    require(r != null && r.nonEmpty, "graft-txn requires option 'root'")
    r
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TxnLogStreamTable.feedSchema(SparkSession.active, root(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new TxnLogStreamTable(root(opts), schema,
      Option(opts.get("maxVersionsPerTrigger")).map(_.toLong).getOrElse(Long.MaxValue),
      Option(opts.get("maxBytesPerTrigger")).map(_.toLong).getOrElse(Long.MaxValue),
      Option(opts.get("startingVersion")).map(_.toLong).getOrElse(0L))
  }

  override def supportsExternalMetadata(): Boolean = true
}

private[sources] object TxnLogStreamTable {
  /** The stream's schema: the table's logged schema (footer-merge
    * fallback for tables written through the raw commit API) plus the
    * `_commit_version` stamp.
    */
  def feedSchema(s: SparkSession, root: String): StructType = {
    val base = TxnLog.tableSchema(root).getOrElse {
      val files = TxnLog.snapshotFiles(root)
      require(files.nonEmpty,
        s"cannot infer a stream schema for empty table $root; commit a physSchema or pass a schema")
      s.read.option("mergeSchema", "true").parquet(files: _*).schema
    }
    StructType(base.fields :+ StructField(TxnStream.CommitVersionCol, LongType, nullable = false))
  }
}

class TxnLogStreamTable(root: String, tableSchema: StructType,
                        maxVersionsPerTrigger: Long, maxBytesPerTrigger: Long,
                        startingVersion: Long)
  extends Table with SupportsRead {

  override def name(): String = s"graft-txn:$root"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def description(): String = s"TxnLogScan(root=$root)"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TxnLogMicroBatchStream(root, tableSchema, maxVersionsPerTrigger,
            maxBytesPerTrigger, startingVersion)
      }
    }
}

/** One commit version as a streaming offset. */
case class TxnVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** One data file of one commit = one input partition. */
private case class TxnFilePartition(path: String, version: Long,
                                    length: Long) extends InputPartition

class TxnLogMicroBatchStream(root: String, schema: StructType,
                             maxVersionsPerTrigger: Long, maxBytesPerTrigger: Long,
                             startingVersion: Long,
                             stampVersion: Boolean = true)
  extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow: the head is PINNED when the query starts —
    * the stream drains commits <= the pin (under the normal admission
    * caps) and stops; commits landing mid-drain wait for the next run.
    */
  @volatile private var availableNowCap: Long = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = TxnLog.currentVersion(root)

  /** The read schema, PINNED at stream construction: the declared
    * logical fields translated to their stable physical storage
    * names. Pinning (rather than consulting the log head per batch)
    * keeps row arity locked to the output schema even if a
    * schema-evolve or rename commit lands mid-stream — physical
    * names never change once assigned, and files from newer
    * generations simply project down to the pinned fields.
    */
  private val pinnedDataSchema: StructType = {
    val logical = StructType(schema.fields.filterNot(_.name == TxnStream.CommitVersionCol))
    val mapping = TxnLog.columnMapping(root)
    if (mapping.isEmpty) logical
    else StructType(logical.fields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name))))
  }

  override def initialOffset(): Offset = TxnVersionOffset(startingVersion)

  override def deserializeOffset(json: String): Offset =
    TxnVersionOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control: at most `maxVersionsPerTrigger` source
    * commits AND (when the log recorded file sizes)
    * `maxBytesPerTrigger` bytes of added data per micro-batch —
    * `start` is the engine's last committed end, so both caps need no
    * internal state and survive restarts. A single version always
    * admits (a giant commit must not wedge the stream); size-less
    * records (pre-r13 writers) count zero bytes toward the cap.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = Option(start).collect { case TxnVersionOffset(v) => v }
      .getOrElse(startingVersion)
    val head = math.min(TxnLog.currentVersion(root), availableNowCap)
    val byVersions = math.min(head, math.addExact(from,
      math.min(maxVersionsPerTrigger, math.max(head - from, 0L) + 1)))
    val end =
      if (maxBytesPerTrigger == Long.MaxValue || byVersions <= from) byVersions
      else {
        // incremental walk, one record open per ADMITTED version —
        // never a scan of the whole backlog per trigger (against a
        // 50k-commit backlog the eager form would re-read every
        // record every trigger, quadratic over catch-up)
        var bytes = 0L
        var v = from
        var open = true
        while (open && v < byVersions) {
          TxnLog.commitAt(root, v + 1) match {
            case Some(c) =>
              val sz = c.sizes.filter(_ > 0L).sum
              if (v > from && bytes + sz > maxBytesPerTrigger) open = false
              else { bytes += sz; v = c.version }
            case None => open = false // version gap: stop at the last contiguous record
          }
        }
        v
      }
    TxnVersionOffset(math.max(from, end))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-controlled path")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[TxnVersionOffset].v,
      end.asInstanceOf[TxnVersionOffset].v)
    TxnLog.commitsInRange(root, s, e)
      .flatMap { c =>
        // file lengths from the commit record when present (r13+
        // writers): batch planning is pure metadata, zero stat calls
        val sizes = if (c.sizes.size == c.added.size) c.sizes
                    else c.added.map(_ => -1L)
        c.added.zip(sizes).map { case (f, sz) =>
          TxnFilePartition(f, c.version,
            if (sz >= 0L) sz
            else java.nio.file.Files.size(java.nio.file.Paths.get(f)))
        }
      }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // built ONCE on the driver with the active session's conf and a
    // broadcast hadoop conf — the standard serializable file-reader
    // closure every FileSourceScanExec ships to executors
    val spark = SparkSession.active
    val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = pinnedDataSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = pinnedDataSchema,
      filters = Nil,
      // plain InternalRows, not ColumnarBatches: a streaming reader
      // hands rows to the engine one by one (the batch path exists
      // for scans whose exec node consumes columnar)
      options = Map(
        org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConf())
    new TxnReaderFactory(readFile, stampVersion)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private class TxnReaderFactory(
    readFile: PartitionedFile => Iterator[InternalRow],
    stampVersion: Boolean = true)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TxnFilePartition]
    val pf = PartitionedFile(InternalRow.empty,
      TxnLog.sparkPath(p.path), 0L, p.length)
    // the parquet reader may yield ColumnarBatches disguised as rows
    // (vectorized path) — flatten either shape to rows, then stamp
    // the commit version via a reused JoinedRow (the same row-reuse
    // contract Spark's own scans follow); the catalog streaming path
    // ([[GraftScan]]) reads the table's own schema, un-stamped
    val rows: Iterator[InternalRow] =
      readFile(pf).asInstanceOf[Iterator[Any]].flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r: InternalRow   => Iterator.single(r)
      }
    val stamp = InternalRow(p.version)
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      override def next(): Boolean = rows.hasNext
      override def get(): InternalRow =
        if (stampVersion) joined(rows.next(), stamp) else rows.next()
      override def close(): Unit = () // the reader closes on task completion
    }
  }
}
