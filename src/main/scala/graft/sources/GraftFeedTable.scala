package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The change-data feed as SQL metadata tables — `t.changes` (rows
  * ADDED per commit: appends and rewrite post-images) and `t.deletes`
  * (pre-images of rows killed by deletion-vector commits), each row
  * stamped `_commit_version`. Version bounds ride read options,
  * INCLUSIVE on both ends (the Delta CDF `startingVersion`/
  * `endingVersion` contract):
  *
  * {{{
  * spark.read.option("startingVersion", 2).option("endingVersion", 3)
  *      .table("graft.db.t.changes")
  * }}}
  *
  * Planning is METADATA-ONLY: the commits in range name their files
  * (with recorded sizes) and carry their bitmaps; the scan opens
  * exactly the added files (`changes`) or the DV'd files (`deletes`).
  * Files are immutable until vacuum, so a feed within the retention
  * horizon always resolves — the same contract as time travel, and
  * the SQL twin of [[TxnStream.readChanges]]/[[TxnStream.readDeletes]].
  */
private[sources] object GraftFeedTable {
  val Kinds: Set[String] = Set("changes", "deletes", "feed")
  val VersionCol = "_commit_version"
  val TypeCol = "_change_type"

  /** X-A91: `_change_type` classification for the unified `t.feed` —
    * Delta's CDF vocabulary derived from the commit ACTION at read
    * time. Exact for deletion-vector DML (UPDATE: the DV bits ARE the
    * pre-images, the added rows ARE the post-images; DELETE: pure DV)
    * — and since r18 that covers default-mode COW DML too: the COW
    * write finalizes through the same delta machinery, its commit
    * carries the kill bitmaps as metadata and marks the rewritten
    * survivor files row-preserving (`radds`), so the feed emits
    * exactly the changed rows, never whole post-image files.
    * Conservative only where per-row provenance is genuinely absent:
    * a MERGE's adds report `insert` and its kills `delete`
    * (matched/not-matched is decided per row at WRITE time — Delta's
    * CDC files — which a metadata-only feed cannot recover), and
    * whole-file rewrites with no kill bitmaps (`INSERT OVERWRITE`,
    * raw [[TxnLog]] rewrites, the retired group-rewrite mode) report their
    * whole post-image files as adds (the standing `changes` contract).
    */
  def changeTypeOf(action: String, killed: Boolean): String = action match {
    case "update" | "mor-update" =>
      if (killed) "update_preimage" else "update_postimage"
    case _ => if (killed) "delete" else "insert"
  }
}

private[sources] class GraftFeedTable(root: String, kind: String)
  extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"graft:$root.$kind"

  override lazy val schema: StructType = StructType(
    GraftTable.logicalSchema(spark, root, Long.MaxValue).fields ++
      (StructField(GraftFeedTable.VersionCol, LongType, nullable = false) +:
        (if (kind == "feed")
          Seq(StructField(GraftFeedTable.TypeCol,
            org.apache.spark.sql.types.StringType, nullable = false))
        else Nil)))

  /** `changes` also streams (`readStream.table("cat.db.t.changes")`):
    * the CDF subscription point is SQL-only end to end — same adds
    * feed, same `_commit_version` stamp, resumable via the engine's
    * checkpoint. `deletes` stays batch-only (a streaming pre-image
    * feed would need DV diffs as retractions; the batch feed serves
    * that analysis shape).
    */
  override def capabilities(): util.Set[TableCapability] =
    if (kind == "changes")
      Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
    else Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = {
        def num(k: String, dflt: Long) =
          Option(options.get(k)).map(_.toLong).getOrElse(dflt)
        new GraftFeedScan(spark, root, kind, schema, required,
          fromInclusive = num("startingVersion", 1L),
          toInclusive = num("endingVersion", Long.MaxValue),
          maxVersionsPerTrigger = num("maxVersionsPerTrigger", Long.MaxValue),
          maxBytesPerTrigger = num("maxBytesPerTrigger", Long.MaxValue))
      }
    }
}

/** One feed slice: a data file plus the stamp version; for `deletes`
  * the commit's OWN bitmap (only ITS bits emit — a later commit's
  * kills belong to that commit's rows).
  */
private case class GraftFeedPartition(path: String, length: Long,
                                      dvHex: String, version: Long,
                                      emitDeleted: Boolean,
                                      changeType: String = "") extends InputPartition

private class GraftFeedScan(spark: SparkSession, root: String, kind: String,
                            fullSchema: StructType, required: StructType,
                            fromInclusive: Long, toInclusive: Long,
                            maxVersionsPerTrigger: Long = Long.MaxValue,
                            maxBytesPerTrigger: Long = Long.MaxValue)
  extends Scan with Batch {

  /** The streaming half of `t.changes`: the SAME adds feed through
    * [[TxnLogMicroBatchStream]]. `startingVersion` keeps the batch
    * feed's INCLUSIVE contract (one table name, one meaning) — the
    * stream's exclusive lower bound is `fromInclusive - 1`; a
    * restarted query resumes from its checkpoint offset as usual.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(kind == "changes",
      s"graft: only the `changes` feed streams; `$kind` is batch-only")
    new TxnLogMicroBatchStream(root, required,
      maxVersionsPerTrigger, maxBytesPerTrigger,
      startingVersion = fromInclusive - 1L,
      stampVersion =
        required.fieldNames.contains(GraftFeedTable.VersionCol))
  }

  private val commits =
    TxnLog.commitsInRange(root, fromInclusive - 1L, toInclusive)

  // files store PHYSICAL names; the feed surfaces logical names as of
  // the range end (the Delta CDF current-schema contract)
  private val renames: Map[String, String] =
    TxnLog.columnMapping(root, toInclusive)
  private def physName(n: String): String = renames.getOrElse(n, n)
  private val Synthetic = Set(GraftFeedTable.VersionCol, GraftFeedTable.TypeCol)
  private val physFull = StructType(fullSchema.fields
    .filterNot(f => Synthetic(f.name))
    .map(f => f.copy(name = physName(f.name), nullable = true)))
  private val versionIdx: Int =
    required.fields.indexWhere(_.name == GraftFeedTable.VersionCol)
  private val typeIdx: Int =
    required.fields.indexWhere(_.name == GraftFeedTable.TypeCol)
  private val physRequiredData = StructType(required.fields
    .filterNot(f => Synthetic(f.name))
    .map(f => f.copy(name = physName(f.name), nullable = true)))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftFeedScan($kind, root=$root, versions=[$fromInclusive, " +
      s"${if (toInclusive == Long.MaxValue) "head" else toInclusive}])"

  override def planInputPartitions(): Array[InputPartition] = {
    def len(f: String, recorded: Long): Long =
      if (recorded >= 0L) recorded
      else java.nio.file.Files.size(java.nio.file.Paths.get(f))
    val parts = kind match {
      case "changes" =>
        commits.flatMap { c =>
          val sizes = if (c.sizes.size == c.added.size) c.sizes
                      else c.added.map(_ => -1L)
          c.added.zip(sizes).map { case (f, sz) =>
            GraftFeedPartition(f, len(f, sz), "", c.version, emitDeleted = false)
          }
        }
      case "deletes" =>
        // per (commit, file): the bitmap is THAT commit's kill set
        commits.flatMap { c =>
          c.dvFiles.zip(c.dvs).map { case (f, dv) =>
            GraftFeedPartition(f, len(f, -1L), TxnLog.dvHex(dv), c.version,
              emitDeleted = true)
          }
        }
      case "feed" =>
        // X-A91: adds ∪ DV pre-images, each slice stamped with its
        // action-derived _change_type; row-PRESERVING layout commits
        // (zorder/compact) are excluded entirely, and so are a COW
        // DML commit's survivor-rewrite files (`radds`) — their files
        // change, their rows don't (the Delta CDF contract), unlike
        // `changes`, whose documented job is the raw adds feed
        commits.filterNot(c => TxnStream.RowPreservingActions(c.action))
          .flatMap { c =>
          val sizes = if (c.sizes.size == c.added.size) c.sizes
                      else c.added.map(_ => -1L)
          val preserving = c.radds.toSet
          c.added.zip(sizes).filterNot { case (f, _) => preserving(f) }
            .map { case (f, sz) =>
            GraftFeedPartition(f, len(f, sz), "", c.version,
              emitDeleted = false,
              changeType = GraftFeedTable.changeTypeOf(c.action, killed = false))
          } ++
            c.dvFiles.zip(c.dvs).map { case (f, dv) =>
              GraftFeedPartition(f, len(f, -1L), TxnLog.dvHex(dv), c.version,
                emitDeleted = true,
                changeType = GraftFeedTable.changeTypeOf(c.action, killed = true))
            }
          }
      case other => sys.error(s"unknown feed kind $other")
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val reader: PartitionedFile => Iterator[InternalRow] =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        sparkSession = spark,
        dataSchema = physFull,
        partitionSchema = StructType(Nil),
        requiredSchema = physRequiredData,
        filters = Nil, // row order IS the DV coordinate: no skipping
        options = Map(
          org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = spark.sessionState.newHadoopConf())
    new GraftFeedReaderFactory(reader, versionIdx, typeIdx,
      required.fields.map(_.dataType))
  }
}

private class GraftFeedReaderFactory(
    readAll: PartitionedFile => Iterator[InternalRow],
    versionIdx: Int, typeIdx: Int,
    outTypes: Array[org.apache.spark.sql.types.DataType])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFeedPartition]
    val pf = PartitionedFile(InternalRow.empty, TxnLog.sparkPath(p.path),
      0L, p.length)
    val base: Iterator[InternalRow] =
      readAll(pf).asInstanceOf[Iterator[Any]].flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r: InternalRow   => Iterator.single(r)
      }
    // fast path: no synthetic column requested, nothing to filter
    if (versionIdx < 0 && typeIdx < 0 && !p.emitDeleted)
      return new PartitionReader[InternalRow] {
        override def next(): Boolean = base.hasNext
        override def get(): InternalRow = base.next()
        override def close(): Unit = ()
      }
    val changeType =
      org.apache.spark.unsafe.types.UTF8String.fromString(p.changeType)
    val n = outTypes.length
    var ri = -1L
    val rows = base.flatMap { r =>
      ri += 1
      // `deletes`/`feed` kill slices emit exactly the rows THIS
      // commit killed; add slices emit every row of the added file
      if (p.emitDeleted && !GraftReaderFactory.bitSet(p.dvHex, ri)) None
      else {
        val arr = new Array[Any](n)
        var j = 0
        var i = 0
        while (i < n) {
          if (i == versionIdx) arr(i) = p.version
          else if (i == typeIdx) arr(i) = changeType
          else { arr(i) = if (r.isNullAt(j)) null else r.get(j, outTypes(i)); j += 1 }
          i += 1
        }
        Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr))
      }
    }
    new PartitionReader[InternalRow] {
      override def next(): Boolean = rows.hasNext
      override def get(): InternalRow = rows.next()
      override def close(): Unit = ()
    }
  }
}
