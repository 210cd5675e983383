package graft.sources

import java.nio.file.{Files, Path, Paths, FileAlreadyExistsException}
import java.util.stream.Collectors

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.annotation.JsonInclude.Include
import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.parser.{CatalystSqlParser, ParseException}
import org.apache.spark.sql.types.StructType

/** Minimal lakehouse transaction log: optimistic concurrency +
  * snapshot isolation over immutable parquet data files, the
  * coordination layer that ties the repo's physical-design operators
  * together — upsert rewrites (io_upsert), CDC between versions
  * (io_cdc_diff), compaction/layout jobs (io_compact_plan/io_zorder)
  * and incremental MV maintenance (mv_incremental) all need a table
  * whose state can change under them without torn reads or lost
  * updates.
  *
  * Design (the public Delta Lake recipe — Armbrust et al., "Delta
  * Lake: High-Performance ACID Table Storage over Cloud Object
  * Stores", VLDB 2020):
  *
  *  - DATA IS IMMUTABLE: writers stage new parquet files under
  *    `root/data/<txnId>/`; nothing ever rewrites a data file in
  *    place. An "upsert" is copy-on-write: stage rewritten files,
  *    log the old ones as removed.
  *  - THE LOG IS THE TABLE: `root/_log/<version>.json`, one record
  *    per commit, lists files added/removed (with optional per-file
  *    (min,max) stats and a schema fingerprint). A snapshot at
  *    version V is the fold of records 1..V — resolution is
  *    METADATA-ONLY (small JSON reads; never a data-directory
  *    listing, which at 100 TB is millions of objects and, on object
  *    stores, eventually consistent).
  *  - COMMIT IS A CAS ON THE NEXT VERSION NUMBER: the record is
  *    written to a temp file and hard-linked to `<v+1>.json` —
  *    link(2) is atomic and fails if the name exists, so exactly one
  *    writer wins each version; losers re-check conflicts and retry
  *    against the new head. (On HDFS the same CAS is atomic rename
  *    without overwrite; on S3 a conditional PUT — the local-FS link
  *    stands in for whichever the deployment provides.)
  *  - SNAPSHOT ISOLATION: readers resolve their file list once; data
  *    immutability makes the snapshot stable no matter what commits
  *    land afterwards. Writers declare the snapshot version they
  *    READ (`readVersion`); at commit time the file-level conflict
  *    check rejects lost updates: a commit that removes files
  *    conflicts iff a concurrent commit (> readVersion) already
  *    removed any of them — i.e. both rewrote the same data. Pure
  *    appends have an empty read set and never conflict; they just
  *    retry the CAS.
  *  - THE WRITE PATH IS O(TAIL), NOT O(HISTORY): head discovery is a
  *    filename max (no record opens); the conflict check folds only
  *    records `> readVersion`; txnId idempotency is answered from the
  *    committed-txn ledger each CHECKPOINT carries plus the log tail
  *    behind it. A streaming writer committing every micro-batch pays
  *    per-commit cost proportional to the gap since the last
  *    checkpoint (auto-written every [[CheckpointInterval]] commits
  *    by [[appendOnce]]), not to the table's lifetime commit count.
  *
  * `TxnLogSpec` covers the two-writer scenarios (conflict abort,
  * append auto-retry, snapshot stability, a real 2-thread CAS race);
  * the driver queries `tx_snapshot` / `tx_time_travel` / `tx_changes`
  * hash-check snapshot resolution, time travel, and version-diff CDC
  * against DuckDB via version predicates.
  */
object TxnLog {

  /** Per-file data-skipping statistics: (min, max) of a column plus
    * the file's row count (`rows = -1` when unknown). The row count
    * is what makes COUNT/MIN/MAX answerable from the log alone
    * ([[statsAggregate]]): at 100 TB the metadata answer costs a few
    * KB of JSON instead of a full table scan.
    *
    * `typ` tags the REPRESENTATION of the range — pruning only ever
    * compares a predicate against a stat of the matching kind, which
    * is what makes mixed-type comparisons (the classic silent-wrong-
    * prune bug: timestamp micros vs a seconds-scale long stat)
    * structurally impossible:
    *
    *  - `"l"` integral: `lo`/`hi` are the long range,
    *  - `"t"` timestamp: `lo`/`hi` are epoch MICROS (Catalyst's
    *    internal timestamp value),
    *  - `"d"` date: `lo`/`hi` are epoch DAYS,
    *  - `"s"` string: `loS`/`hiS` are BASE64 of the min/max string's
    *    UTF-8 bytes (binary order, = Spark's string comparison order,
    *    which [[byteCompare]] tests on the decoded bytes),
    *  - `"f"` float/double: `loS`/`hiS` are `Double.toString` values.
    *
    * `nulls` is the column's null count in the file (-1 unknown) —
    * what serves `IS NULL` pruning.
    */
  case class FileStat(lo: Long, hi: Long, rows: Long = -1L,
                      typ: String = "l", loS: String = "", hiS: String = "",
                      nulls: Long = -1L, hll: String = "")

  /** Unsigned lexicographic byte comparison — the order Spark's
    * UTF8String (and thus its string min/max) uses. Java String
    * compareTo is UTF-16 code-unit order, which DISAGREES for
    * supplementary code points, so string-stat pruning always
    * compares raw UTF-8 bytes.
    */
  private[sources] def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private[sources] def b64enc(v: String): String =
    java.util.Base64.getEncoder.encodeToString(
      v.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[sources] def b64dec(v: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(v)

  /** Everything the log knows about one live data file: per-COLUMN
    * stats keyed by (physical) column name (Delta collects stats for
    * its leading columns the same way — a partition column is just a
    * stat with lo == hi, so hive-style partition pruning falls out of
    * this map for free), its bloom filter (and ITS column), and its
    * deletion vector. A stat only ever answers a query on its own
    * column. `dv` is a hex bitset over ROW INDEXES (parquet scan
    * order, `_metadata.row_index`): set bits are deleted rows,
    * unioned across delete commits, cleared when the file itself is
    * rewritten.
    */
  case class FileMeta(stats: Map[String, FileStat] = Map.empty,
                      bloom: Option[String] = None, bloomCol: String = "",
                      dv: Option[String] = None, size: Long = -1L,
                      modTime: Long = 0L,
                      @JsonDeserialize(contentAs = classOf[java.lang.Long])
                      rowBase: Option[Long] = None)

  /** One equi-height histogram bin: the value range [lo, hi] and its
    * distinct count.
    */
  case class HistBin(lo: Double, hi: Double, ndv: Long)

  /** A table-level equi-height histogram over one column (keyed by
    * its PHYSICAL name): rows per bin and the bins in value order.
    */
  case class ColHistogram(height: Double,
                          @JsonInclude(Include.ALWAYS) bins: Seq[HistBin])

  /** One committed log record; its file is this value's [[codec]]
    * encoding. `multiStats` (when present) is aligned with `added`:
    * per file, the column -> [[FileStat]] map, the data-skipping
    * metadata [[readRange]]/[[statsAggregate]] use —
    * inline in the record (the Delta recipe), so planning needs no
    * sidecar reads and the stats survive as long as the log does.
    * `blooms` (when present) is likewise aligned with `added`: a
    * hex-encoded bloom filter over `bloomCol` per file ("" = none),
    * the point-lookup skipping index [[readPoint]] probes.
    * `dvFiles`/`dvs` (aligned with each other, NOT with `added`) carry
    * row-level deletes: per-file hex bitsets of deleted row indexes
    * ([[deleteWhere]]) — a delete prices at O(deleted-row metadata),
    * not a file rewrite.
    *
    * Table metadata rides as typed values: `physSchema` is the
    * declared schema in PHYSICAL names; `cadds`/`padds` set (name,
    * expression) constraints and (key, value) properties, and
    * `cdrops`/`pdrops` drop them by name; `hists` are the table-level
    * histograms per physical column; `rename` is one (old, new)
    * logical column rename; `partitionBy` re-declares the partition
    * tokens — `None` leaves the partitioning as it is, `Some(Nil)`
    * clears it (NON_ABSENT keeps the empty list in the record). The
    * fields without a default are the ones every record must carry.
    */
  case class Commit(version: Long, action: String, txnId: String,
                    readVersion: Long,
                    @JsonInclude(Include.ALWAYS) added: Seq[String],
                    @JsonInclude(Include.ALWAYS) removed: Seq[String],
                    schemaId: String = "",
                    blooms: Seq[String] = Nil,
                    bloomCol: String = "",
                    dvFiles: Seq[String] = Nil,
                    dvs: Seq[String] = Nil,
                    ts: Long,
                    multiStats: Seq[Map[String, FileStat]] = Nil,
                    physSchema: Option[StructType] = None,
                    rename: Option[(String, String)] = None,
                    @JsonDeserialize(contentAs = classOf[java.lang.Long])
                    sizes: Seq[Long] = Nil,
                    cadds: Seq[(String, String)] = Nil,
                    cdrops: Seq[String] = Nil,
                    @JsonInclude(Include.NON_ABSENT)
                    partitionBy: Option[Seq[String]] = None,
                    restatFiles: Seq[String] = Nil,
                    restats: Seq[Map[String, FileStat]] = Nil,
                    hists: Map[String, ColHistogram] = Map.empty,
                    ingests: Seq[String] = Nil,
                    radds: Seq[String] = Nil,
                    @JsonDeserialize(contentAs = classOf[java.lang.Long])
                    rbases: Seq[Long] = Nil,
                    rowHwm: Long = -1L,
                    padds: Seq[(String, String)] = Nil,
                    pdrops: Seq[String] = Nil,
                    @JsonInclude(Include.NON_DEFAULT) propReset: Boolean = false,
                    @JsonInclude(Include.NON_DEFAULT) conReset: Boolean = false)

  /** A commit lost the optimistic-concurrency check: a concurrent
    * commit rewrote data this transaction also rewrites. The caller
    * must re-read and re-stage (a blind retry would lose its update).
    */
  class ConflictException(msg: String) extends RuntimeException(msg)

  /** Physical column name of the MATERIALIZED stable row id (X-A96).
    * Never part of any logical schema: rewrites write it into their
    * output files so ids survive layout maintenance and COW DML, and
    * the scan serves it through the `_row_id` metadata column.
    */
  private[sources] val RowIdPhysCol = "__graft_rid"

  /** A commit's declared schema differs from the table's current one
    * and the commit is not an explicit `schema-evolve` — rejecting it
    * is what keeps two writers from silently forking the table's
    * schema (read-side mergeSchema would otherwise paper over the
    * fork forever).
    */
  class SchemaMismatchException(msg: String) extends RuntimeException(msg)

  /** A write's batch contains rows violating a table CHECK
    * constraint — the write is rejected BEFORE anything is published
    * (bad data never becomes visible; the Delta constraint contract).
    */
  class ConstraintViolationException(msg: String) extends RuntimeException(msg)

  /** [[appendOnce]] writes a checkpoint every this-many commits, the
    * knob that keeps long-lived streaming ingest O(tail) (Delta
    * checkpoints every 10 commits for the same reason).
    */
  val CheckpointInterval = 10

  private def logDir(root: String): Path = Paths.get(root, "_log")

  private def entryPath(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%020d.json")

  /** List a directory's entries with the handle CLOSED before
    * returning — `Files.list` holds an OS directory handle until the
    * stream is closed, and the commit CAS loop lists once per
    * attempt, so leaking them exhausts file descriptors under
    * contention.
    */
  private def listDir(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.collect(Collectors.toList[Path]).asScala.toSeq finally s.close()
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val s = Files.walk(p)
    try {
      import java.util.Comparator
      s.sorted(Comparator.reverseOrder[Path]()).forEach(x => { Files.deleteIfExists(x); () })
    } finally s.close()
  }

  /** Create the table layout (idempotent). */
  def init(root: String): Unit = {
    Files.createDirectories(logDir(root))
    Files.createDirectories(Paths.get(root, "data"))
    ()
  }

  // ---- log encoding ----
  // One codec for both on-disk artifacts: a commit record is the JSON
  // encoding of a [[Commit]], a checkpoint that of a [[CkptState]].
  // Every field is a typed value — names, expressions, paths and
  // property values are JSON strings the codec escapes, so no
  // character is reserved by the encoding. A Spark schema is a JSON
  // subtree through the Jackson binding Spark's `DataType` declares
  // itself (its own `json` on write, `DataType.fromJson` on read).
  // A field holding an empty string, collection or option is left
  // out (an element or map entry never is), so a record carries only
  // what it says. On read, a field without a Scala default is
  // required: a missing one, a key the case class does not have, or
  // a schema Spark cannot read fails the load ([[decode]]). Every
  // `Long` inside a container is annotated `contentAs =
  // java.lang.Long`, or it would decode as a boxed Integer that fails
  // at its first arithmetic.
  private[sources] val codec: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .defaultPropertyInclusion(
      JsonInclude.Value.construct(Include.NON_EMPTY, Include.ALWAYS))
    .enable(DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)
    .build()

  private def decode[T](file: Path, cls: Class[T]): T =
    try codec.readValue(Files.readAllBytes(file), cls)
    catch {
      case e: JacksonException =>
        throw new RuntimeException(s"bad txn log file $file: ${e.getMessage}", e)
    }

  // `[`, `]` and `\` are Hadoop glob syntax: `spark.read.parquet`
  // would expand a data path holding one instead of opening it.
  private val PathReserved = Array('[', ']', '\\')

  // A txnId names staging directories and temp files under the
  // table root, so it must be one file-name component.
  private def validateTxnId(txnId: String): Unit =
    require(txnId.nonEmpty && txnId != "." && txnId != ".." &&
        !txnId.exists(c => c == '/' || c == '\\' || c == '\u0000'),
      s"txnId must be a single file-name component (non-empty; no '/', '\\' " +
        s"or NUL; not '.' or '..'): '$txnId'")

  private def validatePaths(paths: Seq[String]): Unit =
    paths.foreach { p =>
      PathReserved.find(p.contains(_)).foreach(c => sys.error(
        s"txn log path contains reserved character '$c': $p"))
    }

  private def readCommit(root: String, v: Long): Commit =
    decode(entryPath(root, v), classOf[Commit])

  /** The record at exactly version `v`, opened by FILENAME — no
    * directory listing, no neighbors. What incremental walkers (the
    * streaming source's byte-capped admission) use to pay one record
    * open per admitted version instead of O(backlog) per trigger.
    */
  private[sources] def commitAt(root: String, v: Long): Option[Commit] =
    try Some(readCommit(root, v))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Committed records with `fromExclusive < version <= toInclusive`,
    * in version order. The version rides in the FILENAME, so records
    * outside the range are never opened — this is what makes
    * checkpoint-seeded resolution (and the commit write path) O(tail)
    * in IO, not just in fold work.
    */
  private def commitsFromListing(listing: Seq[Path], fromExclusive: Long,
                                 toInclusive: Long): Seq[Commit] =
    listing
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => (p.getFileName.toString.stripSuffix(".json").toLong, p))
      .filter { case (v, _) => v > fromExclusive && v <= toInclusive }
      .sortBy(_._1)
      .map { case (_, p) => decode(p, classOf[Commit]) }

  def commitsInRange(root: String, fromExclusive: Long,
                     toInclusive: Long): Seq[Commit] =
    commitsFromListing(listDir(logDir(root)), fromExclusive, toInclusive)

  /** All committed records in version order. */
  def commits(root: String): Seq[Commit] =
    commitsInRange(root, 0L, Long.MaxValue)

  private def headFromListing(listing: Seq[Path]): Long =
    listing.iterator
      .map(_.getFileName.toString)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong)
      .foldLeft(0L)(math.max)

  /** Head version (0 = empty table) — a filename max over the log
    * listing; NO record is opened, so the commit CAS loop's
    * head-discovery cost is independent of history length.
    */
  def currentVersion(root: String): Long =
    headFromListing(listDir(logDir(root)))

  // ---- checkpoints ----
  // `_log/<version>.checkpoint` is the [[codec]] encoding of the table
  // state at that version: everything snapshot resolution, txnId
  // idempotency, schema enforcement, stats pruning and bloom
  // point-skipping need, in one atomically-published artifact.
  // Resolution for any version >= the checkpoint folds only the log
  // tail behind it. `files` keeps the live files in snapshot order;
  // `schema` is the schema fingerprint, `physSchema` the declared
  // schema itself (physical names), `partitionBy` the partition
  // tokens (empty = unpartitioned).

  private[sources] case class CkptState(
      version: Long,
      files: Seq[(String, FileMeta)] = Nil,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      txns: Map[String, Long] = Map.empty,
      schema: String = "",
      constraints: Map[String, String] = Map.empty,
      physSchema: Option[StructType] = None,
      renames: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil,
      hists: Map[String, ColHistogram] = Map.empty,
      ingests: Set[String] = Set.empty,
      props: Map[String, String] = Map.empty,
      rowHwm: Long = 0L)

  private def ckptPath(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%020d.checkpoint")

  /** Published checkpoints are IMMUTABLE (written once via an atomic
    * link, superseded ones deleted, never modified) — so their parsed
    * state is cacheable per (root, version) for the life of the JVM.
    * This is what keeps a streaming writer's per-commit cost at
    * "one dir listing + the tail" instead of re-parsing an
    * O(history) ledger on every micro-batch.
    */
  private val ckptCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), CkptState]()

  /** A long-lived READER caches a new checkpoint generation every
    * interval and (unlike the writer, whose prune evicts) never
    * removes one — bound the cache so days of streaming ingest can't
    * leak O(ledger) states: on overflow, drop every superseded
    * generation (keep only the newest version per root).
    */
  private def boundCkptCache(): Unit =
    if (ckptCache.size > 64) {
      import scala.jdk.CollectionConverters._
      val newest = ckptCache.keys.asScala.toSeq.groupBy(_._1)
        .map { case (r, ks) => (r, ks.map(_._2).max) }
      ckptCache.keySet.removeIf(k => newest.get(k._1).exists(_ != k._2))
    }

  private def checkpointsIn(listing: Seq[Path]): Seq[(Long, Path)] =
    listing
      .filter(_.getFileName.toString.endsWith(".checkpoint"))
      .map(p => (p.getFileName.toString.stripSuffix(".checkpoint").toLong, p))

  private def readCheckpoint(v: Long, p: Path): CkptState = {
    val st = decode(p, classOf[CkptState])
    if (st.version != v) sys.error(s"bad txn log file $p: holds version ${st.version}")
    st
  }

  /** Latest checkpoint at or below `version`, from a pre-fetched log
    * listing. Retries on a listing/delete race with a superseded
    * checkpoint (two newest are always retained, so one re-list
    * suffices in practice).
    */
  private def loadCheckpointFrom(root: String, listing: Seq[Path],
                                 version: Long): Option[CkptState] = {
    val candidates = checkpointsIn(listing).filter(_._1 <= version).sortBy(-_._1)
    candidates.iterator.flatMap { case (v, p) =>
      Option(ckptCache.get((root, v))).orElse {
        try {
          val st = readCheckpoint(v, p)
          boundCkptCache()
          ckptCache.put((root, v), st)
          Some(st)
        } catch { case _: java.nio.file.NoSuchFileException => None }
      }
    }.nextOption()
  }

  private def loadCheckpoint(root: String, version: Long): Option[CkptState] =
    loadCheckpointFrom(root, listDir(logDir(root)), version)

  /** Fold the table state at `version`: live files (with stats), the
    * committed-txn ledger, and the current schema — seeded from the
    * latest checkpoint, then the log tail. Metadata-only.
    */
  private def resolveState(root: String, version: Long): CkptState = {
    val seed = loadCheckpoint(root, version)
      .getOrElse(CkptState(0L))
    val fromV = seed.version
    val live = scala.collection.mutable.LinkedHashMap.empty[String, FileMeta]
    seed.files.foreach { case (f, m) => live(f) = m }
    var schema = seed.schema
    var physSchema = seed.physSchema
    val txns = scala.collection.mutable.Map.empty[String, Long]
    txns ++= seed.txns
    val constraints = scala.collection.mutable.Map.empty[String, String]
    constraints ++= seed.constraints
    val renames = scala.collection.mutable.LinkedHashMap.empty[String, String]
    renames ++= seed.renames
    var partitionBy = seed.partitionBy
    val hists = scala.collection.mutable.Map.empty[String, ColHistogram]
    hists ++= seed.hists
    val ingests = scala.collection.mutable.Set.empty[String]
    ingests ++= seed.ingests
    val props = scala.collection.mutable.Map.empty[String, String]
    props ++= seed.props
    var rowHwm = seed.rowHwm
    var top = fromV
    commitsInRange(root, fromV, version).foreach { c =>
      val blooms = if (c.blooms.size == c.added.size) c.blooms else c.added.map(_ => "")
      val multi = if (c.multiStats.size == c.added.size) c.multiStats
                  else c.added.map(_ => Map.empty[String, FileStat])
      val sizes = if (c.sizes.size == c.added.size) c.sizes else c.added.map(_ => -1L)
      val rbases = if (c.rbases.size == c.added.size) c.rbases
                   else c.added.map(_ => -1L)
      c.added.zipWithIndex.foreach { case (f, i) =>
        val bl = blooms(i)
        // modTime = the commit's timestamp: when the file became
        // table-visible — what `_metadata.file_modification_time`
        // surfaces without a filesystem stat
        live(f) = FileMeta(multi(i),
          Some(bl).filter(_.nonEmpty), if (bl.nonEmpty) c.bloomCol else "",
          size = sizes(i), modTime = c.ts,
          rowBase = Some(rbases(i)).filter(_ >= 0L))
      }
      if (c.rowHwm > rowHwm) rowHwm = c.rowHwm
      c.dvFiles.zip(c.dvs).foreach { case (f, hex) =>
        // DVs union across delete commits (set bits only accumulate);
        // a DV for a file already removed is a no-op
        live.get(f).foreach(m => live(f) = m.copy(dv = Some(hexOr(m.dv, hex))))
      }
      c.removed.foreach(live.remove)
      // ANALYZE overlay: refreshed stats (typed ranges + HLL
      // sketches) merge into files STILL LIVE — a file removed by a
      // concurrent or later rewrite is simply skipped, so an overlay
      // can never resurrect data or clobber a deletion vector
      c.restatFiles.zip(c.restats).foreach { case (f, ms) =>
        live.get(f).foreach(m => live(f) = m.copy(stats = m.stats ++ ms))
      }
      // TABLE-level histograms (ANALYZE ... histogram_bins): latest
      // analyze wins per column
      hists ++= c.hists
      txns(c.txnId) = c.version
      ingests ++= c.ingests
      if (c.schemaId.nonEmpty) schema = c.schemaId
      c.partitionBy.foreach(p => partitionBy = p)
      c.physSchema.foreach { declared =>
        physSchema = Some(declared)
        // a declared schema retires column-mapping entries whose
        // PHYSICAL target left it: after DROP COLUMN b (physical a),
        // the stale b->a entry would otherwise resurface pre-drop
        // bytes under a re-added name and block re-adding `a`
        val names = declared.fieldNames.toSet
        renames.filterInPlace((_, p) => names.contains(p))
      }
      // drop-constraint / drop-property commits name what they drop
      constraints --= c.cdrops
      props --= c.pdrops
      // properties born WITH a commit (r20, the atomic twin of cadds):
      // CREATE/CTAS-declared TBLPROPERTIES land in the create record
      // itself — no version at which the table is visible without its
      // declared policy, and a crash mid-CREATE leaves no
      // partially-configured table. propReset clears inherited
      // properties FIRST (RTAS: replace resets configuration
      // wholesale, it never inherits the replaced table's policy).
      if (c.propReset) props.clear()
      props ++= c.padds
      // constraints born WITH a commit (atomic CREATE TABLE: schema,
      // data and constraints in ONE record — no window where the
      // table is visible unconstrained). conReset clears inherited
      // constraints FIRST (r20, the propReset twin): REPLACE TABLE
      // declares the new table's whole constraint set — a stale CHECK
      // from the replaced table must not keep rejecting writes.
      if (c.conReset) constraints.clear()
      constraints ++= c.cadds
      c.rename.foreach { case (o, n) =>
        // LOGICAL rename over a stable PHYSICAL name: the map tracks
        // logical -> physical; renaming back to the physical name
        // drops the entry (identity mappings never accumulate). Any
        // action may carry one — a schema-evolve re-adding a dropped
        // name rides its fresh-physical mapping in the same record.
        val phys = renames.getOrElse(o, o)
        renames.remove(o)
        if (n != phys) renames(n) = phys
      }
      top = c.version
    }
    CkptState(top, live.toSeq, txns.toMap, schema,
      constraints.toMap, physSchema, renames.toMap, partitionBy, hists.toMap,
      ingests.toSet, props.toMap, rowHwm)
  }

  /** Write a checkpoint of the CURRENT table state (live files with
    * stats, txn ledger, schema), published atomically as
    * `_log/<version>.checkpoint`. From then on resolution for any
    * version ≥ this one starts here and folds only the log TAIL —
    * O(live files + commits since), not O(commits ever) — the knob
    * that keeps a long-lived table's planning AND commit cost flat as
    * its history grows. Commit JSONs are kept, so time travel to
    * pre-checkpoint versions still works. Idempotent per version;
    * safe concurrent with writers (a checkpoint adds no commit and
    * changes no conflict outcome).
    */
  def checkpoint(root: String): Long = {
    val v = currentVersion(root)
    val target = ckptPath(root, v)
    if (v == 0L || Files.exists(target)) return v
    val st0 = resolveState(root, v)
    // a DV materialized inline during resolution is the UNION of
    // repeated partial deletes — re-spill it so the checkpoint stays
    // metadata-thin too. Per-attempt names: a concurrent checkpointer
    // at the same version writes its own sidecars and exactly one
    // checkpoint publishes (the link CAS below); the loser's sidecars
    // orphan, nothing ever shares or overwrites a referenced path.
    val st = st0.copy(files = st0.files.map { case (f, meta) =>
      (f, meta.copy(dv = meta.dv.map { enc =>
        if (enc.startsWith("@") || enc.length <= DvSidecarThreshold) enc
        else spillSidecar(root, s"ckpt$v", enc)
      }))
    })
    val tmp = logDir(root).resolve(s".tmp-ckpt-$v")
    Files.writeString(tmp, codec.writeValueAsString(st))
    try Files.createLink(target, tmp)
    catch { case _: FileAlreadyExistsException => () } // concurrent checkpointer won
    finally Files.deleteIfExists(tmp)
    // prune superseded checkpoints, keeping the two newest: every
    // commit record is retained so nothing is lost, the log listing
    // stays O(commits + 2) instead of growing a checkpoint per
    // interval, and a reader racing this delete falls back to the
    // surviving newer one (loadCheckpointFrom retries down the list).
    checkpointsIn(listDir(logDir(root))).sortBy(-_._1).drop(2)
      .foreach { case (cv, p) => Files.deleteIfExists(p); ckptCache.remove((root, cv)) }
    v
  }

  /** The live data files of the snapshot at `version`, with their
    * inline stats / bloom metadata where known. Metadata-only.
    */
  def snapshotState(root: String,
                    version: Long = Long.MaxValue): Seq[(String, FileMeta)] =
    resolveState(root, version).files

  /** The live data files of the snapshot at `version`. */
  def snapshotFiles(root: String, version: Long = Long.MaxValue): Seq[String] =
    snapshotState(root, version).map(_._1)

  /** Read the table at `version` (default: head). The file list is
    * resolved ONCE here; immutable data files make the returned frame
    * a stable snapshot regardless of later commits.
    *
    * `mergeSchema = true` is the X-A19 contract over the log: a
    * long-lived table's commits accumulate schema GENERATIONS (a new
    * column appears in files staged after some version); the merged
    * read unions the footers at planning time and old files yield
    * nulls for columns they predate — history is never rewritten.
    * Default off: single-generation tables skip the footer merge.
    */
  def read(s: SparkSession, root: String,
           version: Long = Long.MaxValue,
           mergeSchema: Boolean = false): DataFrame = {
    val st = resolveState(root, version)
    val state = st.files
    val files = state.map(_._1)
    if (files.isEmpty)
      // an empty snapshot of a DECLARED table still has a schema — a
      // freshly-created (or fully-truncated) table must read as zero
      // ROWS, not zero COLUMNS, or every downstream keyed operation
      // (merge, change-feed consumers) fails resolution on version 1
      tableSchema(root, version) match {
        case Some(sch) => toLogical(s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sch), st.renames)
        case None => s.emptyDataFrame
      }
    else {
      // a DECLARED schema makes the read era-aware (type widening,
      // added columns) — the mergeSchema flag only governs the
      // schema-less raw-API fallback
      val base =
        if (st.physSchema.isDefined || mergeSchema) openFiles(s, st.physSchema, files)
        else s.read.parquet(files: _*)
      // files store PHYSICAL names; the snapshot surfaces the logical
      // names AS OF this version — time travel under a rename shows
      // the era's own names
      toLogical(applyDeletionVectors(base, state), st.renames)
        .drop(RowIdPhysCol) // internal id column never surfaces
    }
  }

  /** Inline-vs-sidecar boundary for deletion-vector payloads: a
    * bitmap whose hex rendering exceeds this many chars (2 KiB of
    * bitmap ≈ a 16k-row span) is spilled to `_log/dv/<name>.dv` and
    * referenced from the record as `@<absolute path>` — the Delta
    * inline-vs-DV-file split. The log record and checkpoint stay
    * metadata-thin no matter how dense the delete (a dense DV on a
    * 10M-row file would otherwise put a 1.25 MB hex string in ONE
    * JSON record); the bitmap bytes are read only when the table is
    * actually read, never during snapshot resolution of a
    * single-delete file. Sidecars are immutable and live as long as
    * their commit record ([[vacuum]] never touches `_log/`;
    * [[vacuumStaging]] reclaims only sidecars referenced by NO
    * record and NO retained checkpoint — losing attempts' orphans —
    * under the same no-writer-mid-stage contract as staging dirs).
    */
  val DvSidecarThreshold = 4096

  /** Sidecars are immutable once referenced, so their bytes are
    * JVM-cacheable — a read-heavy table with dense vectors loads each
    * sidecar once per process, not once per query plan. Bounded by
    * entry count; on overflow the cache clears (refill is one file
    * read each).
    */
  private val dvSidecarCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Resolve a DV payload: inline hex passes through, an `@<path>`
    * ref loads (and caches) its sidecar.
    */
  private[sources] def dvHex(v: String): String =
    if (!v.startsWith("@")) v
    else {
      if (dvSidecarCache.size > 128) dvSidecarCache.clear()
      dvSidecarCache.computeIfAbsent(v,
        _ => Files.readString(Paths.get(v.drop(1))))
    }

  /** Publish a sidecar under a PER-ATTEMPT-unique name (the
    * [[stageAttempt]] staging recipe): no replayed transaction, crashed
    * attempt, or concurrent checkpointer can ever reuse — let alone
    * clobber or truncate — a path some published record already
    * references; losing attempts leave small orphan files, the same
    * contract as staging dirs. Written whole before any reference to
    * it can publish. Returns the `@<path>` ref.
    */
  private def spillSidecar(root: String, prefix: String, hex: String): String = {
    val dir = logDir(root).resolve("dv")
    Files.createDirectories(dir)
    val p = dir.resolve(s"$prefix-a$uuid12.dv")
    Files.writeString(p, hex)
    "@" + p.toString
  }

  /** Bitwise OR of two hex bitsets (shorter one zero-padded). Either
    * side may be a sidecar ref — a SINGLE vector per file (the common
    * case) is never loaded here; only the union of repeated partial
    * deletes on one file materializes inline.
    */
  private def hexOr(a: Option[String], b: String): String = a match {
    case None => b
    case Some(x0) =>
      val x = dvHex(x0); val b1 = dvHex(b)
      val (long, short) = if (x.length >= b1.length) (x, b1) else (b1, x)
      long.zipWithIndex.map { case (c, i) =>
        if (i < short.length)
          f"${Integer.parseInt(c.toString, 16) | Integer.parseInt(short(i).toString, 16)}%x"
        else c
      }.mkString
  }

  /** Filter out rows whose (file, row-index) bit is set in the file's
    * deletion vector. No live DV → the input frame is returned
    * UNTOUCHED (no `_metadata` columns, no join — the common case
    * pays nothing). With DVs: one BROADCAST join against a dim of
    * (file, bitmap) — one row per DV'd file, O(files × dv bytes),
    * never O(deleted rows) — and a per-row codegen bit test
    * (`_metadata.row_index` → hex nibble → shiftright & 1). All
    * builtins, whole-stage codegen'd, applied by every read path
    * (snapshot, range, point), so a delete is visible everywhere at
    * O(deleted-row metadata) cost with zero file rewrites.
    */
  /** Normalized file path of the current row, from the scan's
    * metadata pseudo-column (stored log paths are plain absolute).
    */
  private[sources] def metaFilePath: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    // _metadata.file_path is a URI: percent-encoded ('#' -> %23,
    // non-ASCII, a raw '%' -> %25). Stored log paths are RAW, so the
    // join key must decode or any encodable character silently
    // unmatches — deleted rows would resurface with no error. Every
    // '%' here IS an escape (the URI encoder produced it), so
    // url_decode cannot throw on well-formed input.
    url_decode(regexp_replace(col("_metadata.file_path"), "^file:(//)?", ""))
  }

  /** Same normalization for `input_file_name()` (the staging-side
    * scans): also a URI, also percent-encoded — a root containing
    * '#', '%' or non-ASCII would otherwise mismatch every staged path
    * and silently commit no stats/blooms for the table.
    */
  private def inputFilePath: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    url_decode(regexp_replace(input_file_name(), "^file:(//)?", ""))
  }

  /** A deletion vector as its NONZERO 64-bit words: (word index,
    * word), where bit b of the word marks row `wordIdx * 64 + b`
    * deleted (the hex prints each word as 16 chars MSB-first, so the
    * parsed long's bit b IS position b). Sidecar refs resolve here.
    *
    * This shape exists because the DV read path has now been made
    * quadratic TWICE: the r16 receipt caught hex bitmaps riding the
    * join as STRING (per-row `substring` walked UTF-8 from the start
    * — O(file-bytes) per row), and the fix (BINARY, O(1) slices)
    * still left the BroadcastHashJoin COPYING the full bitmap out of
    * the build row for every probe row (`UnsafeRow.getBinary`) —
    * invisible at sf1, ~75× wall at 100× rows on the r17 sf10
    * receipt. Joining on (file, ri div 64) against one row per
    * nonzero word carries EIGHT BYTES per matched row, is codegen'd
    * end to end, and the dim is SMALLER for sparse vectors (zero
    * bytes for untouched words).
    */
  private[sources] def dvWords(v: String): Seq[(Long, Long)] = {
    val hex0 = dvHex(v)
    val hex = // defensive word alignment (writers always align)
      if (hex0.length % 16 == 0) hex0
      else hex0 + "0" * (16 - hex0.length % 16)
    (0 until hex.length / 16).flatMap { w =>
      val word = java.lang.Long.parseUnsignedLong(
        hex.substring(w * 16, w * 16 + 16), 16)
      if (word != 0L) Some((w.toLong, word)) else None
    }
  }

  /** Is `riCol`'s bit set in its file's `ri div 64` word (`wordCol`,
    * nullable — no dim match = no deletes in that word = live)?
    * Builtins only — whole-stage codegen'd.
    */
  private[sources] def dvWordBitSet(wordCol: org.apache.spark.sql.Column,
                                    riCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    coalesce(call_function("shiftright", wordCol,
      pmod(riCol, lit(64L)).cast("int")).bitwiseAND(lit(1L)) =!= 0, lit(false))
  }

  /** `ri div 64` without double-division drift (row indexes are far
    * below 2^53, but exactness should not depend on that).
    */
  private[sources] def dvWordIdx(riCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    ((riCol - pmod(riCol, lit(64L))) / lit(64L)).cast("long")
  }

  /** Join the per-word DV dim and keep only live rows; the frame
    * gains `__fp`/`__ri` helper columns the caller may use or drop.
    */
  private def dvFiltered(base: DataFrame,
                         dvs: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions._
    val words = dvs.flatMap { case (f, v) =>
      dvWords(v).map { case (w, bits) => (f, w, bits) }
    }
    val positioned = base.withColumn("__fp", metaFilePath)
      .withColumn("__ri", col("_metadata.row_index"))
    if (words.isEmpty) return positioned // all-zero bitmaps: nothing dead
    val dim = base.sparkSession.createDataFrame(words)
      .toDF("__dvf", "__dvw", "__dvbits")
    positioned
      .join(broadcast(dim),
        col("__fp") === col("__dvf") && dvWordIdx(col("__ri")) === col("__dvw"),
        "left")
      .filter(!dvWordBitSet(col("__dvbits"), col("__ri")))
      .drop("__dvf", "__dvw", "__dvbits")
  }

  private def applyDeletionVectors(base: DataFrame,
                                   state: Seq[(String, FileMeta)]): DataFrame = {
    val dvs = state.collect { case (f, m) if m.dv.isDefined => (f, m.dv.get) }
    if (dvs.isEmpty) return base
    val cols = base.columns // original projection, before helper columns
    dvFiltered(base, dvs).select(cols.map(org.apache.spark.sql.functions.col): _*)
  }

  /** The LIVE rows of an already-resolved state, with `__fp`/`__ri`
    * helper columns (file path, row index) — the shared front half of
    * every DV-writing path.
    */
  private def liveWithPosition(s: SparkSession,
                               state: Seq[(String, FileMeta)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = s.read.parquet(state.map(_._1): _*)
    val existing = state.collect { case (f, m) if m.dv.isDefined => (f, m.dv.get) }
    if (existing.isEmpty)
      base.withColumn("__fp", metaFilePath)
        .withColumn("__ri", col("_metadata.row_index"))
    else dvFiltered(base, existing)
  }

  /** Per-file deletion-vector bitmaps built WHERE THE ROWS ARE: two
    * map-side-combined aggregations fold the hit positions into
    * 64-bit words in executors — stage 1 ORs each (file, word) group,
    * stage 2 gathers one row PER FILE — and the driver only assembles
    * hex from the sparse word list. The collect is exactly O(files ×
    * bitmap-bytes), the size of the log record the commit writes
    * anyway; the per-ROW set never leaves the executors. (The r12
    * design collected every (file, row_index) hit to the driver — at
    * 100 TB a 1% delete is 10⁹ rows through the driver; this one
    * ships ≤ rows/64 words, one result row per file.)
    *
    * `hits` must expose `__fp`/`__ri`. Returns (file → hex), sorted.
    */
  private[sources] def dvBitmaps(hits: DataFrame): Seq[(String, String)] = {
    import org.apache.spark.sql.functions._
    hits
      .groupBy(col("__fp"), (col("__ri") / 64).cast("long").as("__w"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        pmod(col("__ri"), lit(64L)).cast("int"))).as("__bits"))
      .groupBy(col("__fp"))
      .agg(sort_array(collect_list(struct(col("__w"), col("__bits")))).as("__ws"))
      .collect()
      .toSeq
      .map { r =>
        val ws = r.getSeq[org.apache.spark.sql.Row](1)
        val maxW = ws.last.getLong(0)
        require(maxW < (1L << 27), // a 1-GiB bitmap no longer fits a log record
          s"deletion vector for ${r.getString(0)} spans row index ${maxW * 64} " +
            "(> 8.6B rows in one file — far past sane file sizing); delete in " +
            "partitioned key ranges, or rewrite the file smaller first " +
            "(optimizeZorder / compactSmallFiles), so each vector stays metadata-scale")
        val words = new Array[Long](maxW.toInt + 1)
        ws.foreach(w => words(w.getLong(0).toInt) = w.getLong(1))
        (r.getString(0), words.map(w => f"$w%016x").mkString)
      }
      .sortBy(_._1)
  }

  /** Row-level DELETE as metadata: mark matching rows in per-file
    * deletion-vector bitmaps and commit action `"delete"` — NO file
    * is rewritten, the delete costs O(deleted rows) of executor work
    * and O(bitmap bytes) at the driver and in the log, against a
    * copy-on-write rewrite of every touched file (at 100 TB, deleting
    * one user's rows from a billion-row table rewrites gigabytes; the
    * DV prices it at KB). This is the public Delta deletion-vector /
    * Iceberg position-delete design. Reads apply DVs transparently
    * ([[applyDeletionVectors]]); DVs union across delete commits;
    * a rewrite of the file clears them (the staged copy is written
    * from a DV-filtered read, so the deletes are COMPACTED INTO the
    * rewrite, not lost); the conflict matrix in [[commit]] keeps
    * delete/rewrite races serializable. Bitmaps are built in
    * executors ([[dvBitmaps]]); the driver sees one row per touched
    * file.
    *
    * Returns the commit, or None if the predicate matched no rows
    * (no version is burned for a no-op).
    */
  def deleteWhere(s: SparkSession, root: String,
                  condition: org.apache.spark.sql.Column,
                  txnId: String): Option[Commit] = {
    import org.apache.spark.sql.functions.col
    val readV = currentVersion(root)
    val st0 = resolveState(root, readV)
    val state = st0.files
    if (state.isEmpty) return None
    // matching rows among the LIVE rows only (re-marking an
    // already-deleted row would be a harmless union, but burning a
    // version for a delete whose every match was already dead is not);
    // the predicate is written in LOGICAL names — surface them
    val live = toLogical(liveWithPosition(s, state), st0.renames)
    val bitmaps = dvBitmaps(live.filter(condition)
      .select(col("__fp"), col("__ri")))
    if (bitmaps.isEmpty) return None
    val (dvFiles, dvs) = bitmaps.unzip
    Some(commit(root, "delete", added = Nil, removed = Nil,
      readVersion = readV, txnId = txnId, dvFiles = dvFiles, dvs = dvs))
  }

  /** The delete half of a predicate-scoped overwrite
    * ([[GraftTable.replaceWhere]]): DV bitmaps for the live rows of
    * `scanState` matching `condition` (logical names), each folded
    * with the file's EXISTING vector — a file whose union covers
    * every physical row returns as a whole-file removal instead
    * (metadata delete + the vector dies with the file), partial files
    * return their fresh bitmap. The caller composes the result with
    * its staged adds into ONE commit; `scanState` should already be
    * stat-pruned to the files the predicate can touch.
    *
    * Returns (whollyDeadFiles, dvFiles, dvs).
    */
  private[sources] def replaceDeletes(s: SparkSession, root: String,
      condition: org.apache.spark.sql.Column,
      scanState: Seq[(String, FileMeta)],
      renames: Map[String, String]): (Seq[String], Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.col
    if (scanState.isEmpty) return (Nil, Nil, Nil)
    val live = toLogical(liveWithPosition(s, scanState), renames)
    val bitmaps = dvBitmaps(live.filter(condition)
      .select(col("__fp"), col("__ri")))
    if (bitmaps.isEmpty) return (Nil, Nil, Nil)
    def popcount(hex: String): Long =
      hex.foldLeft(0L)((n, c) => n + Integer.bitCount(Character.digit(c, 16)))
    val metaOf = scanState.toMap
    val (dead, partial) = bitmaps.partition { case (f, hex) =>
      val m = metaOf(f)
      // physical row count from any recorded stat; unknown (-1) keeps
      // the file as a DV carrier (sound, merely less tidy)
      val rows = m.stats.values.map(_.rows).find(_ >= 0L).getOrElse(-1L)
      rows >= 0L && popcount(hexOr(m.dv, hex)) == rows
    }
    (dead.map(_._1), partial.map(_._1), partial.map(_._2))
  }

  /** Keyed row-level DELETE: mark every live row whose `keyCol` value
    * appears in `keys` — the retraction-by-key-set shape an upstream
    * change feed produces ([[TxnStream.maintainMirror]]). Unlike
    * `deleteWhere(col.isInCollection(collected))`, the key frame is
    * NEVER collected: affected files are discovered by the same
    * metadata broadcast range-join as [[mergeInto]] (only files whose
    * recorded key range can hold a key are scanned; stat-less files
    * scan — sound), the matching rows come from a semi-join executed
    * where the data is (broadcast when the key frame is small,
    * shuffled when it is not — a 10⁸-key GDPR purge works), and the
    * bitmaps are built per file in executors ([[dvBitmaps]]). Driver
    * cost: O(files × bitmap-bytes), nothing proportional to the key
    * count.
    *
    * Returns the commit, or None if no live row matched.
    */
  def deleteWhereKeys(s: SparkSession, root: String, keys: DataFrame,
                      keyCol: String, txnId: String): Option[Commit] = {
    val readV = currentVersion(root)
    val st0 = resolveState(root, readV)
    if (st0.files.isEmpty) return None
    val bitmaps = keyedKillBitmaps(s, st0, keys, keyCol)
    if (bitmaps.isEmpty) return None
    val (dvFiles, dvs) = bitmaps.unzip
    Some(commit(root, "delete", added = Nil, removed = Nil,
      readVersion = readV, txnId = txnId, dvFiles = dvFiles, dvs = dvs))
  }

  /** The bitmap half of [[deleteWhereKeys]], reusable by writers that
    * fold a keyed retraction INTO a larger transaction
    * ([[retractAndAppend]]): per affected file, the hex bitmap of
    * live rows whose `keyCol` value appears in `keys`.
    */
  private def keyedKillBitmaps(s: SparkSession, st0: CkptState,
                               keys: DataFrame,
                               keyCol: String): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val state = st0.files
    val physKey = physicalName(st0.renames, keyCol)
    // same integral-key guard as mergeInto: a non-integral key frame
    // cannot soundly range-compare against "l" stats — skip pruning
    // (every stat-bearing file scans; a missed retraction is a
    // silent mirror divergence, unpruned is merely slower)
    val keyIntegral = keys.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val ranged = if (!keyIntegral) Nil else state.collect {
      case (f, m) if m.stats.get(physKey).exists(_.typ == "l") =>
        val st = m.stats(physKey); (f, st.lo, st.hi)
    }
    val unranged = state.map(_._1).toSet -- ranged.map(_._1)
    val affectedFiles: Set[String] =
      if (ranged.isEmpty) state.map(_._1).toSet
      else {
        val dim = s.createDataFrame(ranged).toDF("__mf", "__lo", "__hi")
        val hit = keys.select(col(keyCol).cast("long").as("__mk"))
          .join(broadcast(dim),
            col("__mk") >= col("__lo") && col("__mk") <= col("__hi"))
          .select(col("__mf")).distinct().collect().map(_.getString(0))
        unranged ++ hit
      }
    if (affectedFiles.isEmpty) return Nil
    val scanState = state.filter(f => affectedFiles(f._1))
    val hits = toLogical(liveWithPosition(s, scanState), st0.renames)
      .join(keys.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
      .select(col("__fp"), col("__ri"))
    dvBitmaps(hits)
  }

  /** ONE transaction that retracts every live row whose `keyCol`
    * value appears in `keys` (deletion-vector bitmaps, file-pruned
    * like [[deleteWhereKeys]]) AND appends `adds` — the index-delta
    * primitive behind [[TxnStream.maintainIndexInto]]. Retraction
    * and insertion land atomically: no reader ever sees an index
    * with a document's old band keys removed but its new ones not
    * yet visible (or both at once). An empty delta (no kills, no
    * adds) still commits, durably marking the consumer's offset.
    */
  def retractAndAppend(s: SparkSession, root: String, keys: DataFrame,
                       keyCol: String, adds: DataFrame,
                       txnId: String): Commit = {
    val readV = currentVersion(root)
    val st0 = resolveState(root, readV)
    val bitmaps =
      if (st0.files.isEmpty) Nil else keyedKillBitmaps(s, st0, keys, keyCol)
    val (dvFiles, dvs) = bitmaps.unzip
    val phys = toPhysical(adds, columnMapping(root, readV))
    val statCols = GraftTable.statPaths(phys.schema)
    val (files, multi) =
      if (statCols.isEmpty) (stage(phys, root, s"$txnId-a$uuid12"),
        Seq.empty[Map[String, FileStat]])
      else stageWithStatsFor(phys, root, s"$txnId-a$uuid12", statCols)
    commit(root, "index-delta", added = files, removed = Nil,
      readVersion = readV, txnId = txnId, multiStats = multi,
      dvFiles = dvFiles, dvs = dvs,
      schemaId = schemaFingerprint(phys.schema),
      physSchema = GraftTable.declareSchema(root, phys.schema))
  }

  /** Keyed MERGE (upsert): rows of `source` REPLACE table rows with
    * the same `keyCol` value; unmatched source rows are inserts. The
    * 100 TB property is the FILE PRUNING: only files whose recorded
    * [min, max] of `keyCol` can contain a source key are rewritten —
    * a merge touching one key range rewrites a handful of files, not
    * the table. Affected-file discovery is a metadata broadcast join
    * (the O(files) range dim against the source's keys — the source
    * is never collected); files without applicable stats are ALWAYS
    * treated as affected (soundness, same contract as read-side
    * pruning). The rewrite reads affected files DV-filtered (deletes
    * are compacted in, vectors die with the files), anti-joins the
    * source keys, unions the source, and commits copy-on-write with
    * `removed` = the affected files — so the standard conflict matrix
    * arbitrates merge∥merge and merge∥delete races. `source` must
    * have the table's schema and at most one row per key (enforced:
    * a multi-row key would make the merge order-dependent).
    *
    * This is the public Delta MERGE INTO shape (Armbrust VLDB'20 §4);
    * the pruning corresponds to its file-skipping on the ON clause.
    */
  def mergeInto(s: SparkSession, root: String, source: DataFrame,
                keyCol: String, txnId: String): Commit =
    mergeIntoKeys(s, root, source, Seq(keyCol), txnId)

  /** [[mergeInto]] over a COMPOSITE key: rows replace table rows that
    * match on EVERY key column. Affected-file pruning intersects the
    * per-column admissions (a file lacking any source value in range
    * on ANY statted integral key column cannot hold a match), so a
    * composite key prunes at least as hard as its best single column;
    * columns that cannot prune (non-integral, unstatted) simply do
    * not narrow. One row per key TUPLE enforced, same conflict matrix.
    */
  def mergeIntoKeys(s: SparkSession, root: String, source: DataFrame,
                    keyCols: Seq[String], txnId: String): Commit = {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"merge keys must be non-empty and distinct: ${keyCols.mkString(", ")}")
    val readV = currentVersion(root)
    val st0 = resolveState(root, readV)
    val state = st0.files
    val dup = source.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge source has multiple rows for (${keyCols.mkString(", ")}) = " +
        s"${dup.headOption.map(_.toSeq.init).orNull}")
    checkConstraints(s, root, source) // incoming rows only — O(batch)
    // storage is physical-named: translate the source and the keys
    // before touching files or stats (no-ops on rename-free tables)
    val physSource = toPhysical(source, st0.renames)
    val physKeys = keyCols.map(physicalName(st0.renames, _))
    // Files without an "l" stat on the key land in `unranged` =
    // always affected. And only an INTEGRAL key may range-compare
    // against "l" stats at all: cast("long") of a string key is not
    // order-preserving (a non-numeric key nulls/throws), so a
    // non-integral key disables pruning — every file is affected,
    // correct just unpruned.
    // per-column admission, intersected across the key columns
    def admittedFor(pk: String): Option[Set[String]] = {
      val integral = physSource.schema(pk).dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      }
      if (!integral) return None // cannot prune on this column
      val ranged = state.collect {
        case (f, m) if m.stats.get(pk).exists(_.typ == "l") =>
          val st = m.stats(pk)
          (f, st.lo, st.hi)
      }
      if (ranged.isEmpty) None
      else {
        val unranged = state.map(_._1).toSet -- ranged.map(_._1)
        val dim = s.createDataFrame(ranged).toDF("__mf", "__lo", "__hi")
        val hits = physSource.select(col(pk).cast("long").as("__mk"))
          .join(broadcast(dim),
            col("__mk") >= col("__lo") && col("__mk") <= col("__hi"))
          .select(col("__mf")).distinct().collect().map(_.getString(0))
        Some(unranged ++ hits)
      }
    }
    val admissions = physKeys.flatMap(admittedFor)
    val affected: Set[String] =
      if (admissions.isEmpty) state.map(_._1).toSet
      else admissions.reduce(_ & _)
    // INSERT-grade metadata on merge output: every statable column
    // gets typed per-file stats — NOT just the merge keys — plus
    // bucket stats where the table is bucketed, and a rebuilt bloom
    // where the table's live files carry one. The upsert sink (X-A70)
    // routes every epoch through here, so stats-only-on-keys would
    // decay a continuously-merged table to key-only skipping on
    // exactly its hottest (most-rewritten) files: a predicate on any
    // non-key column would stop pruning them, and the metadata-agg
    // fast path (X-A33) would lose them too.
    val statCols =
      (GraftTable.statPaths(physSource.schema) ++ physKeys).distinct
    val buckets = partitionFields(root).collect {
      case BucketField(n, c) if physSource.columns.contains(c) => (n, c)
    }
    // bloom carry: the dominant (column, bits, k) among live files'
    // filters — rewrites and inserts keep point-lookup skipping alive
    // instead of eroding it file by file. A file without a bloom, or
    // with one whose width is not a power of two, adds no vote
    // (sound: an absent bloom never prunes).
    val bloomPlan: Option[(String, Int, Int)] = state.iterator
      .flatMap { case (_, m) =>
        m.bloom.filter(_ => m.bloomCol.nonEmpty)
          .flatMap(bloomSpec).map { case (bits, k) => (m.bloomCol, bits, k) }
      }
      .toSeq.groupBy(identity).toSeq
      .sortBy { case (spec, hits) => (-hits.size, spec._1) }
      .collectFirst { case (spec, _)
        if physSource.columns.contains(spec._1) => spec }
    def stageMergeOut(df: DataFrame): (Seq[String], Seq[Map[String, FileStat]],
        Seq[String], String) = {
      val dirId = s"$txnId-a$uuid12"
      val (files, stats) = stageWithStatsFor(df, root, dirId, statCols, buckets)
      bloomPlan match {
        case Some((bcol, bits, k)) if files.nonEmpty =>
          (files, stats, bloomsForStaged(s, root, dirId, bcol, files, bits, k), bcol)
        case _ => (files, stats, Nil, "")
      }
    }
    if (affected.isEmpty) {
      // pure insert: no live file can hold any source key
      val (files, stats, blooms, bcol) = stageMergeOut(physSource)
      return commit(root, "merge", files, Nil, readVersion = readV,
        txnId = txnId, multiStats = stats, blooms = blooms, bloomCol = bcol,
        schemaId = schemaFingerprint(physSource.schema),
        physSchema = Some(physSource.schema),
        failOnConcurrentAppend = true)
    }
    val affectedState = state.filter(f => affected(f._1))
    // X-A96 (r19): carried (unmatched) rows keep their ROW IDS through
    // the merge rewrite — readForRewrite materializes `__graft_rid`
    // like every other rewrite path; matched rows are replaced by
    // source rows, which mint fresh ids off the staged files' bases
    // (the null-materialized slot), the same delete+insert identity
    // the COW DML path gives updated rows
    val existing = readForRewrite(s, st0.physSchema, affectedState)
    val out = existing.join(physSource.select(physKeys.map(col): _*),
        physKeys, "left_anti")
      .unionByName(physSource.withColumn(RowIdPhysCol,
        org.apache.spark.sql.functions.lit(null).cast("long")))
    val (files, stats, blooms, bcol) = stageMergeOut(out)
    commit(root, "merge", files, removed = affectedState.map(_._1),
      readVersion = readV, txnId = txnId, multiStats = stats,
      blooms = blooms, bloomCol = bcol,
      schemaId = schemaFingerprint(physSource.schema),
      physSchema = Some(physSource.schema),
      failOnConcurrentAppend = true)
  }

  /** Register a CHECK constraint: `sqlExpr` (a Spark SQL boolean
    * expression over the table's columns) must hold for every row of
    * every FUTURE write through [[appendOnce]] / [[mergeInto]] (or an
    * explicit [[checkConstraints]] call before a raw [[commit]]) —
    * enforcement happens on the incoming BATCH, O(batch) not
    * O(table), before anything publishes: bad data never becomes
    * visible. The constraint itself rides the log (and checkpoints)
    * as a `cadds` pair, so every writer sees it. Name and expression
    * must be non-empty, and the expression must parse
    * ([[validateConstraint]]).
    */
  def setConstraint(root: String, name: String, sqlExpr: String,
                    txnId: String): Commit =
    commit(root, "set-constraint", Nil, Nil,
      readVersion = currentVersion(root), txnId = txnId,
      cadds = Seq(name -> sqlExpr))

  /** Drop a CHECK constraint by name. */
  def dropConstraint(root: String, name: String, txnId: String): Commit =
    commit(root, "drop-constraint", Nil, Nil,
      readVersion = currentVersion(root), txnId = txnId, cdrops = Seq(name))

  /** The CHECK constraints active at `version` (name → expression). */
  def activeConstraints(root: String,
                        version: Long = Long.MaxValue): Map[String, String] =
    resolveState(root, version).constraints

  /** Set a table property (X-A95 — the TBLPROPERTIES fold): one
    * metadata commit, folded linearly like constraints and persisted
    * through checkpoints, so policy travels WITH the table rather
    * than with whichever session happens to write it (the Delta
    * `delta.autoOptimize.*` shape — auto-compaction thresholds being
    * the motivating consumer, [[graft.sources.GraftStreamingWrite]]).
    * Properties are current-state metadata, not time-machined: a
    * RESTORE rewinds data, not operational policy.
    */
  def setTableProperty(root: String, key: String, value: String,
                       txnId: String): Commit =
    commit(root, "set-property", Nil, Nil,
      readVersion = currentVersion(root), txnId = txnId,
      padds = Seq(key -> value))

  /** The one property-shape contract, shared by [[setTableProperty]]
    * and the `padds` riding a CREATE/CTAS/RTAS commit — so a property
    * that cannot land as a post-create ALTER cannot be DECLARED at
    * CREATE either, and validation happens BEFORE any commit lands
    * (a failed CREATE TABLE leaves no table behind).
    */
  /** A CHECK constraint is stored only if its expression parses: an
    * unparseable one would fail every later write in
    * [[checkConstraints]]. Name and expression must be non-empty.
    */
  def validateConstraint(name: String, sqlExpr: String): Unit = {
    require(name.nonEmpty && sqlExpr.nonEmpty,
      "constraint names and expressions must be non-empty")
    try CatalystSqlParser.parseExpression(sqlExpr)
    catch { case e: ParseException =>
      throw new IllegalArgumentException(
        s"constraint $name: CHECK expression does not parse: $sqlExpr", e) }
  }

  def validateProperty(key: String, value: String): Unit = {
    require(key.nonEmpty, "property keys must be non-empty")
    require(value.nonEmpty, s"property values must be non-empty (key $key)")
  }

  /** Unset a table property by key. */
  def unsetTableProperty(root: String, key: String, txnId: String): Commit =
    commit(root, "drop-property", Nil, Nil,
      readVersion = currentVersion(root), txnId = txnId, pdrops = Seq(key))

  /** The table properties at `version` (key → value). Metadata-only. */
  def tableProperties(root: String,
                      version: Long = Long.MaxValue): Map[String, String] =
    resolveState(root, version).props

  /** Enforce the table's CHECK constraints against a write batch:
    * throws [[ConstraintViolationException]] naming the first
    * violated constraint and its offending-row count. One scan of
    * the batch, all constraints fused into a single pass.
    */
  def checkConstraints(s: SparkSession, root: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, count_if, expr, isnull, lit, not}
    val active = activeConstraints(root)
    // NOT NULL columns are write contracts too: enforced HERE, at
    // commit time, fused into the same single pass as the CHECK
    // constraints — so the raw-API writes, MERGE sources and
    // streaming epochs all honor them, not just SQL INSERT's
    // analysis-time checks. A declared NOT NULL column MISSING from
    // the batch is rejected without scanning (it would land as null).
    val notNull = tableSchema(root).toSeq
      .flatMap(_.fields.filterNot(_.nullable).map(_.name))
    val absent = notNull.filterNot(df.columns.contains)
    if (absent.nonEmpty) throw new ConstraintViolationException(
      s"NOT NULL column(s) ${absent.mkString(", ")} missing from the write; rejected")
    if (active.isEmpty && notNull.isEmpty) return
    val cSorted = active.toSeq.sortBy(_._1)
    val aggs = cSorted.zipWithIndex.map { case ((_, e), i) =>
      count_if(not(org.apache.spark.sql.functions.coalesce(expr(e), lit(false))))
        .as(s"__c$i") } ++
      notNull.zipWithIndex.map { case (c, i) =>
        count_if(isnull(col(c))).as(s"__n$i") }
    val counts = df.select(aggs: _*).head()
    cSorted.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = counts.getLong(i)
      if (bad > 0) throw new ConstraintViolationException(
        s"constraint $n (CHECK $e) violated by $bad row(s); write rejected")
    }
    notNull.zipWithIndex.foreach { case (c, i) =>
      val bad = counts.getLong(cSorted.size + i)
      if (bad > 0) throw new ConstraintViolationException(
        s"column $c is NOT NULL but the write carries $bad null row(s); write rejected")
    }
  }

  /** Enforce CHECK + NOT NULL constraints over already-STAGED parquet
    * files — the SQL DML post-images ([[GraftDeltaOperation]]) and
    * streamed epochs ([[GraftStreamingWrite]]), whose rows exist only
    * as executor-written files by commit time. One extra
    * scan of the staged bytes — O(changed data), never O(table); a
    * table with no constraints pays nothing (metadata-only early
    * return). On violation the staged files are deleted and NOTHING
    * publishes (same all-or-nothing contract as the insert path).
    */
  private[sources] def checkStagedConstraints(s: SparkSession, root: String,
                                              files: Seq[String]): Unit = {
    if (files.isEmpty) return
    if (activeConstraints(root).isEmpty &&
        tableSchema(root).forall(_.fields.forall(_.nullable))) return
    val df = toLogical(s.read.parquet(files: _*), columnMapping(root))
    try checkConstraints(s, root, df)
    catch {
      case e: Throwable =>
        files.foreach(f => Files.deleteIfExists(Paths.get(f)))
        throw e
    }
  }

  /** `ALTER COLUMN ... SET / DROP NOT NULL` as one schema-evolve
    * commit. SET NOT NULL first PROVES the claim over the LIVE rows:
    * the per-file null-count stats settle it metadata-only when every
    * live file recorded zero nulls; otherwise one DV-filtered
    * existence probe across the snapshot (a DDL-priced scan — the
    * Delta contract). Old files that predate an added column serve
    * its EXISTS_DEFAULT (or null — which rejects), so the check sees
    * exactly what queries see.
    */
  def setColumnNullability(s: SparkSession, root: String, col0: String,
                           nullable: Boolean, txnId: String): Commit = {
    val readV = currentVersion(root)
    val st = resolveState(root, readV)
    val raw = rawTableSchema(root, readV).getOrElse(throw new IllegalStateException(
      s"graft table at $root has no logged schema to evolve"))
    val phys = physicalName(st.renames, col0)
    require(raw.fieldNames.contains(phys), s"graft: no column $col0")
    val idx = raw.fieldIndex(phys)
    if (!nullable && st.files.nonEmpty) {
      val statsProve = st.files.forall { case (_, m) =>
        m.stats.get(phys).exists(_.nulls == 0L) }
      if (!statsProve) {
        val live = applyDeletionVectors(
          openFiles(s, st.physSchema, st.files.map(_._1)), st.files)
        val bad = live.filter(org.apache.spark.sql.functions.col(phys).isNull)
          .limit(1).count()
        require(bad == 0L,
          s"graft: cannot SET NOT NULL on $col0 — live rows hold nulls")
      }
    }
    val evolved = StructType(raw.fields.updated(idx,
      raw.fields(idx).copy(nullable = nullable)))
    commit(root, "schema-evolve", Nil, Nil, readVersion = readV, txnId = txnId,
      schemaId = schemaFingerprint(evolved), physSchema = Some(evolved))
  }

  /** OPTIMIZE ZORDER BY (x, y) as ONE transaction: rewrite the
    * table's live rows clustered by their Morton code
    * ([[graft.operators.LayoutOps.zValue]]) into `nFiles` files, with
    * multi-column (min, max, rows) stats on BOTH dimensions inline in
    * the commit — afterwards a range read on EITHER column prunes,
    * which is the point of z-order over single-column sorting. The
    * rewrite reads DV-filtered (row-level deletes compact in, vectors
    * die with the old files), `removed` = every previous file puts it
    * under the standard conflict matrix (a concurrent rewrite aborts
    * this job; a concurrent APPEND is untouched and simply stays
    * unclustered until the next OPTIMIZE — the Delta OPTIMIZE
    * contract), and time travel to the pre-layout version still
    * works: clustering changes bytes' ADDRESSES, never their content.
    */
  def optimizeZorder(s: SparkSession, root: String, xCol: String, yCol: String,
                     nFiles: Int, txnId: String, bits: Int = 16): Commit =
    optimizeZorderN(s, root, Seq(xCol, yCol), nFiles, txnId, bits)

  /** N-dimensional OPTIMIZE ZORDER: one rewrite transaction clustering
    * the live rows along a d-dim Morton curve, per-file stats
    * re-collected on EVERY clustering dimension so each file gets a
    * tight d-dim bounding box and predicates on any dimension prune.
    */
  def optimizeZorderN(s: SparkSession, root: String, cols: Seq[String],
                      nFiles: Int, txnId: String, bits: Int = 0,
                      curve: String = "morton"): Commit = {
    require(cols.nonEmpty, "optimizeZorderN needs at least one column")
    require(curve == "morton" || curve == "hilbert",
      s"optimize: curve must be morton or hilbert, got $curve")
    val readV = currentVersion(root)
    val st0 = resolveState(root, readV)
    // rewrite in PHYSICAL names (staging the logical read of a
    // renamed table would fork the storage column names); the caller
    // names logical dims, translated here for clustering and stats
    val phys = cols.map(physicalName(st0.renames, _))
    val base =
      if (st0.files.isEmpty) s.emptyDataFrame
      else readForRewrite(s, st0.physSchema, st0.files)
    // hilbert 2-dim keeps the canonical xy2d trace (its SQL oracle
    // replays that exact fold); d != 2 runs Skilling's d-dim
    // transpose (graft_hilbert_n) — same jump-free locality, native
    // codegen either way
    val clustered =
      if (curve == "hilbert" && cols.size == 2)
        graft.operators.LayoutOps.hilbertClustered(
          base, phys(0), phys(1), nFiles, if (bits > 0) bits else 16)
      else if (curve == "hilbert")
        graft.operators.LayoutOps.hilbertClusteredN(base, phys, nFiles, bits)
      else graft.operators.LayoutOps.zorderClusteredN(
        base, phys, nFiles, bits)
    // INSERT-grade stats on the rewrite (r17, same contract as merge):
    // the clustering dims get their tight boxes AND every other
    // statable column keeps skipping — a layout job must never erode
    // the table's metadata
    val statCols = (GraftTable.statPaths(clustered.schema) ++ phys).distinct
    val (files, multi) = stageWithStatsFor(clustered, root, s"$txnId-a$uuid12",
      statCols)
    commit(root, "zorder", files, removed = st0.files.map(_._1),
      readVersion = readV, txnId = txnId, multiStats = multi)
  }

  /** Set-bit count of a hex bitmap (a deletion vector's cardinality). */
  private def popHex(hex: String): Long = {
    var i = 0; var n = 0L
    while (i < hex.length) {
      n += Integer.bitCount(Character.digit(hex.charAt(i), 16)); i += 1
    }
    n
  }

  /** The live files whose deleted-row fraction is at or above
    * `minDeletedFraction` — METADATA-ONLY selection (DV cardinality
    * from the bitmap, row count from the file's stats). Files with a
    * DV but no recorded row count cannot price their density and are
    * never selected (run a stats-bearing rewrite to make them
    * eligible). This is the maintenance-policy input for
    * [[optimizeCompactDeletes]], exposed for observability.
    */
  def compactionCandidates(root: String, minDeletedFraction: Double,
                           version: Long = Long.MaxValue): Seq[String] =
    candidatesIn(snapshotState(root, version), minDeletedFraction)

  /** The selection decision over an ALREADY-resolved state — lets
    * [[optimizeCompactDeletes]] resolve the snapshot once for
    * selection, scan and commit.
    */
  private def candidatesIn(state: Seq[(String, FileMeta)],
                           minDeletedFraction: Double): Seq[String] =
    state.collect {
      case (f, m) if m.dv.exists { enc =>
        m.stats.values.collectFirst { case st if st.rows > 0 => st.rows }
          .exists(rows => popHex(dvHex(enc)).toDouble / rows >= minDeletedFraction)
      } => f
    }

  /** Rewrite every file whose deleted-row fraction crosses
    * `minDeletedFraction` CLEAN, as one transaction — the maintenance
    * half of the deletion-vector design: DV bitmaps only ever
    * accumulate, a dense-DV file pays its dead rows on every scan and
    * is excluded from the metadata-aggregate fast path forever, so at
    * some density a rewrite is cheaper than carrying the vector (the
    * public Delta `OPTIMIZE`-after-deletes recipe). Selection is
    * metadata-only ([[compactionCandidates]]); the rewrite reads ONLY
    * the victim files DV-filtered (the deletes compact in, the
    * vectors die with the files) and re-collects stats on the
    * victims' statted columns, so the rewritten files keep their
    * skipping AND re-enter [[statsAggregate]]'s zero-scan path.
    * `removed` = the victims puts the job under the standard conflict
    * matrix: a concurrent rewrite or DV on a victim aborts this
    * transaction; a concurrent APPEND is untouched and lands freely.
    * Time travel to pre-compaction versions still sees the vectors
    * (bitmaps live in the log, not the files).
    *
    * Returns the commit, or None when no file crosses the threshold
    * (no version burned).
    */
  def optimizeCompactDeletes(s: SparkSession, root: String,
                             minDeletedFraction: Double,
                             txnId: String): Option[Commit] = {
    require(minDeletedFraction > 0.0 && minDeletedFraction <= 1.0,
      s"minDeletedFraction must be in (0, 1]: $minDeletedFraction")
    val readV = currentVersion(root)
    val state = snapshotState(root, readV)
    val victimSet = candidatesIn(state, minDeletedFraction).toSet
    if (victimSet.isEmpty) return None
    val victims = state.filter(f => victimSet(f._1))
    val clean = readForRewrite(s, rawTableSchema(root, readV), victims)
    val (cols, buckets) =
      splitStatKeys(victims.flatMap(_._2.stats.keys).distinct)
    val (files, multi) =
      if (cols.isEmpty && buckets.isEmpty) (stage(clean, root, s"$txnId-a$uuid12"),
        Seq.empty[Map[String, FileStat]])
      else stageWithStatsFor(clean, root, s"$txnId-a$uuid12", cols, buckets)
    Some(commit(root, "compact-deletes", files, removed = victims.map(_._1),
      readVersion = readV, txnId = txnId, multiStats = multi))
  }

  /** Read a victim file set for a REWRITE (compaction / zorder),
    * ERA-AWARE: victims may span type-widening generations (one
    * column stored as int32 in pre-widen files and int64 after), so a
    * plain `read.parquet` — which types the scan off ONE footer —
    * fails with a parquet type mismatch on the other era's files (and
    * `mergeSchema` refuses to merge INT with BIGINT outright). Pass
    * the CURRENT declared physical schema explicitly — the parquet
    * reader widens each file into it, exactly like the V2 scan path —
    * so the rewritten file is written in the current era's types
    * (pre-rewrite versions still travel through the untouched
    * originals, so no era is ever violated).
    */
  private def readForRewrite(s: SparkSession, declared: Option[StructType],
                             victims: Seq[(String, FileMeta)]): DataFrame = {
    // X-A96: every rewrite path carries STABLE ROW IDS through — the
    // victim's materialized id column where present, else its
    // allocated base + raw row index — so layout maintenance and COW
    // survivors never re-identify a row
    val files = victims.map(_._1)
    val withRowId = declared.map(sch =>
      if (sch.fieldNames.contains(RowIdPhysCol)) sch
      else sch.add(org.apache.spark.sql.types.StructField(
        RowIdPhysCol, org.apache.spark.sql.types.LongType, nullable = true)))
    val base = openFiles(s, withRowId, files)
    applyDeletionVectors(withCarriedRowIds(base, victims), victims)
  }

  /** Materialize `__graft_rid` on a rewrite read: existing
    * materialized ids win, else the file's allocated base + raw row
    * index (null where the file never allocated — sound).
    */
  private def withCarriedRowIds(df: DataFrame,
                                victims: Seq[(String, FileMeta)]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, typedlit}
    val bases: Map[String, Long] =
      victims.collect { case (f, m) if m.rowBase.isDefined => (f, m.rowBase.get) }
        .toMap
    val mat =
      if (df.columns.contains(RowIdPhysCol)) col(RowIdPhysCol)
      else lit(null).cast("long")
    if (bases.isEmpty) df.withColumn(RowIdPhysCol, mat)
    else df.withColumn(RowIdPhysCol,
      coalesce(mat,
        org.apache.spark.sql.functions.element_at(typedlit(bases), metaFilePath) +
          col("_metadata.row_index")))
  }

  /** Stage the SURVIVORS of a copy-on-write row-level rewrite
    * ([[graft.sources.GraftDeltaBatchWrite]]'s finalize step): each
    * `(file, killHex)` victim re-reads under the declared schema with
    * BOTH its prior deletion vector and this commit's kill bits
    * applied, and the clean carried-over rows stage with full typed
    * stats. The kill bitmaps stay O(changed rows) metadata — they ride
    * the SAME commit as `dvFiles`/`dvs` so the change feed can serve
    * exact pre-images, while the table state ends fully rewritten
    * (COW = MOR + synchronous per-commit compaction of the touched
    * files). Returns staged survivor files + aligned multiStats.
    */
  private[sources] def stageCowSurvivors(s: SparkSession, root: String,
      readV: Long, kills: Seq[(String, String)], txnId: String)
      : (Seq[String], Seq[Map[String, FileStat]]) = {
    val state = snapshotState(root, readV).toMap
    val victims = kills.map { case (f, hex) =>
      val m = state.getOrElse(f, FileMeta())
      (f, m.copy(dv = Some(hexOr(m.dv, hex))))
    }
    val clean = readForRewrite(s, rawTableSchema(root, readV), victims)
    // INSERT-grade stats on the carried rows, decided over the TABLE's
    // declared physical schema (not the write's — a DELETE's
    // LogicalWriteInfo schema is the operation's)
    GraftTable.stageFiles(clean, root, s"$txnId-a$uuid12", partitionFields(root, readV))
  }

  /** Open data files under the DECLARED physical schema when the log
    * has one: the parquet reader widens each pre-widen file into the
    * declared type and serves NULL for columns a file predates —
    * spanning type-widening AND add-column generations in one scan,
    * which `mergeSchema` cannot (it refuses to merge INT with
    * BIGINT). Schema-less raw-API tables fall back to mergeSchema.
    */
  private[sources] def openFiles(s: SparkSession, declared: Option[StructType],
                                 files: Seq[String]): DataFrame =
    declared match {
      case Some(sch) => s.read.schema(sch).parquet(files: _*)
      case None      => s.read.option("mergeSchema", "true").parquet(files: _*)
    }

  /** Fold the live snapshot's SMALL files (recorded size under
    * `smallBytes`) into ~`targetBytes` outputs as ONE transaction —
    * the bin-packing half of OPTIMIZE (Delta's file compaction;
    * [[optimizeCompactDeletes]] is the DV-density half). Selection is
    * METADATA-ONLY (sizes ride the log records); the rewrite reads
    * only the victims DV-filtered (vectors compact in and die with
    * the old files), re-collects stats on the victims' statted
    * columns, and — when the table declares partitioning — re-range-
    * clusters by the partition columns so the fold never widens
    * per-file partition ranges. `removed` = the victims puts it under
    * the standard conflict matrix; a concurrent append lands freely.
    * Returns None (no version burned) below `minFiles` victims.
    *
    * This is the standing fold-back path for high-frequency small
    * commits — streaming ingest and MOR post-images — runnable as
    * `CALL graft.system.compact_files(...)` or automatically via the
    * streaming writer's opt-in auto-compact (table property
    * `graft.autoCompact.minFiles`).
    */
  /** Analyze a predicate (SQL text over LOGICAL column names) against
    * the table's schema and return its conjuncts over PHYSICAL names —
    * the expression form [[TxnLogFileIndex.keep]] evaluates per file.
    * Driver-side, metadata-only: the empty frame never schedules a
    * task; analysis is just name/type resolution.
    */
  private[sources] def statFiltersFromSql(s: SparkSession, root: String, readV: Long,
      text: String): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression}
    val logSch = GraftTable.logicalSchema(s, root, readV)
    val analyzed = s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), logSch)
      .filter(org.apache.spark.sql.functions.expr(text))
      .queryExecution.analyzed
    val cond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(sys.error(s"graft: could not analyze predicate: $text"))
    val renames = columnMapping(root, readV)
    val phys = cond.transformUp {
      case a: AttributeReference if renames.contains(a.name) =>
        a.withName(renames(a.name))
    }
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other     => Seq(other)
    }
    split(phys)
  }

  /** `where` scopes the compaction to files the predicate can touch
    * (Delta's `OPTIMIZE ... WHERE`): the predicate — logical column
    * names, parsed and analyzed against the table's schema — runs
    * through the SAME per-file stat admission as a read
    * ([[TxnLogFileIndex.keep]]), so "optimize yesterday's partition"
    * on a 100 TB table prices at O(files-in-the-predicate). A file
    * STRADDLING the predicate compacts wholly (row-preserving, so
    * always sound); untranslatable predicate shapes simply admit
    * every file (conservative: more compaction, never wrong).
    */
  def compactSmallFiles(s: SparkSession, root: String,
                        smallBytes: Long, targetBytes: Long,
                        txnId: String, minFiles: Int = 2,
                        where: Option[String] = None): Option[Commit] = {
    require(smallBytes > 0L && targetBytes >= smallBytes,
      s"need 0 < smallBytes ($smallBytes) <= targetBytes ($targetBytes)")
    val readV = currentVersion(root)
    val st0 = resolveState(root, readV)
    val admit: FileMeta => Boolean = where match {
      case None => _ => true
      case Some(text) =>
        val exprs = statFiltersFromSql(s, root, readV, text)
        val idx = new TxnLogFileIndex(s, root, st0.files)
        m => idx.keep(m, exprs)
    }
    val victims = st0.files.filter { case (f, m) =>
      val sz =
        if (m.size >= 0L) m.size
        else try Files.size(Paths.get(f)) catch { case _: Exception => Long.MaxValue }
      sz < smallBytes && admit(m)
    }
    if (victims.size < math.max(2, minFiles)) return None
    val totalBytes = victims.map { case (f, m) =>
      if (m.size >= 0L) m.size else Files.size(Paths.get(f)) }.sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val clean = readForRewrite(s, st0.physSchema, victims)
    // the fold re-clusters by the declared partitioning — identity
    // columns range-cluster, a bucket transform hash-routes rows to
    // their bucket — so compaction never widens per-file
    // partition/bucket ranges
    val pfields = st0.partitionBy.map(parsePartitionToken)
      .filter(f => clean.columns.contains(f.col))
    val folded =
      if (pfields.nonEmpty) clusterByPartitioning(clean, pfields, nOut)
      else clean.repartition(nOut)
    val (cols, buckets) =
      splitStatKeys(victims.flatMap(_._2.stats.keys).distinct)
    val (files, multi) =
      if (cols.isEmpty && buckets.isEmpty) (stage(folded, root, s"$txnId-a$uuid12"),
        Seq.empty[Map[String, FileStat]])
      else stageWithStatsFor(folded, root, s"$txnId-a$uuid12", cols, buckets)
    Some(commit(root, "compact", files, removed = victims.map(_._1),
      readVersion = readV, txnId = txnId, multiStats = multi))
  }

  /** The snapshot as an OPTIMIZER-INTEGRATED DataFrame: the scan is
    * backed by a [[TxnLogFileIndex]], so ANY filter — `.filter`,
    * SQL `WHERE` through a temp view, a join's pushed predicate —
    * gets log-stats file skipping (per-column min/max ranges, bloom
    * point lookups) with no explicit `readRange`/`readPoint` call;
    * files the predicate provably excludes are never opened. Deletion
    * vectors are applied on top, exactly as in [[read]]. This is the
    * library's SQL-facing surface: `table(s, root)
    * .createOrReplaceTempView("t")` and every query on `t` plans
    * against the log.
    */
  def table(s: SparkSession, root: String,
            version: Long = Long.MaxValue): DataFrame = {
    val st = resolveState(root, version)
    val state = st.files
    if (state.isEmpty) return s.emptyDataFrame
    val files = state.map(_._1)
    // PHYSICAL schema from the LOG when any writer recorded it (fully
    // metadata-only planning); footer inference is the fallback for
    // tables written only through the raw commit API. The scan plans
    // on physical names — stat keys and blooms match — and the
    // rename projection on top surfaces logical names; Catalyst
    // pushes logical predicates through the aliases down to the
    // physical scan, so skipping survives renames.
    val dataSchema = rawTableSchema(root, version)
      .getOrElse(s.read.parquet(files: _*).schema)
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new TxnLogFileIndex(s, root, state),
      partitionSchema = StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(s)
    toLogical(applyDeletionVectors(s.baseRelationToDataFrame(relation), state),
      st.renames)
  }

  /** The logged schema in PHYSICAL (storage) names — what scans and
    * stat keys use, and what cross-era readers hand to [[openFiles]].
    * Schema-bearing writers pass it as [[commit]]'s `physSchema`,
    * making the TABLE'S SCHEMA a log fact: planning ([[table]]) needs
    * no footer reads.
    */
  private[sources] def rawTableSchema(root: String,
                                      version: Long = Long.MaxValue): Option[StructType] =
    resolveState(root, version).physSchema

  /** The table's current schema as recorded in the log, if any
    * schema-bearing commit has landed — LOGICAL names (column
    * renames applied). Metadata-only.
    */
  def tableSchema(root: String,
                  version: Long = Long.MaxValue): Option[StructType] = {
    val renames = resolveState(root, version).renames
    val p2l = renames.map(_.swap)
    rawTableSchema(root, version).map(sch => StructType(
      sch.fields.map(f => f.copy(name = p2l.getOrElse(f.name, f.name)))))
  }

  /** Stable fingerprint of a schema (names + types, order-blind) —
    * what [[commit]] enforces against the table's current schema.
    */
  def schemaFingerprint(schema: StructType): String = {
    val canon = schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}")
      .sorted.mkString(";")
    f"${scala.util.hashing.MurmurHash3.stringHash(canon)}%08x"
  }

  /** 12 random hex digits — the unique suffix of txn ids, staging
    * dirs and sidecar names.
    */
  private[sources] def uuid12: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** [[stage]] into a fresh per-ATTEMPT dir, `<txnId>-a<uuid12>` — the
    * staging entry point for every idempotent-replay writer. Replay
    * paths (crash-recovered streams, duplicate consumers in other
    * JVMs) stage each attempt into its own directory, so no process
    * can ever wipe or collide with another's in-flight files — the
    * winning commit publishes its own attempt's paths and every
    * losing/crashed attempt leaves an unreferenced orphan dir that
    * [[vacuumStaging]] reclaims. (The old design wiped `data/<txnId>`
    * before restaging, which could delete a concurrent process's
    * staged files between ITS stage and commit.)
    */
  private[sources] def stageAttempt(df: DataFrame, root: String,
                                    txnId: String): Seq[String] =
    stage(df, root, s"$txnId-a$uuid12")

  /** Delete staging directories referenced by NO commit record —
    * losing/crashed write attempts — and DV sidecar files referenced
    * by no commit record and no retained checkpoint (the same orphan
    * class: per-attempt names mean a losing delete/checkpoint attempt
    * leaves a small unreferenced file). Like [[vacuum]], call from
    * maintenance with no writer mid-stage (an in-flight attempt is
    * indistinguishable from an abandoned one by construction).
    */
  def vacuumStaging(root: String): Seq[String] = {
    val allCommits = commits(root)
    // a BRANCH root's staging dirs may also be referenced by the
    // PARENT table's log (publish addresses branch bytes by absolute
    // path): a re-forked branch must never sweep dirs a prior
    // incarnation published to main, so the parent's referenced dir
    // names join the keep set (dir names are txn-unique — the union
    // can only over-keep, never under-keep)
    val rootP = Paths.get(root).toAbsolutePath.normalize
    val parentRoot = Option(rootP.getFileName)
      .filter(_.toString.startsWith("branch."))
      .flatMap(_ => Option(rootP.getParent))
      .filter(p => Option(p.getFileName).exists(_.toString == "_refs"))
      .flatMap(p => Option(p.getParent))
    val parentRefs = parentRoot.toSeq.flatMap(p => commits(p.toString))
      .flatMap(c => c.added ++ c.removed)
      .map(f => Paths.get(f).getParent.getFileName.toString).toSet
    val referenced = allCommits
      .flatMap(c => c.added ++ c.removed)
      .map(f => Paths.get(f).getParent.getFileName.toString).toSet ++ parentRefs
    val stagingOrphans = listDir(Paths.get(root, "data"))
      .filter(d => Files.isDirectory(d) &&
        !referenced.contains(d.getFileName.toString))
      .map { d => deleteRecursively(d); d.toString }
    // sidecars referenced by records or by either retained
    // checkpoint. Liveness compares FILENAMES (per-attempt
    // UUID-unique), not full paths — the same rule as the staging
    // sweep above: a root reached via a different spelling (symlink,
    // relative path, doubled separator) must never make a referenced
    // sidecar look orphaned.
    val ckptRefs = checkpointsIn(listDir(logDir(root)))
      .flatMap { case (v, p) => readCheckpoint(v, p).files.flatMap(_._2.dv) }
    val liveNames = (allCommits.flatMap(_.dvs) ++ ckptRefs)
      .collect { case v if v.startsWith("@") =>
        Paths.get(v.drop(1)).getFileName.toString }.toSet
    val dvOrphans = listDir(logDir(root).resolve("dv"))
      .filter(p => Files.isRegularFile(p) &&
        !liveNames.contains(p.getFileName.toString))
      .map { p => Files.deleteIfExists(p); p.toString }
    stagingOrphans ++ dvOrphans
  }

  /** Stage `df` as immutable parquet files under `root/data/<txnId>/`
    * and return their paths (not yet visible to any reader — only a
    * commit publishes them).
    */
  def stage(df: DataFrame, root: String, txnId: String): Seq[String] = {
    val dir = Paths.get(root, "data", txnId)
    df.write.mode("error").parquet(dir.toString)
    listDir(dir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).sorted
  }

  /** Stage with per-file (min, max, rowCount) for EVERY column in
    * `cols`, one scan pass — multi-column data skipping: a range read
    * or metadata aggregate on ANY of them prunes (Delta collects its
    * leading columns' stats the same way, and a hive-style partition
    * column is just a stat column whose per-file range collapses to a
    * point). Pass the result to [[commit]]'s `multiStats`.
    */
  def stageWithStatsFor(df: DataFrame, root: String, txnId: String,
                        cols: Seq[String],
                        buckets: Seq[(Int, String)] = Nil)
    : (Seq[String], Seq[Map[String, FileStat]]) = {
    val files = stage(df, root, txnId)
    (files, statsForStaged(df.sparkSession, root, txnId, cols, files, buckets))
  }

  /** Per-file per-column (min, max, rowCount, nullCount) over an
    * already-staged txn dir, one scan pass — for composing stats with
    * other staging flows (e.g. a [[bloomsForStaged]] build).
    * Aligned with `files`.
    *
    * Stats are TYPED ([[FileStat.typ]]): integral columns record a
    * long range, timestamps epoch micros, dates epoch days, strings
    * their binary-order min/max (base64), float/double a double
    * range — so string/timestamp/date predicates prune through
    * [[TxnLogFileIndex]] (the public Delta recipe collects typed
    * min/max the same way), and a wrong-scale comparison (micros vs
    * a long stat) is structurally impossible. Columns of any other
    * type record no range stat (sound: never pruned).
    */
  def statsForStaged(spark: SparkSession, root: String, txnId: String,
                     cols: Seq[String],
                     files: Seq[String],
                     buckets: Seq[(Int, String)] = Nil): Seq[Map[String, FileStat]] = {
    require(cols.nonEmpty || buckets.nonEmpty,
      "statsForStaged needs at least one column")
    val base = spark.read.parquet(Paths.get(root, "data", txnId).toString)
    // bucket stats are DERIVED columns over the staged bytes — same
    // single scan pass, temp-named then re-keyed to the self-
    // describing `bucket(N;c)` stat key
    val live = buckets.filter { case (_, c) => base.columns.contains(c) }
    // temp-name prefix extended until NO user column shares it — a
    // table that legitimately names a column `_gbk0` must not have
    // its stats rekeyed or dropped by the derived-column pass
    val prefix = Iterator.iterate("_gbk")(_ + "x")
      .find(p => !base.columns.exists(_.startsWith(p))).get
    val withB = live.zipWithIndex.foldLeft(base) { case (d, ((n, c), i)) =>
      d.withColumn(s"$prefix$i", bucketColumn(n, d.col(c), d.schema(c).dataType))
    }
    val tempNames = live.indices.map(i => s"$prefix$i")
    val byFile = typedStatsByFile(withB, cols ++ tempNames, hllLgK = -1)
    val rekey = tempNames.zip(live.map { case (n, c) => bucketStatKey(n, c) }).toMap
    files.map(f => byFile.getOrElse(f, Map.empty[String, FileStat])
      .map { case (k, st) => rekey.getOrElse(k, k) -> st })
  }

  /** The shared stats pass: per-file per-column typed (min, max, rows,
    * nulls) over `df`, grouped by source file — ONE distributed scan,
    * map-side combined, one result row per file. `hllLgK >= 0` adds a
    * per-file HLL DISTINCT sketch per column (Apache DataSketches via
    * Spark's own `hll_sketch_agg`), base64 in [[FileStat.hll]] —
    * sketches UNION across files, which is what makes table-level NDV
    * (the optimizer's join-cardinality input) computable from
    * metadata alone at any file count. Non-integral/string columns
    * sketch their canonical stat representation (micros/days as
    * longs, doubles as strings).
    */
  private def typedStatsByFile(df: DataFrame, cols: Seq[String],
                               hllLgK: Int): Map[String, Map[String, FileStat]] = {
    import org.apache.spark.sql.functions.{col, count, lit, unix_date, unix_micros, max => fmax, min => fmin}
    import org.apache.spark.sql.types._
    val staged = df
    val kinds: Seq[(String, String, org.apache.spark.sql.Column)] = cols.map { c =>
      leafType(staged.schema, c) match {
        case ByteType | ShortType | IntegerType | LongType =>
          (c, "l", col(c).cast("long"))
        case TimestampType => (c, "t", unix_micros(col(c)))
        case DateType      => (c, "d", unix_date(col(c)).cast("long"))
        case StringType    => (c, "s", col(c))
        case FloatType | DoubleType => (c, "f", col(c).cast("double"))
        case _             => (c, "", lit(null)) // unsupported: no range
      }
    }
    val withHll = hllLgK >= 0
    val aggs = kinds.flatMap { case (c, k, e) =>
      val base = Seq(
        fmin(e).as(s"lo_$c"), fmax(e).as(s"hi_$c"), count(col(c)).as(s"nn_$c"))
      if (!withHll) base
      else {
        // hll_sketch_agg takes int/long/string/binary: sketch the
        // canonical long/string form (doubles via their string form)
        val key = k match {
          case "l" | "t" | "d" => e
          case "s"             => e
          case "f"             => e.cast("string")
          case _               => lit(null)
        }
        base :+ org.apache.spark.sql.functions.hll_sketch_agg(key, lit(hllLgK))
          .as(s"hll_$c")
      }
    } :+ count(lit(1)).as("n")
    val w = if (withHll) 4 else 3
    staged
      .groupBy(inputFilePath.as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val n = r.getLong(1 + w * cols.size)
        // an all-null (or empty) column has no range: record no stat
        // for it — the file then always survives pruning on that
        // column (sound) and takes the scan path in aggregates
        val m = kinds.zipWithIndex.flatMap { case ((c, k, _), i) =>
          val (loI, hiI, nnI) = (1 + w * i, 2 + w * i, 3 + w * i)
          if (k.isEmpty || r.isNullAt(loI) || r.isNullAt(hiI)) None
          else {
            val nulls = n - r.getLong(nnI)
            val hll =
              if (!withHll || r.isNullAt(4 + w * i)) ""
              else java.util.Base64.getEncoder.encodeToString(
                r.getAs[Array[Byte]](4 + w * i))
            Some(c -> (k match {
              case "s" => FileStat(0L, 0L, n, "s",
                b64enc(r.getString(loI)), b64enc(r.getString(hiI)), nulls, hll)
              case "f" => FileStat(0L, 0L, n, "f",
                r.getDouble(loI).toString, r.getDouble(hiI).toString, nulls, hll)
              case t   => FileStat(r.getLong(loI), r.getLong(hiI), n, t, "", "", nulls, hll)
            }))
          }
        }.toMap
        (r.getString(0), m)
      }.toMap
  }

  /** The type of a stat PATH: a top-level column, or a one-level
    * struct leaf addressed as `s.x` (what [[GraftTable.statPaths]]
    * emits). An unknown path types as NullType — the stats pass then
    * records no range for it (sound: the file is never pruned on it).
    */
  private def leafType(schema: org.apache.spark.sql.types.StructType,
                       path: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{NullType, StructType}
    val i = path.indexOf('.')
    if (i < 0)
      schema.fields.find(_.name == path).map(_.dataType).getOrElse(NullType)
    else schema.fields.find(_.name == path.take(i)).map(_.dataType) match {
      case Some(st: StructType) =>
        st.fields.find(_.name == path.drop(i + 1)).map(_.dataType)
          .getOrElse(NullType)
      case _ => NullType
    }
  }

  /** Union per-file HLL sketches (base64, as [[FileStat.hll]]) into
    * one table-level distinct-count estimate. None when the list is
    * empty. O(files) driver work over KB-scale sketches.
    */
  private[sources] def ndvFromSketches(hlls: Seq[String]): Option[Long] =
    if (hlls.isEmpty) None
    else {
      val u = new org.apache.datasketches.hll.Union(12)
      hlls.foreach { b =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(b64dec(b))))
      }
      Some(math.round(u.getEstimate))
    }

  /** ANALYZE: refresh per-file typed stats AND per-file HLL distinct
    * sketches for `cols` (default: every stat-able column) over the
    * LIVE snapshot, in one distributed pass, committed as a stats
    * OVERLAY (`restatFiles`/`restats` — an append-class commit that
    * merges into still-live files and can never resurrect removed
    * data). Afterwards [[graft.sources.GraftScan]] reports per-column
    * distinctCount/nullCount/min/max to the optimizer, which is what
    * CBO join reordering needs. The Iceberg puffin-NDV recipe as a
    * log record: opt-in, off the write hot path, metadata-priced at
    * read time (union of per-file sketches).
    */
  def analyzeTable(s: SparkSession, root: String, cols0: Seq[String],
                   txnId: String, lgK: Int = 12,
                   chunkFiles: Int = AnalyzeChunkFiles,
                   histBins: Int = 0): Commit = {
    val readV = currentVersion(root)
    val st0 = resolveState(root, readV)
    require(st0.files.nonEmpty, s"nothing to analyze at $root")
    val files = st0.files.map(_._1)
    val df = openFiles(s, st0.physSchema, files)
    val cols =
      if (cols0.nonEmpty) cols0.map(c => physicalName(st0.renames, c))
      else GraftTable.statPaths(df.schema)
    require(cols.nonEmpty, s"no stat-able columns to analyze at $root")
    val byFile = typedStatsByFile(df, cols, hllLgK = lgK)
    // TABLE-level equi-height histograms (opt-in): ride the LAST
    // chunk commit so a crash mid-analyze never publishes a histogram
    // ahead of its sketches
    val hists =
      if (histBins > 0) equiHeightHistograms(df, cols, histBins)
      else Map.empty[String, ColHistogram]
    val ordered = files.filter(byFile.contains)
    // CHUNKED overlay commits: per-file sketches are ~KB each, so a
    // million-file analyze in one record would be a GB-scale log
    // entry (and a driver-side string of the same size). Each chunk
    // is an independent append-class commit with its own replayable
    // txnId — a crash mid-analyze leaves the earlier chunks' stats
    // live and the re-run dedups them chunk by chunk.
    val chunks = ordered.grouped(math.max(1, chunkFiles)).toSeq
    val commits = chunks.zipWithIndex.map { case (chunk, i) =>
      commit(root, "analyze", Nil, Nil, readVersion = readV,
        txnId = if (chunks.size == 1) txnId else s"$txnId-c$i",
        restatFiles = chunk, restats = chunk.map(byFile),
        hists = if (i == chunks.size - 1) hists else Map.empty[String, ColHistogram])
    }
    commits.last
  }

  /** Equi-height histograms over the live data, one per NUMERIC /
    * date / timestamp column (strings have no double embedding):
    * boundaries from ONE `approx_percentile` pass, per-bin NDV from
    * ONE conditional-aggregation pass (`approx_count_distinct` per
    * bin — Spark's own ANALYZE ... FOR COLUMNS histogram recipe).
    * What range-predicate selectivity estimation consumes through the
    * V2 column-stats surface ([[GraftScan.estimateStatistics]]).
    */
  private def equiHeightHistograms(df: DataFrame, cols: Seq[String],
                                   k: Int): Map[String, ColHistogram] = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit, unix_date, unix_micros, when}
    import org.apache.spark.sql.types._
    require(k >= 1 && k <= 254, s"histogram bins must be in [1, 254]: $k")
    val numeric = cols.flatMap { c =>
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType => Some(c -> col(c).cast("double"))
        case TimestampType => Some(c -> unix_micros(col(c)).cast("double"))
        case DateType      => Some(c -> unix_date(col(c)).cast("double"))
        case _             => None
      }
    }
    if (numeric.isEmpty) return Map.empty
    val pcts = (0 to k).map(_.toDouble / k)
    val pctAggs = numeric.map { case (c, e) =>
      org.apache.spark.sql.functions.percentile_approx(
        e, lit(pcts.toArray), lit(10000)).as(s"p_$c")
    }
    val pctRow = df.agg(pctAggs.head, pctAggs.tail: _*).head
    val bounded = numeric.flatMap { case (c, e) =>
      val idx = pctRow.fieldIndex(s"p_$c")
      if (pctRow.isNullAt(idx)) None // all-null column: no histogram
      else Some((c, e, pctRow.getSeq[Double](idx)))
    }.filter { case (_, _, b) =>
      // A column containing ±Infinity (or NaN) yields non-finite
      // percentile boundaries, which no selectivity estimate can use
      // — skip the column (like strings).
      b.size == k + 1 && b.forall(java.lang.Double.isFinite)
    }
    if (bounded.isEmpty) return Map.empty
    // per-bin counts + NDV: one GROUPED pass per column (k groups) —
    // the bin id is computed ONCE per row and the aggregation is a
    // plain hash-agg over k keys; a single conditional pass with
    // k×cols filtered approx_count_distinct aggregates re-evaluates
    // the bin chain per aggregate and is ~70x slower at 1M rows
    bounded.map { case (c, e, b) =>
      val bin = (1 until k).map(j => when(e > lit(b(j)), 1).otherwise(0))
        .foldLeft(lit(0))(_ + _)
      val byBin = df.select(bin.as("__b"), e.as("__x"))
        .filter(col("__x").isNotNull)
        .groupBy(col("__b"))
        .agg(count(lit(1)).as("n"), approx_count_distinct(col("__x")).as("d"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val counts = (0 until k).map(i => byBin.get(i).map(_._1).getOrElse(0L))
      val ndvs = (0 until k).map(i => byBin.get(i).map(_._2).getOrElse(0L))
      val height = counts.sum.toDouble / k
      c -> ColHistogram(height, (0 until k).map(i => HistBin(b(i), b(i + 1), ndvs(i))))
    }.toMap
  }

  /** The table-level histograms at `version`, keyed by PHYSICAL
    * column name. Metadata-only.
    */
  def tableHistograms(root: String,
                      version: Long = Long.MaxValue): Map[String, ColHistogram] =
    resolveState(root, version).hists

  /** Files per ANALYZE overlay commit — bounds a single record (and
    * the driver string building it) to ~chunk × cols × sketch-KB.
    */
  val AnalyzeChunkFiles = 2048

  /** Per-file BLOOM FILTERS over `bloomCol` (a high-cardinality
    * lookup key — typically NOT the clustering column, whose lookups
    * min/max stats already serve) for an ALREADY-staged txn dir,
    * aligned with `files`; pass them to [[commit]] with the
    * [[stageWithStatsFor]] stats. Rewrite paths ([[mergeIntoKeys]])
    * re-attach the point-lookup index their victim files carried with
    * the same (column, bits, k) the victims were built under.
    *
    * The filter is the standard double-hashing bloom (Kirsch &
    * Mitzenmacher 2006): bit positions `(h1 + i·h2) mod m` for
    * `i < k`, with h1/h2 the two halves of a 128-bit xxhash64 pair
    * computed IN SPARK (`xxhash64(v)` / `xxhash64(v, 1)`), so probe
    * positions ([[readPoint]]) reproduce them exactly by running the
    * same expressions. Bits are built distributively: explode to
    * (file, position), distinct (bounded by m per file — map-side
    * combine collapses duplicates), then OR into a driver-side bitset
    * whose size is files × m/8 bytes — metadata-scale, same class as
    * the stats collect.
    */
  def bloomsForStaged(spark: SparkSession, root: String, txnId: String,
                      bloomCol: String, files: Seq[String],
                      bloomBits: Int = 8192, bloomK: Int = 4): Seq[String] = {
    require(Integer.bitCount(bloomBits) == 1, s"bloomBits must be a power of two: $bloomBits")
    import org.apache.spark.sql.functions.{array, col, collect_set, explode}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val staged = spark.read.parquet(Paths.get(root, "data", txnId).toString)
    // xxhash64 is TYPE-dependent (an Int and the same value as a Long
    // hash differently), so the build canonicalizes integral columns
    // to LONG and marks the encoding with an 'n' flag — the probe
    // side ([[bloomAdmits]]) then casts integral probe values to Long
    // too, and an Int lookup against a Long-built filter (or vice
    // versa) can never compute wrong bit positions and mis-prune.
    val integral = staged.schema(bloomCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    val key = if (integral) col(bloomCol).cast("long") else col(bloomCol)
    val positions = array(bloomPosExprs(key, bloomBits, bloomK): _*)
    val bits = staged
      .select(inputFilePath.as("f"), explode(positions).as("pos"))
      .distinct()
      .groupBy("f").agg(collect_set(col("pos")).as("ps"))
      .collect()
      .map { r =>
        val bs = new java.util.BitSet(bloomBits)
        r.getSeq[Long](1).foreach(p => bs.set(p.toInt))
        val words = bs.toLongArray.padTo(bloomBits / 64, 0L)
        // "<k>[n]:<hex>" — k (and the normalization flag) ride with
        // the filter so probe and build can never disagree on the
        // positions to test or the hashed type
        (r.getString(0),
          s"$bloomK${if (integral) "n" else ""}:" + words.map(w => f"$w%016x").mkString)
      }.toMap
    files.map(bits.getOrElse(_, ""))
  }

  /** Parse a bloom encoding's (bits, k) back out of its
    * `"<k>[n]:<hex>"` form — how a rewrite recovers the parameters
    * its victim files were built under. None when the width is not
    * a power of two (sound: the rewrite then just carries no bloom).
    */
  private def bloomSpec(enc: String): Option[(Int, Int)] = {
    val i = enc.indexOf(':')
    val k = enc.take(i).takeWhile(_.isDigit)
    val bits = (enc.length - i - 1) * 4
    if (k.isEmpty || bits <= 0 || Integer.bitCount(bits) != 1) None
    else Some((bits, k.toInt))
  }

  /** The double-hash bit positions for one value: `(h1 + i·h2) mod m`
    * with both hashes REDUCED mod m first — the sums then stay under
    * `(k+1)·m`, so the arithmetic can never overflow (ANSI mode
    * rejects wrapping). ONE definition shared by build
    * ([[bloomsForStaged]]) and probe ([[readPoint]]), so the two can
    * never drift.
    */
  private def bloomPosExprs(v: org.apache.spark.sql.Column, bloomBits: Int,
                            bloomK: Int): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val m = lit(bloomBits.toLong)
    val h1 = pmod(xxhash64(v), m)
    val h2 = pmod(xxhash64(v, lit(1)), m)
    (0 until bloomK).map(i => pmod(h1 + lit(i.toLong) * h2, m))
  }

  /** [[bloomPosExprs]] evaluated for a literal probe value via a
    * 1-row local plan — the probe side of the shared definition.
    * `value` is whatever `lit()` accepts (long, string, …): the
    * build side hashes the COLUMN with xxhash64, so any type that
    * hashes identically as a literal probes correctly.
    */
  private def bloomPositions(s: SparkSession, value: Any, bloomBits: Int,
                             bloomK: Int): Seq[Int] = {
    import org.apache.spark.sql.functions.lit
    s.range(1)
      .select(bloomPosExprs(lit(value),
        bloomBits, bloomK).zipWithIndex.map { case (c, i) => c.as(s"p$i") }: _*)
      .head().toSeq.map(_.asInstanceOf[Long].toInt)
  }

  /** Does `m`'s bloom filter (if it indexes `column`) admit `value`?
    * Shared by [[readPoint]] and [[TxnLogFileIndex]]; positions are
    * cached per (bits, k) across calls in one probe, and a missing /
    * foreign-column / malformed filter admits everything (sound).
    */
  private val bloomProbeCache =
    new java.util.concurrent.ConcurrentHashMap[(Any, Int, Int), Seq[Int]]()

  private[sources] def bloomAdmits(s: SparkSession, m: FileMeta,
                                   column: String, value: Any): Boolean =
    m.bloom.forall { enc =>
      m.bloomCol != column || {
        val Array(kTok, hex) = enc.split(":", 2)
        // 'n' flag: the build hashed the column cast to LONG —
        // normalize integral probe values the same way, so an Int
        // probe of a Long-built filter tests the right bits. An
        // unflagged filter (what bloomsForStaged builds over a
        // non-integral column) hashed the raw column type; the raw
        // probe value keeps its (probe type == column type) contract.
        val normalized = kTok.endsWith("n")
        val k = (if (normalized) kTok.dropRight(1) else kTok).toInt
        val probe: Any =
          if (!normalized) value
          else value match {
            case i: Int   => i.toLong
            case sh: Short => sh.toLong
            case b: Byte  => b.toLong
            case other    => other
          }
        val bits = hex.length * 4
        if (bloomProbeCache.size > 10000) bloomProbeCache.clear() // bound it
        val positions = bloomProbeCache.computeIfAbsent((probe, bits, k),
          _ => bloomPositions(s, probe, bits, k))
        bloomMaybeContains(hex, positions)
      }
    }

  private def bloomMaybeContains(hex: String, positions: Seq[Int]): Boolean =
    positions.forall { p =>
      if (p / 64 * 16 + 16 > hex.length) true // malformed/foreign filter: inconclusive, keep
      else {
        val word = java.lang.Long.parseUnsignedLong(hex.substring(p / 64 * 16, p / 64 * 16 + 16), 16)
        (word >> (p % 64) & 1L) == 1L
      }
    }

  /** Point lookup with bloom-filter file skipping: scan only the
    * files whose bloom filter (over `column`) might contain `value`,
    * plus every file with no applicable bloom — then apply the exact
    * equality filter. Equals `read(...).filter(col === value)` row
    * for row (blooms have no false negatives; bloom-less files are
    * always scanned). This is the lookup min/max stats CANNOT serve:
    * a high-cardinality key uncorrelated with the clustering order
    * spans every file's range, but each file's bloom rejects it with
    * probability ≈ (1−e^(−k·n/m))^k — at the default 8192/4 and
    * ~1000 rows/file, ~97% of non-containing files are skipped.
    * Min/max stats for `column` are ALSO applied when they describe
    * it (the skipping stack composes). Metadata-only planning.
    */
  def readPoint(s: SparkSession, root: String, column: String, value: Any,
                version: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.col
    val st0 = resolveState(root, version)
    val state = st0.files
    val column0 = physicalName(st0.renames, column)
    val kept = state.filter {
      case (f, m) => {
        // only a stat OF THE MATCHING KIND may range-prune a point
        // lookup (a typed stat of another kind keeps the file —
        // sound). Any type lit() accepts can bloom-probe (the build
        // hashes the column).
        val rangeOk = value match {
          case l: Long => m.stats.get(column0).filter(_.typ == "l")
            .forall(st => l >= st.lo && l <= st.hi)
          case i: Int => m.stats.get(column0).filter(_.typ == "l")
            .forall(st => i.toLong >= st.lo && i.toLong <= st.hi)
          case str: String => m.stats.get(column0).filter(_.typ == "s")
            .forall { st =>
              val vb = str.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              byteCompare(b64dec(st.loS), vb) <= 0 &&
                byteCompare(b64dec(st.hiS), vb) >= 0
            }
          case _ => true
        }
        rangeOk && bloomAdmits(s, m, column0, value)
      }
    }
    // empty kept set: keep the snapshot's schema when it has one and
    // SKIP the residual filter — a fully empty table has no columns
    // to filter on (same guard as readRange)
    if (kept.isEmpty) read(s, root, version).limit(0)
    else toLogical(applyDeletionVectors(s.read.parquet(kept.map(_._1): _*), kept)
      .filter(col(column0) === value), st0.renames)
  }

  /** Commit staged files optimistically. `readVersion` is the
    * snapshot version this transaction's reads (and its `removed`
    * list) were computed against. Retries the version CAS until it
    * wins or a true conflict surfaces; throws [[ConflictException]]
    * iff a concurrent commit removed any file this one removes, and
    * [[SchemaMismatchException]] iff `schemaId` is declared, differs
    * from the table's current schema, and `action` is not an explicit
    * `"schema-evolve"` (a declared-schema append may never silently
    * fork the table's schema).
    *
    * Cost per attempt is O(log tail since the last checkpoint), not
    * O(history): head via filename max, dedup via the checkpoint's
    * txn ledger + tail, conflict fold over records `> readVersion`.
    */
  def commit(root: String, action: String, added: Seq[String],
             removed: Seq[String], readVersion: Long, txnId: String,
             schemaId: String = "",
             blooms: Seq[String] = Nil,
             bloomCol: String = "",
             dvFiles: Seq[String] = Nil,
             dvs: Seq[String] = Nil,
             multiStats: Seq[Map[String, FileStat]] = Nil,
             physSchema: Option[StructType] = None,
             failOnConcurrentAppend: Boolean = false,
             rename: Option[(String, String)] = None,
             cadds: Seq[(String, String)] = Nil,
             cdrops: Seq[String] = Nil,
             partitionBy: Option[Seq[String]] = None,
             restatFiles: Seq[String] = Nil,
             restats: Seq[Map[String, FileStat]] = Nil,
             hists: Map[String, ColHistogram] = Map.empty,
             requireHead: Long = -1L,
             ingests: Seq[String] = Nil,
             radds: Seq[String] = Nil,
             rowBases: Seq[Long] = Nil,
             rowHwmFloor: Long = -1L,
             padds: Seq[(String, String)] = Nil,
             pdrops: Seq[String] = Nil,
             propReset: Boolean = false,
             conReset: Boolean = false): Commit = {
    validateTxnId(txnId)
    validatePaths(added ++ removed ++ dvFiles ++ restatFiles)
    require(radds.forall(added.contains),
      s"txn $txnId: radds must be a subset of added")
    require(rowBases.isEmpty || rowBases.size == added.size,
      s"txn $txnId: rowBases (${rowBases.size}) must align with added (${added.size})")
    require(multiStats.isEmpty || multiStats.size == added.size,
      s"txn $txnId: multiStats (${multiStats.size}) must align with added (${added.size})")
    require(multiStats.forall(_.keys.forall(_.nonEmpty)),
      s"txn $txnId: multi-stat column names must be non-empty")
    require(blooms.isEmpty || blooms.size == added.size,
      s"txn $txnId: blooms (${blooms.size}) must align with added (${added.size})")
    require(blooms.forall(b => b.isEmpty || b.matches("\\d+n?:[0-9a-f]+")),
      s"txn $txnId: malformed bloom encoding")
    require(dvFiles.size == dvs.size,
      s"txn $txnId: dvFiles (${dvFiles.size}) must align with dvs (${dvs.size})")
    require(dvs.forall(v => v.matches("[0-9a-f]+") || v.startsWith("@")),
      s"txn $txnId: malformed deletion-vector encoding")
    validatePaths(dvs.collect { case v if v.startsWith("@") => v.drop(1) })
    require(rename.forall { case (o, n) => o.nonEmpty && n.nonEmpty },
      s"txn $txnId: rename needs non-empty old and new names: $rename")
    cadds.foreach { case (n, e) => validateConstraint(n, e) }
    padds.foreach { case (k, v) => validateProperty(k, v) }
    require((cdrops ++ pdrops).forall(_.nonEmpty),
      s"txn $txnId: dropped constraint and property names must be non-empty")
    require(partitionBy.forall(_.forall(_.nonEmpty)),
      s"txn $txnId: partition columns must be non-empty")
    require(restatFiles.size == restats.size,
      s"txn $txnId: restatFiles (${restatFiles.size}) must align with restats (${restats.size})")
    require(restats.forall(_.keys.forall(_.nonEmpty)),
      s"txn $txnId: restat column names must be non-empty")
    require(hists.keys.forall(_.nonEmpty),
      s"txn $txnId: histogram column names must be non-empty")
    // COPY INTO source markers: md5(path):size, the one shape the
    // ingest ledger compares
    require(ingests.forall(_.matches("[0-9a-f]{32}:\\d+")),
      s"txn $txnId: malformed ingest marker (want md5hex:size)")
    val myRemoved = removed.toSet
    val myDvFiles = dvFiles.toSet
    // Dense vectors spill to immutable per-attempt sidecars before
    // the CAS loop: the record carries a thin `@path` ref and the log
    // stays metadata-scale at any delete density. A replayed txnId
    // (which may have recomputed DIFFERENT bits against a newer
    // snapshot) spills to a FRESH name and then discovers the dup —
    // its sidecar orphans, and the bytes the published commit
    // references are untouchable by construction.
    val dvPayloads = dvs.zipWithIndex.map { case (v, i) =>
      if (v.startsWith("@") || v.length <= DvSidecarThreshold) v
      else spillSidecar(root, s"$txnId-$i", v)
    }
    // Record each added file's size: one local stat at WRITE time so
    // READ-side planning (TxnLogFileIndex, the streaming source)
    // never touches the filesystem — on an object store that is the
    // difference between a metadata fold and a HEAD request per file.
    // Unstatable paths (unit-test fakes) record -1 (planners fall
    // back to stat-on-demand).
    val sizes = added.map { f =>
      try Files.size(Paths.get(f)) catch { case _: Exception => -1L }
    }
    // Checkpoint state is read ONCE: commits landing after it show up
    // in the per-attempt tail fold below, and checkpoints never
    // change conflict outcomes.
    val ckpt = loadCheckpoint(root, Long.MaxValue)
    val baseV = ckpt.map(_.version).getOrElse(0L)
    // txnId idempotency, ledger fast path: a replayed transaction
    // (crash-recovered stream batch, retried job) finds its own
    // earlier commit and returns it instead of committing twice.
    val ledgerHit = ckpt.flatMap(_.txns.get(txnId))
    if (ledgerHit.isDefined) return readCommit(root, ledgerHit.get)
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 10000) sys.error(s"txn $txnId: CAS starvation after $attempts attempts")
      // ONE directory listing serves head discovery, the tail fold,
      // and (rarely) the pre-checkpoint conflict range below.
      val listing = listDir(logDir(root))
      val head = headFromListing(listing)
      val tail = commitsFromListing(listing, baseV, head)
      // ...and the tail half of the dedup check, INSIDE the CAS loop
      // so a concurrent duplicate that wins the race is also caught.
      val dup = tail.find(_.txnId == txnId)
      if (dup.isDefined) return dup.get
      // STRICT fast-forward gate (branch publish): the commit may
      // only land as version requireHead + 1 — ANY movement of the
      // table since the fork, append included, is a conflict. Checked
      // against the same listing the CAS races on (and AFTER the
      // replay dedup, so an exactly-once replay still finds its own
      // earlier publish), a racing publish that wins the version
      // makes this one conflict, never silently stack.
      if (requireHead >= 0L && head != requireHead)
        throw new ConflictException(
          s"txn $txnId requires head v$requireHead but the table is at v$head; " +
            "re-fork (or re-audit) and retry")
      // File-level lost-update check against everything that landed
      // after our snapshot: if a concurrent commit removed (rewrote)
      // a file we also remove, both transactions rewrote the same
      // data and ours must abort — a blind retry would silently drop
      // the other writer's update. Row-level deletes join the matrix:
      // a REWRITE conflicts with a concurrent DV on its victims (its
      // staged copy would resurrect the deleted rows), and a DV
      // conflicts with a concurrent rewrite of its target (the bitmap
      // indexes rows of a file that no longer exists). Two PURE
      // deletes (DV, no files added) on the same file commute —
      // bitmap union — but as soon as EITHER side also adds files
      // (merge-on-read UPDATE/MERGE: tombstone + post-image), a
      // shared DV target is a lost update: both would tombstone the
      // row once and land both post-images (duplicating it), or a
      // racing pure DELETE's kill would be resurrected by the
      // update's post-image. This mirrors Delta's rule that a DV
      // write is semantically a remove+re-add of the file — only
      // delete-vs-delete commutes. Appends (removed = dvFiles =
      // empty) skip this entirely and only ever loop on the CAS.
      if (myRemoved.nonEmpty || myDvFiles.nonEmpty || failOnConcurrentAppend) {
        val sinceRead =
          if (readVersion >= baseV) tail.filter(_.version > readVersion)
          else commitsFromListing(listing, readVersion, baseV) ++ tail
        // READ-set protection (failOnConcurrentAppend): a merge
        // decided its matches/inserts by reading the snapshot, so a
        // concurrent commit that ADDED rows may hold its keys — two
        // concurrent inserts of the same key would otherwise both
        // land and silently break key uniqueness (the insert-insert
        // corner the file-level check cannot see).
        if (failOnConcurrentAppend)
          sinceRead.find(_.added.nonEmpty).foreach { c =>
            throw new ConflictException(
              s"txn $txnId (read v$readVersion) merged against a snapshot " +
                s"that txn ${c.txnId} appended to at v${c.version}; re-read and retry")
          }
        sinceRead.flatMap { c =>
          (c.removed.filter(f => myRemoved(f) || myDvFiles(f)) ++
            c.dvFiles.filter(myRemoved) ++
            (if (added.nonEmpty || c.added.nonEmpty) c.dvFiles.filter(myDvFiles)
             else Nil)).map((c, _))
        }.headOption.foreach { case (c, f) =>
          throw new ConflictException(
            s"txn $txnId (read v$readVersion) touches $f, already rewritten " +
              s"or row-deleted by txn ${c.txnId} at v${c.version}")
        }
      }
      // restore legitimately re-declares a PRIOR version's schema
      // (X-A31's gate is about accidental drift, not the time machine)
      if (schemaId.nonEmpty && action != "schema-evolve" && action != "restore") {
        val current = (ckpt.map(_.schema).toSeq ++ tail.map(_.schemaId))
          .filter(_.nonEmpty).lastOption.getOrElse("")
        if (current.nonEmpty && current != schemaId)
          throw new SchemaMismatchException(
            s"txn $txnId declares schema $schemaId but the table is at $current; " +
              """commit with action = "schema-evolve" to change it""")
      }
      // strictly-increasing commit timestamp within the tail (a
      // backwards wall clock must not reorder history): max(now,
      // last tail ts + 1). [[versionAsOf]] additionally monotonizes
      // across checkpoints at read time.
      val commitTs = math.max(System.currentTimeMillis(),
        tail.lastOption.map(_.ts + 1).getOrElse(1L))
      // X-A96 row tracking: allocate each added file's BASE ROW ID
      // from the table's high-water mark when every added file's row
      // count is known (the stats the writers already collect).
      // Inside the CAS loop on purpose: a lost race re-reads the tail
      // and re-allocates above the winner's hwm, so two commits can
      // never mint overlapping id ranges. Files without recorded
      // counts allocate nothing (their rows read `_row_id` null —
      // sound, never wrong).
      val rowsPerFile: Seq[Long] = added.indices.map { i =>
        if (multiStats.size == added.size)
          multiStats(i).values.collectFirst { case st if st.rows >= 0 => st.rows }
            .getOrElse(-1L)
        else -1L
      }
      val hwm0 = math.max(ckpt.map(_.rowHwm).getOrElse(0L),
        tail.iterator.map(_.rowHwm).foldLeft(0L)(math.max))
      // EXPLICIT bases (r19): restore / clone / fork / publish re-add
      // files that already carry allocated ids — those pass through
      // verbatim (re-minting would silently re-identify every
      // non-materialized row, breaking the X-A96 stability contract);
      // only files WITHOUT a prior base mint fresh ids from the hwm.
      // -1 in `rowBases` marks "no prior base" per file.
      val explicitBases: Seq[Long] =
        if (rowBases.size == added.size) rowBases else added.map(_ => -1L)
      val freshIdx = added.indices.filter(explicitBases(_) < 0L)
      val (rbases, allocTop) =
        if (added.isEmpty) (Seq.empty[Long], hwm0)
        else if (freshIdx.isEmpty) (explicitBases, hwm0)
        else if (freshIdx.forall(rowsPerFile(_) >= 0L)) {
          var b = hwm0
          val bs = added.indices.map { i =>
            if (explicitBases(i) >= 0L) explicitBases(i)
            else { val x = b; b += rowsPerFile(i); x }
          }
          (bs, b)
        } else if (explicitBases.exists(_ >= 0L)) (explicitBases, hwm0)
        else (Seq.empty[Long], hwm0)
      // the high-water mark moves for fresh allocation, a cross-log
      // floor (clone/fork/publish carry the source log's mark so
      // later inserts never mint ids under carried ranges), or a
      // passed-through range that tops the current mark
      val passTop = added.indices.iterator
        .filter(i => explicitBases(i) >= 0L && rowsPerFile(i) >= 0L)
        .map(i => explicitBases(i) + rowsPerFile(i))
        .foldLeft(-1L)(math.max)
      val hwmTop = math.max(allocTop, math.max(rowHwmFloor, passTop))
      val newHwm = if (hwmTop > hwm0) hwmTop else -1L
      val rec = Commit(head + 1, action, txnId, readVersion, added, removed,
        schemaId, blooms, bloomCol, dvFiles, dvPayloads,
        commitTs, multiStats, physSchema, rename, sizes, cadds, cdrops,
        partitionBy, restatFiles, restats, hists, ingests, radds,
        rbases, newHwm, padds, pdrops, propReset, conReset)
      val tmp = logDir(root).resolve(s".tmp-$txnId-${rec.version}")
      Files.writeString(tmp, codec.writeValueAsString(rec))
      try {
        Files.createLink(entryPath(root, rec.version), tmp)
        Files.deleteIfExists(tmp)
        return rec
      } catch {
        case _: FileAlreadyExistsException =>
          // lost the CAS: someone else owns this version — re-read the
          // tail (conflict check included) and try the next one
          Files.deleteIfExists(tmp)
      }
    }
    sys.error("unreachable")
  }

  /** txnId -> version for every committed transaction: the
    * checkpoint's ledger plus the log tail — O(tail) record opens.
    * This is how a downstream consumer discovers which of ITS
    * transactions already landed (the offsets-in-the-target-log
    * recipe, [[TxnStream.maintainInto]]).
    */
  def committedTxnIds(root: String): Map[String, Long] = {
    val ckpt = loadCheckpoint(root, Long.MaxValue)
    ckpt.map(_.txns).getOrElse(Map.empty) ++
      commitsInRange(root, ckpt.map(_.version).getOrElse(0L), Long.MaxValue)
        .map(c => c.txnId -> c.version)
  }

  /** The commit with this txnId, if any — ledger fast path, log-tail
    * fallback. O(tail) given a checkpoint.
    */
  def findCommit(root: String, txnId: String): Option[Commit] = {
    val ckpt = loadCheckpoint(root, Long.MaxValue)
    ckpt.flatMap(_.txns.get(txnId)).map(readCommit(root, _))
      .orElse(commitsInRange(root, ckpt.map(_.version).getOrElse(0L), Long.MaxValue)
        .find(_.txnId == txnId))
  }

  /** The snapshot's live files whose [min, max] range of `column`
    * (its physical name) overlaps [lo, hi], from the stats inline in
    * the commit records / checkpoint. Files with no stat on `column`
    * are always kept (pruning must never be unsound). Metadata-only.
    */
  def prunedFiles(root: String, column: String, lo: Long, hi: Long,
                  version: Long = Long.MaxValue): Seq[String] =
    pruneState(snapshotState(root, version), column, lo, hi).map(_._1)

  /** The pruning decision over an ALREADY-resolved state — lets range
    * reads resolve the snapshot once for pruning AND deletion
    * vectors. Only a LONG-typed stat of `column` itself can answer a
    * caller's long range: a typed ("s"/"t"/"d"/"f") stat's long
    * fields are not the caller's scale, so like a missing stat it
    * keeps the file (sound).
    */
  private def pruneState(state: Seq[(String, FileMeta)], column: String,
                         lo: Long, hi: Long): Seq[(String, FileMeta)] =
    state.filter { case (_, m) =>
      m.stats.get(column).filter(_.typ == "l")
        .forall(s => s.hi >= lo && s.lo <= hi)
    }

  /** Range read with file skipping: scans only [[prunedFiles]] and
    * applies the residual predicate (file ranges can straddle the
    * bounds). Equals `read(...).filter(col between lo and hi)` row
    * for row; touches a fraction of the files when the data was
    * staged range-clustered.
    */
  def readRange(s: SparkSession, root: String, statsCol: String, lo: Long,
                hi: Long, version: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.col
    // ONE snapshot resolution serves the pruning decision, the DV
    // lookup AND the rename map (each resolution is a log listing +
    // tail fold)
    val st0 = resolveState(root, version)
    val phys = physicalName(st0.renames, statsCol)
    val kept = pruneState(st0.files, phys, lo, hi)
    // no overlapping file means provably zero matching rows (files
    // without stats are never pruned) — keep the snapshot's schema if
    // it has one, and skip the residual filter: on a fully empty
    // table the snapshot has no columns to filter on.
    if (kept.isEmpty) read(s, root, version).limit(0)
    else toLogical(applyDeletionVectors(s.read.parquet(kept.map(_._1): _*), kept)
      .filter(col(phys) >= lo && col(phys) <= hi), st0.renames)
  }

  /** COUNT(*) / MIN / MAX of `statsCol` answered from the LOG, not
    * the data: files whose commit record carries full stats (range +
    * row count) for that column contribute pure metadata; only files
    * without such a stat (staged without stats, or statted on other
    * columns) are actually scanned, and their exact
    * aggregate is unioned in. A fully-statted table answers with ZERO
    * data-file opens: at 100 TB that is a few KB of JSON against a
    * full scan, the Delta/Iceberg metadata-only query path. Returns
    * one row (cnt, min_v, max_v); equals
    * `read(...).agg(count, min, max)` exactly (stats are written by
    * the same pass that writes the file, and data files are
    * immutable).
    */
  def statsAggregate(s: SparkSession, root: String, statsCol: String,
                     version: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max => fmax, min => fmin, sum}
    import s.implicits._
    val st0 = resolveState(root, version)
    val state = st0.files
    val phys = physicalName(st0.renames, statsCol)
    // a deletion vector invalidates the file's recorded row count and
    // possibly its min/max (the extremes may be dead) — DV'd files
    // take the scan path, which applies the vector
    val (metadata, scan) = state.partition { case (_, m) =>
      m.stats.get(phys).exists(s => s.typ == "l" && s.rows >= 0) && m.dv.isEmpty
    }
    val metaDF = metadata
      .map { case (_, m) => val st = m.stats(phys); (st.rows, st.lo, st.hi) }
      .toDF("n", "lo", "hi")
    val scanDF =
      if (scan.isEmpty) metaDF.limit(0)
      else applyDeletionVectors(s.read.parquet(scan.map(_._1): _*), scan)
        .agg(count(lit(1)).as("n"), fmin(col(phys)).cast("long").as("lo"),
          fmax(col(phys)).cast("long").as("hi"))
    metaDF.unionByName(scanDF)
      .agg(org.apache.spark.sql.functions.coalesce(sum(col("n")), lit(0L)).as("cnt"),
        fmin(col("lo")).as("min_v"), fmax(col("hi")).as("max_v"))
  }

  /** METADATA-only live row count: each live file's recorded per-file
    * row count (any typed stat carries it) minus its deletion
    * vector's set bits. `None` when some live file never recorded a
    * count (raw-API staged without stats) — callers fall back to a
    * scan count. O(files) driver work, ZERO tasks: this is what
    * prices the occupancy-adaptive ANN ladder's corpus-size input
    * (r18, X-V6) like the rest of planning instead of as a count job
    * per query.
    */
  def rowCountFromStats(root: String,
                        version: Long = Long.MaxValue): Option[Long] = {
    val state = snapshotState(root, version)
    var total = 0L
    state.foreach { case (_, m) =>
      m.stats.values.collectFirst { case st if st.rows >= 0 => st.rows } match {
        case None => return None
        case Some(r) =>
          total += r - m.dv.map(d => popHex(dvHex(d))).getOrElse(0L)
      }
    }
    Some(total)
  }

  // ---- column mapping (rename without rewrite) ----
  // The public Delta column-mapping recipe, restricted to RENAME: a
  // column's FIRST name is its stable PHYSICAL name — what every data
  // file, stat key and bloom key carries forever — and the log tracks
  // a logical -> physical map. A rename is one metadata commit; no
  // file is rewritten (at 100 TB a rename that rewrites is a full-
  // table job), history is never touched (time travel BEFORE the
  // rename shows the old name, after shows the new), and pushed
  // predicates reach the physical stats through the rename projection
  // (Catalyst substitutes aliases during pushdown), so skipping is
  // unaffected.

  /** The logical → physical column map at `version` (empty = no
    * renames ever). Metadata-only.
    */
  def columnMapping(root: String,
                    version: Long = Long.MaxValue): Map[String, String] =
    resolveState(root, version).renames

  /** The table's declared partition columns (PHYSICAL names; identity
    * transforms only — see GraftCatalog.createTable). Informational
    * plus write-side placement: inserts cluster by these columns so
    * per-file ranges collapse toward points; PRUNING needs nothing
    * special (a partition column is just a stat column — X-A38).
    */
  def partitionColumns(root: String,
                       version: Long = Long.MaxValue): Seq[String] =
    resolveState(root, version).partitionBy

  /** The live MAX (or MIN) of an integral column at `version`,
    * metadata-only where possible: every file carrying a typed long
    * stat answers from its range bound; only stat-less files (raw
    * commit-API writes) pay a scan. DV'd rows may inflate the bound —
    * sound for the identity high-water mark (uniqueness needs ≥ the
    * true extreme, never =). None = no live rows carry the column.
    */
  private[sources] def columnExtremeLong(s: SparkSession, root: String,
                                         physCol: String, version: Long,
                                         maximize: Boolean): Option[Long] = {
    val files = snapshotState(root, version)
    if (files.isEmpty) return None
    val (withStat, without) = files.partition(
      _._2.stats.get(physCol).exists(_.typ == "l"))
    def pick(a: Long, b: Long): Long =
      if (maximize) math.max(a, b) else math.min(a, b)
    val statExtreme = withStat
      .map(f => if (maximize) f._2.stats(physCol).hi else f._2.stats(physCol).lo)
      .reduceOption(pick)
    val scanExtreme =
      if (without.isEmpty) None
      else {
        import org.apache.spark.sql.functions.{col, max, min}
        val agg = if (maximize) max(col(physCol)) else min(col(physCol))
        val row = s.read.parquet(without.map(_._1): _*).agg(agg).head()
        row.get(0) match {
          case n: Number => Some(n.longValue)
          case _         => None
        }
      }
    (statExtreme.toSeq ++ scanExtreme.toSeq).reduceOption(pick)
  }

  /** X-A86: partition-spec EVOLUTION — re-declare the table's
    * partitioning as ONE metadata commit. Zero data bytes move and
    * nothing about reads changes: partitioning here is write-side
    * CLUSTERING plus per-file stats (X-A38/A56/A63/A84), and pruning
    * is stats-driven, so files written under the OLD spec keep their
    * old (still sound) stats while every write after this commit
    * clusters by the new spec — the Iceberg headline feature priced
    * at one history row, because there is no directory layout to
    * migrate. The `partitions` metadata table folds under the head
    * spec; pre-evolution files whose stat spans values render as
    * `<multi>` rather than being lied about (X-A82's contract).
    *
    * `tokens` are log tokens over PHYSICAL column names (`c`,
    * `bucket(n;c)`, `days(c)`, …) — [[GraftProcedures]]' spelling
    * maps logical names first. The commit carries them as
    * `partitionBy = Some(tokens)`, so empty tokens clear the
    * partitioning (a commit without the field leaves it unchanged).
    * RESTORE across a set-partitioning boundary keeps refusing with
    * its explicit message (the restore contract names partitioning
    * drift; evolve back first).
    */
  def setPartitioning(root: String, tokens: Seq[String], txnId: String): Commit = {
    val head = currentVersion(root)
    val sch = tableSchema(root, head).getOrElse(sys.error(
      s"set-partitioning: table at $root has no logged schema"))
    tokens.map(parsePartitionToken).foreach { f =>
      require(sch.fieldNames.contains(f.col),
        s"set-partitioning: no column ${f.col} in ${sch.fieldNames.mkString(",")}")
      f match {
        case BucketField(n, c) =>
          require(n > 0, s"set-partitioning: bucket count must be positive, got $n")
          require(bucketableType(sch(c).dataType),
            s"set-partitioning: bucket transform needs an integral/string/" +
              s"date/timestamp column, got $c: ${sch(c).dataType.simpleString}")
        case TemporalField(u, c) =>
          require(temporalableType(u, sch(c).dataType),
            s"set-partitioning: $u transform needs a timestamp" +
              (if (u == "hours") "" else "/date") +
              s" column, got $c: ${sch(c).dataType.simpleString}")
        case IdentityField(_) => ()
      }
    }
    commit(root, "set-partitioning", added = Nil, removed = Nil,
      readVersion = head, txnId = txnId,
      partitionBy = Some(tokens))
  }

  /** A declared partition transform, parsed from its log token:
    * identity (`c`) or bucket (`bucket(N;c)`). `col` is the PHYSICAL
    * source column in both cases.
    */
  sealed trait PartField { def col: String }
  case class IdentityField(col: String) extends PartField
  case class BucketField(n: Int, col: String) extends PartField
  /** Iceberg-style temporal transform: `unit` ∈ years|months|days|
    * hours over a timestamp/date column. Write-side it RANGE-clusters
    * rows by the UTC-epoch unit value so each staged file spans (at
    * most) one period and the source column's own typed stat collapses
    * to it; read-side NOTHING new is needed — a timestamp predicate
    * already prunes through the per-file micros range, which is
    * strictly tighter than the folded unit (the reason hive-style
    * partition values never became a separate metadata domain here).
    */
  case class TemporalField(unit: String, col: String) extends PartField

  /** Bucket tokens double as the per-file STAT KEY (`bucket(N;c)`):
    * each file self-describes the modulus its bucket range was
    * computed under, so pruning is sound even across a re-declared
    * bucketing — no version plumbing into the file index.
    */
  private[sources] val BucketKeyRe = """bucket\((\d+);(.+)\)""".r
  private[sources] val TemporalKeyRe = """(years|months|days|hours)\((.+)\)""".r

  def bucketStatKey(n: Int, col: String): String = s"bucket($n;$col)"

  def temporalToken(unit: String, col: String): String = s"$unit($col)"

  def parsePartitionToken(t: String): PartField = t match {
    case BucketKeyRe(n, c)   => BucketField(n.toInt, c)
    case TemporalKeyRe(u, c) => TemporalField(u, c)
    case c                   => IdentityField(c)
  }

  /** The declared partitioning as parsed transforms. */
  def partitionFields(root: String,
                      version: Long = Long.MaxValue): Seq[PartField] =
    partitionColumns(root, version).map(parsePartitionToken)

  /** Column types a bucket transform accepts: the ones with a stable
    * CANONICAL long/string representation, so the bucket of a value
    * survives `ALTER COLUMN TYPE` widening (int- and bigint-era files
    * hash the same long and land in the same bucket; Spark's raw
    * `hash()` would hash 4 vs 8 bytes differently).
    */
  def bucketableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           StringType | DateType | TimestampType => true
      case _ => false
    }
  }

  /** The write-side bucket id of a column: `pmod(hash(canonical), n)`,
    * canonical = long for integral/date/timestamp, raw for strings —
    * the SAME Murmur3(seed 42) the driver-side [[bucketOf]] evaluates,
    * so a file clustered by this expression records a collapsed
    * bucket range and an equality predicate prunes to one bucket.
    */
  def bucketColumn(n: Int, c: org.apache.spark.sql.Column,
                   dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    pmod(hash(bucketCanonical(c, dt)), lit(n))
  }

  /** The canonical pre-hash representation of a bucket source column.
    * Exposed separately because `df.repartition(n, canonical)` IS
    * `pmod(hash(canonical), n)` (Spark's HashPartitioning) — so
    * hash-repartitioning by the canonical column with EXACTLY n
    * partitions routes every row to its own bucket's partition, with
    * no range-sampler merging adjacent buckets.
    */
  def bucketCanonical(c: org.apache.spark.sql.Column,
                      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{unix_date, unix_micros}
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
      case TimestampType => unix_micros(c)
      case DateType      => unix_date(c).cast(LongType)
      case StringType    => c
      case other => sys.error(s"graft: bucket transform over unbucketable type $other")
    }
  }

  /** Driver-side bucket of a LITERAL comparand (Catalyst internal
    * value of the attribute's type) — what file pruning compares
    * against a `bucket(N;c)` stat. None = type not bucketable (the
    * caller keeps the file; pruning stays sound).
    */
  def bucketOf(v: Any, dt: org.apache.spark.sql.types.DataType,
               n: Int): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    import org.apache.spark.sql.types._
    val canonical: Option[Literal] = (dt, v) match {
      // hash() ignores a NULL child (the seed passes through), so a
      // null key's bucket is pmod(42, n) regardless of type — the
      // same place the write-side clustering routes null rows
      case (_, null) if bucketableType(dt) => Some(Literal(null, LongType))
      case (ByteType, b: Byte)    => Some(Literal(b.toLong, LongType))
      case (ShortType, s: Short)  => Some(Literal(s.toLong, LongType))
      case (IntegerType, i: Int)  => Some(Literal(i.toLong, LongType))
      case (LongType, l: Long)    => Some(Literal(l, LongType))
      case (TimestampType, l: Long) => Some(Literal(l, LongType))
      case (DateType, i: Int)     => Some(Literal(i.toLong, LongType))
      case (StringType, u: org.apache.spark.unsafe.types.UTF8String) =>
        Some(Literal(u, StringType))
      case _ => None
    }
    canonical.map(l =>
      Pmod(Murmur3Hash(Seq(l), 42), Literal(n)).eval(null).asInstanceOf[Int])
  }

  /** Output partitions of a write's clustering exchange: AQE's initial
    * partition number when the session sets one, else its shuffle
    * partitions. Unlike `SQLConf.numShufflePartitions` it does not
    * depend on AQE being on, so a write planned with AQE off (a
    * micro-batch, see [[graft.Sessions.configure]]) is spread like a
    * batch write.
    */
  def writePartitions(s: SparkSession): Int = {
    val conf = s.sessionState.conf
    conf.getConf(org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_INITIAL_PARTITION_NUM)
      .getOrElse(conf.numShufflePartitions)
  }

  /** Cluster a write by the declared partitioning. A SINGLE bucket
    * transform hash-routes each row to its own bucket's partition
    * (`repartition(n, canonical)` — exact, no range-sampler merging
    * adjacent buckets), so every staged file holds ONE bucket and its
    * derived stat collapses to a point. Identity columns — and mixed
    * identity+bucket declarations — range-cluster (contiguous runs;
    * a rare boundary file spans two adjacent values, which pruning
    * keeps, soundly).
    */
  def clusterByPartitioning(df: DataFrame, pfields: Seq[PartField],
                            defaultPartitions: Int): DataFrame = {
    import org.apache.spark.sql.functions.{array, element_at, lit, pmod, xxhash64}
    val live = pfields.filter(f => df.columns.contains(f.col))
    live match {
      case Seq() => df
      case Seq(BucketField(n, c)) =>
        val dt = df.schema(c).dataType
        val canonical = bucketCanonical(df.col(c), dt)
        // When the caller's desired output count exceeds n (a big
        // INSERT/CTAS/compaction into a low-n bucket table), shard
        // WITHIN buckets: partition id = bucket·S + shard, routed
        // through a precomputed hash PREIMAGE so HashPartitioning
        // lands each row at exactly that id. Every output partition
        // still holds ONE bucket (per-file stats stay points → SPJ
        // intact) while file sizes respect targetBytes and write
        // parallelism is n·S tasks, not n.
        val shards = math.min(
          math.max(1, (defaultPartitions + n - 1) / n),
          math.max(1, MaxBucketRoutePartitions / n))
        if (shards <= 1) df.repartition(n, canonical)
        else {
          val num = n * shards
          val pre = hashPreimages(num)
          // shard key: an INDEPENDENT hash of the same canonical key
          // (xxhash64 vs the bucket's murmur3) — deterministic across
          // task retries, uniform within a bucket, null-safe
          val pid = (bucketColumn(n, df.col(c), dt).cast("long") * shards +
            pmod(xxhash64(canonical), lit(shards.toLong))).cast("int")
          df.repartition(num,
            element_at(array(pre.map(lit(_)).toIndexedSeq: _*), pid + lit(1)))
        }
      case fields =>
        df.repartitionByRange(math.max(defaultPartitions, fields.size), fields.map {
          case IdentityField(c)  => df.col(c)
          case BucketField(n, c) => bucketColumn(n, df.col(c), df.schema(c).dataType)
          case TemporalField(u, c) =>
            temporalColumn(u, df.col(c), df.schema(c).dataType)
        }: _*)
    }
  }

  /** Types a temporal transform accepts (`hours` needs sub-day
    * resolution, so dates only carry the coarser three).
    */
  def temporalableType(unit: String,
                       dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.DateType      => unit != "hours"
      case _                                        => false
    }

  /** The UTC-epoch period index of a temporal transform — all four
    * units derive from fixed-point epoch arithmetic (micros → days by
    * integer division, days → calendar fields through DATE functions,
    * which are timezone-free), so the SAME row lands in the SAME
    * period on every cluster regardless of session timezone (the
    * Iceberg transform-spec contract).
    */
  def temporalColumn(unit: String, c: org.apache.spark.sql.Column,
                     dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{date_from_unix_date, lit, month, pmod, unix_date, unix_micros, year}
    import org.apache.spark.sql.types._
    // exact floor division on longs: `/` is double division in Spark
    // SQL and floor(x / d) can misround at period boundaries once x
    // outgrows the mantissa's slack — subtracting pmod first makes
    // the quotient an exact multiple, so the division IS exact
    def floorDiv(x: org.apache.spark.sql.Column, d: Long) =
      ((x - pmod(x, lit(d))) / lit(d)).cast(LongType)
    val days = dt match {
      case TimestampType => floorDiv(unix_micros(c), 86400000000L)
      case DateType      => unix_date(c).cast(LongType)
      case other => sys.error(s"graft: temporal transform over un-temporal type $other")
    }
    unit match {
      case "hours" =>
        require(dt == TimestampType, "graft: hours() needs a timestamp column")
        floorDiv(unix_micros(c), 3600000000L)
      case "days"   => days
      case "months" =>
        val d = date_from_unix_date(days.cast(IntegerType))
        ((year(d) - lit(1970)) * lit(12) + month(d) - lit(1)).cast(LongType)
      case "years"  =>
        (year(date_from_unix_date(days.cast(IntegerType))) - lit(1970)).cast(LongType)
      case other    => sys.error(s"graft: unknown temporal unit $other")
    }
  }

  /** Ceiling on n·shards for within-bucket routed writes — bounds the
    * preimage search and the folded route-array literal.
    */
  val MaxBucketRoutePartitions = 4096

  /** preimages(i) = a long whose Spark HashPartitioning id under
    * `num` partitions is exactly i: pmod(murmur3(x, 42), num) == i.
    * Found by scanning x = 0, 1, 2, … (deterministic; expected
    * num·ln(num) hash evaluations — microseconds at the 4096 cap).
    * `repartition(num, element_at(preimages, pid + 1))` is therefore
    * an EXACT partitioner expressed in the DataFrame API.
    */
  private[sources] def hashPreimages(num: Int): Array[Long] = {
    require(num >= 1 && num <= MaxBucketRoutePartitions,
      s"preimage table size out of range: $num")
    val pre = new Array[Long](num)
    val found = new Array[Boolean](num)
    var left = num
    var x = 0L
    while (left > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(x, 42)
      val i = ((h % num) + num) % num
      if (!found(i)) { found(i) = true; pre(i) = x; left -= 1 }
      x += 1
      require(x < 100000000L, s"graft: murmur3 preimage search diverged at $num")
    }
    pre
  }

  /** Split a re-stat key set (e.g. a compaction victim's stat keys)
    * into plain columns and the bucket specs hiding among them —
    * bucket keys are DERIVED stats recomputed from their source
    * column, never read as columns themselves.
    */
  private[sources] def splitStatKeys(keys: Seq[String])
    : (Seq[String], Seq[(Int, String)]) = {
    val (bucketKeys, plain) = keys.partition {
      case BucketKeyRe(_, _) => true
      case _                 => false
    }
    (plain, bucketKeys.collect { case BucketKeyRe(n, c) => (n.toInt, c) })
  }

  /** Every PHYSICAL column name any generation of the table ever
    * declared — the union of all schema-bearing commits' field names.
    * What ADD COLUMN consults to decide whether a name needs a fresh
    * physical identity (old files may still carry bytes under a
    * historically-used name, and serving those as the "new" column
    * would resurrect pre-drop values). O(history) record opens — an
    * administrative DDL path, never planning.
    */
  private[sources] def historicalPhysicalNames(root: String): Set[String] =
    commits(root).iterator.flatMap(_.physSchema).flatMap(_.fieldNames).toSet

  /** Every leaf name the struct column `physTop` has EVER declared —
    * the nested sibling of [[historicalPhysicalNames]]. Parquet binds
    * nested fields BY NAME (struct leaves get no fresh physical
    * identity), so re-adding a dropped leaf would resurrect pre-drop
    * bytes from old files; nested ADD refuses those names outright.
    * O(history) record opens — a DDL-time cost.
    */
  private[sources] def historicalNestedNames(root: String,
                                             physTop: String): Set[String] =
    commits(root).iterator.flatMap(_.physSchema)
      .flatMap(_.fields.find(_.name == physTop).map(_.dataType))
      .flatMap {
        case st: StructType => st.fieldNames.toSeq
        case _              => Nil
      }.toSet

  /** A raw stored path as a Hadoop [[org.apache.hadoop.fs.Path]] with
    * the URI built COMPONENT-WISE, so reserved characters ('#', '%',
    * a space) percent-encode instead of parsing as fragment/escape —
    * the write-side mirror of the deliberate `url_decode` on every
    * read-back join ([[metaFilePath]]). `new Path("file://" + raw)`
    * would hand a raw '#' to the URI parser as a fragment separator.
    */
  private[sources] def hadoopPath(raw: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new java.net.URI("file", null, raw, null, null))

  /** Same encoding discipline for the V2 scan's [[PartitionedFile]]
    * paths ([[org.apache.spark.paths.SparkPath]] stores the ENCODED
    * form and decodes on open).
    */
  private[sources] def sparkPath(raw: String): org.apache.spark.paths.SparkPath =
    org.apache.spark.paths.SparkPath.fromUri(
      new java.net.URI("file", null, raw, null, null))

  /** Rename a column — ONE metadata commit, zero data rewritten.
    * Validated against the logged schema when one exists (the old
    * name must resolve, the new must not collide). CHECK constraints
    * referencing the old name are not rewritten: they fail loudly at
    * the next write instead of silently passing (drop and re-create
    * them around a rename).
    */
  def renameColumn(root: String, oldName: String, newName: String,
                   txnId: String): Commit = {
    tableSchema(root).foreach { sch =>
      require(sch.fieldNames.contains(oldName),
        s"rename: no column $oldName in ${sch.fieldNames.mkString(",")}")
      require(!sch.fieldNames.contains(newName),
        s"rename: column $newName already exists")
    }
    commit(root, "rename-column", Nil, Nil,
      readVersion = currentVersion(root), txnId = txnId,
      rename = Some(oldName -> newName))
  }

  /** Physical (storage) name of a logical column under `renames`. */
  private def physicalName(renames: Map[String, String], c: String): String =
    renames.getOrElse(c, c)

  /** Physical column names → current logical names. */
  private[sources] def toLogical(df: DataFrame,
                                 renames: Map[String, String]): DataFrame = {
    // the internal materialized-row-id column (X-A96) is PHYSICAL
    // metadata: no logical surface may leak it (schema-less
    // mergeSchema reads of rewritten files would otherwise grow a
    // column the declared tables never show)
    val d = if (df.columns.contains(RowIdPhysCol)) df.drop(RowIdPhysCol) else df
    if (renames.isEmpty) d
    else d.withColumnsRenamed(renames.map { case (l, p) => (p, l) })
  }

  /** Logical column names → physical storage names (the write side:
    * staged files must carry physical names so every generation of a
    * renamed table stores the SAME column name).
    */
  private[sources] def toPhysical(df: DataFrame,
                                  renames: Map[String, String]): DataFrame =
    if (renames.isEmpty) df else df.withColumnsRenamed(renames)

  /** The commit log as a DataFrame — the DESCRIBE HISTORY surface:
    * one row per committed transaction with its action, read
    * snapshot, timestamp and change magnitudes. O(history) record
    * opens; an administrative query, not a planning path.
    */
  def history(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    commits(root)
      .map(c => (c.version, c.action, c.txnId, c.readVersion, c.ts,
        c.added.size.toLong, c.removed.size.toLong, c.dvFiles.size.toLong))
      .toDF("version", "action", "txn_id", "read_version", "ts",
        "n_added", "n_removed", "n_dv_files")
  }

  /** The snapshot version live at `tsMillis` — the latest commit
    * whose (monotonized) timestamp is at or before it. Commit
    * timestamps are strictly increasing within a log tail ([[commit]]
    * enforces it) and monotonized here with a running max across
    * history, so a wall clock stepping backwards between sessions can
    * never make time travel non-deterministic (the Delta
    * TIMESTAMP AS OF contract). O(history) record opens — an
    * administrative query, not a planning path.
    */
  def versionAsOf(root: String, tsMillis: Long): Long = {
    var best = -1L
    var runMax = Long.MinValue
    commits(root).foreach { c =>
      runMax = math.max(runMax, c.ts)
      if (runMax <= tsMillis) best = c.version
    }
    require(best >= 0,
      s"timestamp $tsMillis predates every commit of $root")
    best
  }

  /** [[read]] at [[versionAsOf]]`(tsMillis)`. */
  def readAsOf(s: SparkSession, root: String, tsMillis: Long): DataFrame =
    read(s, root, versionAsOf(root, tsMillis))

  /** Physically delete data files referenced by NO snapshot at or
    * after `retainFromVersion` — storage reclamation after rewrites
    * (upserts/compactions strand their replaced files forever
    * otherwise; at 100 TB the stranded bytes quickly dwarf the live
    * table). The contract is Delta's VACUUM with a version horizon
    * instead of a timestamp: time travel to versions BEFORE the
    * horizon stops working (their files are gone — reads fail loudly
    * on missing files rather than returning partial data), every
    * retained version is untouched, and the log keeps ALL commit
    * records so provenance survives even where data does not.
    * Idempotent; returns the deleted paths.
    *
    * ONE fold of the log: a file's live interval is
    * [addVersion, lastRemoveVersion), so it is dead to every retained
    * snapshot iff its final removal is at or before the horizon —
    * O(commits), not O(versions × commits).
    */
  // ---- named refs: tags and branches (the Iceberg refs /
  // write-audit-publish workflow, expressed over a linear log) ----
  //
  // A TAG pins a main-table version under a name: `VERSION AS OF
  // 'name'` resolves it, and vacuum protects every file that version
  // can read. A BRANCH is a full table FORK under `_refs/branch.<n>/`
  // — one metadata commit materializes the main snapshot (live files
  // by absolute path, their stats and deletion vectors, the schema,
  // constraints, partitioning, renames), after which the branch is an
  // ordinary graft table: every DML/maintenance path works on it
  // unchanged, invisible to main. PUBLISH fast-forwards main to the
  // branch's state as ONE commit whose `requireHead` gate makes ANY
  // main movement since the fork — racing publishes included — a
  // ConflictException. Publishing is data-only by design: a branch
  // that evolved its schema or renamed columns must re-land those as
  // DDL on main (refused with a message, never silently merged).

  private val RefNameRe = "[A-Za-z0-9_-]{1,64}".r

  private def refsDir(root: String): Path = Paths.get(root, "_refs")
  private def tagPath(root: String, name: String): Path =
    refsDir(root).resolve(s"tag.$name")

  /** The branch's own table root. */
  def branchRoot(root: String, name: String): String =
    refsDir(root).resolve(s"branch.$name").toString

  private def forkPath(broot: String): Path = Paths.get(broot, "FORK")

  private def validateRefName(name: String): Unit =
    require(RefNameRe.matches(name),
      s"ref names are [A-Za-z0-9_-]{1,64}: '$name'")

  def isBranch(root: String, name: String): Boolean =
    Files.isDirectory(Paths.get(branchRoot(root, name), "_log"))

  def tagVersion(root: String, name: String): Option[Long] =
    if (!Files.isRegularFile(tagPath(root, name))) None
    else Some(Files.readString(tagPath(root, name)).trim.toLong)

  /** The fork point: the MAIN version the branch materialized. */
  def branchForkVersion(root: String, name: String): Long =
    Files.readString(forkPath(branchRoot(root, name))).trim.toLong

  /** Every ref's pinned MAIN version (tag → tagged version, branch →
    * fork version) — what vacuum must keep readable.
    */
  def refPinnedVersions(root: String): Seq[Long] = {
    if (!Files.isDirectory(refsDir(root))) return Nil
    val entries = listDir(refsDir(root))
    entries.flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("tag."))
        scala.util.Try(Files.readString(p).trim.toLong).toOption
      else if (n.startsWith("branch.") && Files.isRegularFile(p.resolve("FORK")))
        scala.util.Try(Files.readString(p.resolve("FORK")).trim.toLong).toOption
      else None
    }
  }

  /** Every ref, sorted by name: (name, kind, pinned main version,
    * branch head — -1 for tags). Metadata-only: one directory listing
    * plus one small read per ref.
    */
  def listRefs(root: String): Seq[(String, String, Long, Long)] = {
    if (!Files.isDirectory(refsDir(root))) return Nil
    listDir(refsDir(root)).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("tag."))
        scala.util.Try(Files.readString(p).trim.toLong).toOption
          .map(v => (n.stripPrefix("tag."), "tag", v, -1L))
      else if (n.startsWith("branch.") && Files.isRegularFile(p.resolve("FORK")))
        scala.util.Try(Files.readString(p.resolve("FORK")).trim.toLong).toOption
          .map(v => (n.stripPrefix("branch."), "branch", v,
            currentVersion(p.toString)))
      else None
    }.sortBy(_._1)
  }

  /** Create an immutable tag at `version` (default: the current
    * head). Atomic and first-writer-wins (CREATE_NEW); re-tagging a
    * name is a drop + create.
    */
  def createTag(root: String, name: String,
                version: Long = Long.MaxValue): Long = {
    validateRefName(name)
    require(!isBranch(root, name), s"ref $name already exists as a branch")
    val head = currentVersion(root)
    val v = if (version == Long.MaxValue) head else version
    require(v >= 1L && v <= head, s"cannot tag version $v (head is $head)")
    Files.createDirectories(refsDir(root))
    try Files.writeString(tagPath(root, name), v.toString,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch { case _: FileAlreadyExistsException =>
      sys.error(s"graft: tag $name already exists") }
    // a vacuum RACING this tag lists the refs dir before the tag file
    // lands, so it may reclaim v's files in the window between the
    // head read above and the CREATE_NEW: re-verify AFTER the tag is
    // durable (the tag now pins v against any later vacuum, so a
    // post-verify reclaim is impossible) and fail loudly — deleting
    // the bad tag — rather than leave a name pinning an unreadable
    // snapshot. O(files-at-v) existence probes, metadata-scale.
    val missing = resolveState(root, v).files.iterator
      .map(_._1).filterNot(f => Files.exists(Paths.get(f))).toSeq
    if (missing.nonEmpty) {
      Files.deleteIfExists(tagPath(root, name))
      sys.error(s"graft: tag $name at version $v raced a vacuum — " +
        s"${missing.size} file(s) of that snapshot are already reclaimed " +
        s"(first: ${missing.head}); re-tag a retained version")
    }
    v
  }

  /** RESTORE TABLE to `toVersion` (the Delta RESTORE verb): ONE
    * metadata commit on the SAME log re-declares the target
    * snapshot's live set — its files (already in this log's
    * addressing: zero data bytes move), their stats and deletion
    * vectors AS OF that version (a DV that grew since shrinks back,
    * because a re-add resets the file's meta before the commit's own
    * DV applies), its schema and CHECK constraints. History is never
    * rewritten: the restore is a new head, every intermediate version
    * still time-travels, and the change feed sees it as one
    * rewrite-shaped commit.
    *
    * Honest refusals instead of silent half-restores, each a separate
    * explicit step the caller can take first:
    *  - a target file already vacuumed (the same per-file existence
    *    proof [[createTag]] runs) — that snapshot is gone;
    *  - column RENAMES or PARTITIONING that differ from the target
    *    version (each rename is its own commit record; rename back
    *    explicitly);
    *  - CHECK constraints ADDED since the target version (one
    *    drop-constraint commit each; drop them first — restore will
    *    re-add the target's own set atomically).
    *
    * Table-level histograms carry from the target version where it
    * had them; re-run ANALYZE after a restore for fresh CBO inputs.
    * Blooms do not carry (sound: absent bloom never prunes), matching
    * the branch-fork contract.
    */
  def restore(root: String, toVersion: Long, txnId: String): Long = {
    val head = currentVersion(root)
    require(toVersion >= 1L && toVersion <= head,
      s"restore: version $toVersion out of range for $root (head $head)")
    if (toVersion == head) return head // already there: no-op, no commit
    val stThen = resolveState(root, toVersion)
    val stNow = resolveState(root, head)
    require(stNow.partitionBy == stThen.partitionBy,
      s"restore: partitioning changed since v$toVersion " +
        s"(${stThen.partitionBy.mkString("[", ", ", "]")} -> " +
        s"${stNow.partitionBy.mkString("[", ", ", "]")}); evolve it " +
        "back with set_partitioning first")
    require(stNow.renames == stThen.renames,
      s"restore: column renames moved since v$toVersion; rename back " +
        s"explicitly, then restore (then: ${stThen.renames}, now: ${stNow.renames})")
    val addedSince = stNow.constraints.keySet -- stThen.constraints.keySet
    require(addedSince.isEmpty,
      s"restore: CHECK constraint(s) ${addedSince.mkString(", ")} were added " +
        s"after v$toVersion; drop them first (restore re-adds v$toVersion's own set)")
    val files = stThen.files
    val missing = files.iterator.map(_._1)
      .filterNot(f => Files.exists(Paths.get(f))).toSeq
    require(missing.isEmpty,
      s"restore: ${missing.size} file(s) of v$toVersion already vacuumed " +
        s"(first: ${missing.headOption.getOrElse("")}); that snapshot is gone")
    val dvd = files.collect { case (f, m) if m.dv.isDefined => (f, dvHex(m.dv.get)) }
    val thenSet = files.map(_._1).toSet
    val gone = stNow.files.map(_._1).filterNot(thenSet.contains)
    commit(root, "restore",
      added = files.map(_._1), removed = gone,
      readVersion = head, txnId = txnId,
      multiStats = files.map(_._2.stats),
      // re-added files keep their ORIGINAL base row ids (r19): a
      // restore rewinds data, not row identity — re-minting would
      // silently re-identify every non-materialized row
      rowBases = files.map(_._2.rowBase.getOrElse(-1L)),
      dvFiles = dvd.map(_._1), dvs = dvd.map(_._2),
      schemaId = stThen.physSchema.map(schemaFingerprint).getOrElse(""),
      physSchema = stThen.physSchema,
      cadds = stThen.constraints.toSeq,
      hists = stThen.hists,
      requireHead = head).version
  }

  /** SHALLOW CLONE (the Delta CLONE verb): `dstRoot` becomes an
    * INDEPENDENT table whose first commit re-declares `srcRoot`'s
    * live snapshot by absolute path — zero data bytes copied. Writes
    * after the clone stage under the clone's own root, so the two
    * tables evolve independently while sharing every unrewritten
    * byte; vacuum on either side reclaims only bytes under its OWN
    * root (the standing rule), and the clone additionally PINS its
    * fork version on the source as a `clone_…` tag, so source-side
    * vacuum can never reclaim shared bytes out from under it — the
    * failure mode Delta documents for shallow clones, closed here by
    * the same ref-pinning the branches use. DROP TABLE on the clone
    * releases the pin (the catalog reads the `_log/CLONE` marker);
    * a clone that outlives its source simply keeps its own bytes
    * (shared ones die with the source directory — the marker names
    * the dependency for operators to see). A crash between the pin
    * and the first commit leaves an orphan tag (`drop_ref` cleans)
    * and no table.
    */
  def cloneTable(srcRoot: String, dstRoot: String, txnId: String): Long = {
    require(Files.isDirectory(Paths.get(srcRoot, "_log")),
      s"clone: source $srcRoot is not a graft table")
    require(!Files.exists(Paths.get(dstRoot)),
      s"clone: target $dstRoot already exists")
    val forkV = currentVersion(srcRoot)
    require(forkV >= 1L, s"clone: cannot clone an uncreated table at $srcRoot")
    // PIN FIRST: createTag's own post-write existence proof closes
    // the clone-vs-vacuum race (it deletes the tag and errors if the
    // snapshot lost the race)
    val pinName = s"clone_$uuid12"
    createTag(srcRoot, pinName, forkV)
    try {
      val st = resolveState(srcRoot, forkV)
      Files.createDirectories(Paths.get(dstRoot))
      init(dstRoot)
      Files.writeString(Paths.get(dstRoot, "_log", "CLONE"),
        s"$srcRoot $pinName", java.nio.file.StandardOpenOption.CREATE_NEW)
      val files = st.files
      val dvd = files.collect { case (f, m) if m.dv.isDefined => (f, dvHex(m.dv.get)) }
      commit(dstRoot, "clone", added = files.map(_._1), removed = Nil,
        readVersion = 0L, txnId = txnId,
        multiStats = files.map(_._2.stats),
        // row identity carries across the clone: same bases, and the
        // source's high-water mark floors the clone's so post-clone
        // inserts never mint ids under carried (or retired) ranges
        rowBases = files.map(_._2.rowBase.getOrElse(-1L)),
        rowHwmFloor = st.rowHwm,
        dvFiles = dvd.map(_._1), dvs = dvd.map(_._2),
        schemaId = st.physSchema.map(schemaFingerprint).getOrElse(""),
        physSchema = st.physSchema,
        cadds = st.constraints.toSeq,
        hists = st.hists,
        // table properties travel WITH the clone (r20, Delta CLONE
        // semantics: a clone copies source table configuration) —
        // atomically, in the same record as the snapshot
        padds = st.props.toSeq,
        partitionBy = Some(st.partitionBy))
      st.renames.foreach { case (logical, physical) =>
        if (logical != physical)
          commit(dstRoot, "clone-rename", Nil, Nil, readVersion = 0L,
            txnId = s"$txnId-rn-$physical", rename = Some(physical -> logical))
      }
      currentVersion(dstRoot)
    } catch { case e: Throwable =>
      dropRef(srcRoot, pinName)
      throw e
    }
  }

  /** The (sourceRoot, pinTag) this table recorded at clone time, if
    * it is a shallow clone. */
  def cloneSourcePin(root: String): Option[(String, String)] = {
    val marker = Paths.get(root, "_log", "CLONE")
    if (!Files.isRegularFile(marker)) return None
    val s = Files.readString(marker).trim
    val cut = s.lastIndexOf(' ')
    if (cut < 0) None else Some((s.take(cut), s.drop(cut + 1)))
  }

  /** Fork a branch at the current main head: ONE metadata commit on
    * the branch's own log re-declares the snapshot — live files by
    * absolute path with their stats and DV payloads, schema,
    * constraints, partitioning — plus one rename commit per column
    * mapping. O(files) metadata, zero data bytes copied. Blooms do
    * not carry (sound: absent bloom never prunes; ANALYZE or
    * compaction on the branch rebuilds them).
    */
  def createBranch(root: String, name: String, txnId: String): String = {
    validateRefName(name)
    require(tagVersion(root, name).isEmpty, s"ref $name already exists as a tag")
    val broot = branchRoot(root, name)
    // a LIVE branch (has a _log) or an ambiguous-crash husk (FORK but
    // no _log) refuses; a DROPPED branch's husk — data files only,
    // neither marker ([[dropRef]] removes both) — is re-forkable:
    // staging dirs are txn-unique, so new writes can never clobber
    // the husk's published bytes, and the CREATE_NEW fork marker
    // below still arbitrates racing re-creates first-writer-wins
    require(!Files.exists(Paths.get(broot)) ||
      (!Files.isDirectory(Paths.get(broot, "_log")) &&
        !Files.exists(forkPath(broot))),
      s"graft: branch $name already exists")
    val forkV = currentVersion(root)
    require(forkV >= 1L, s"cannot branch an uncreated table at $root")
    val st = resolveState(root, forkV)
    Files.createDirectories(Paths.get(broot))
    // FORK lands before the _log: a directory without a _log is not a
    // table, so a crash between the two leaves an inert husk that a
    // re-create refuses loudly (and a human deletes), never a branch
    // with an ambiguous fork point
    Files.writeString(forkPath(broot), forkV.toString,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    init(broot)
    val files = st.files
    val dvd = files.collect { case (f, m) if m.dv.isDefined => (f, dvHex(m.dv.get)) }
    commit(broot, "fork", added = files.map(_._1), removed = Nil,
      readVersion = 0L, txnId = txnId,
      multiStats = files.map(_._2.stats),
      // row identity carries onto the branch; main's hwm floors the
      // branch's so branch-side inserts mint above every main id —
      // publish (strict fast-forward) can then carry branch ids back
      // collision-free
      rowBases = files.map(_._2.rowBase.getOrElse(-1L)),
      rowHwmFloor = st.rowHwm,
      dvFiles = dvd.map(_._1), dvs = dvd.map(_._2),
      schemaId = st.physSchema.map(schemaFingerprint).getOrElse(""),
      physSchema = st.physSchema,
      cadds = st.constraints.toSeq,
      // a branch starts under main's operational policy (r20): props
      // fork with the data, then evolve independently per side
      padds = st.props.toSeq,
      partitionBy = Some(st.partitionBy))
    // column mapping carries as the same rename records main holds
    st.renames.foreach { case (logical, physical) =>
      if (logical != physical)
        commit(broot, "fork-rename", Nil, Nil, readVersion = 0L,
          txnId = s"$txnId-rn-$physical", rename = Some(physical -> logical))
    }
    broot
  }

  /** PUBLISH: fast-forward main to the branch's state as ONE commit.
    * added = branch files main lacks (absolute paths — the log
    * addresses bytes wherever they live, so nothing copies), removed
    * = fork files the branch dropped, DV deltas ride along (deletion
    * vectors only grow, so the branch's bitmap IS the union). The
    * `requireHead = forkVersion` gate makes the fast-forward STRICT
    * and atomic: any main commit since the fork — including a racing
    * publish — conflicts; the loser re-forks or re-audits. Replays
    * (same txnId) return the existing publish and apply nothing.
    */
  def publishBranch(s: SparkSession, root: String, name: String,
                    txnId: String): Commit = {
    require(isBranch(root, name), s"graft: no branch $name at $root")
    val broot = branchRoot(root, name)
    val forkV = branchForkVersion(root, name)
    val main = resolveState(root, forkV)
    val br = resolveState(broot, currentVersion(broot))
    require(br.physSchema == main.physSchema && br.renames == main.renames,
      s"graft: branch $name changed the schema; publish is data-only — " +
        "land DDL on the main table and re-fork")
    val mainFiles = main.files.toMap
    val brFiles = br.files.map(_._1).toSet
    val added = br.files.filterNot { case (f, _) => mainFiles.contains(f) }
    val removed = main.files.map(_._1).filterNot(brFiles.contains)
    // DV payloads ride in two shapes: surviving FORK files whose
    // bitmap grew on the branch (vectors only grow, so the branch's
    // bitmap IS the union), and branch-ADDED files that already carry
    // one (a branch delete after a branch insert) — dropping the
    // latter would resurrect branch-deleted rows on main
    val dvDelta = br.files.collect {
      case (f, m) if mainFiles.contains(f) && m.dv.map(dvHex) !=
        mainFiles(f).dv.map(dvHex) => (f, dvHex(m.dv.getOrElse(
          sys.error(s"graft: branch $name lost a deletion vector on $f"))))
      case (f, m) if !mainFiles.contains(f) && m.dv.isDefined =>
        (f, dvHex(m.dv.get))
    }
    commit(root, "branch-publish", added = added.map(_._1), removed = removed,
      readVersion = forkV, txnId = txnId,
      multiStats = added.map(_._2.stats),
      // branch-minted ids publish verbatim: the fork floored the
      // branch's hwm at main's, and the strict fast-forward gate
      // (requireHead = forkV) proves main has not allocated since —
      // so branch bases are collision-free on main by construction;
      // the branch's hwm carries so main's next insert clears them
      rowBases = added.map(_._2.rowBase.getOrElse(-1L)),
      rowHwmFloor = br.rowHwm,
      dvFiles = dvDelta.map(_._1), dvs = dvDelta.map(_._2),
      schemaId = main.physSchema.map(schemaFingerprint).getOrElse(""),
      requireHead = forkV)
  }

  /** Drop a ref. A branch drop removes its LOG and fork marker only:
    * data files a publish made main-visible stay exactly where the
    * main log addresses them; unpublished branch bytes orphan (the
    * price of never risking main's data).
    */
  def dropRef(root: String, name: String): Boolean = {
    validateRefName(name)
    val tag = tagPath(root, name)
    if (Files.isRegularFile(tag)) return Files.deleteIfExists(tag)
    val broot = Paths.get(branchRoot(root, name))
    if (!Files.isDirectory(broot)) return false
    deleteRecursively(broot.resolve("_log"))
    Files.deleteIfExists(forkPath(broot.toString))
    true
  }

  /** `dryRun = true` returns the exact reclaim set WITHOUT deleting a
    * byte — the "what would vacuum destroy" audit every operator runs
    * before the real horizon move (Delta's VACUUM DRY RUN). Same
    * candidate computation to the last filter, so the dry run's
    * answer IS the wet run's victim list at this head.
    */
  def vacuum(root: String, retainFromVersion: Long,
             dryRun: Boolean = false): Seq[String] = {
    val head = currentVersion(root)
    // refs PIN their versions: a tag (or a branch fork) at v needs
    // every file live AT v, so the reclaim horizon can never pass the
    // oldest pinned ref
    val from = (Seq(math.min(retainFromVersion, head)) ++
      refPinnedVersions(root)).min
    // LIVE branch HEADS pin their files too, not just their forks: a
    // file the branch added and PUBLISHED lives under main's root —
    // if main later rewrites it away (compaction, overwrite) it
    // leaves main's live set while the still-live branch's own log
    // keeps serving it; reclaiming it would break every branch read.
    // O(branches) metadata folds, only when refs exist.
    val branchLive: Set[String] =
      if (!Files.isDirectory(refsDir(root))) Set.empty
      else listDir(refsDir(root)).iterator
        .map(_.getFileName.toString)
        .filter(_.startsWith("branch."))
        .map(_.stripPrefix("branch."))
        .filter(isBranch(root, _))
        .flatMap(n => resolveState(branchRoot(root, n), Long.MaxValue)
          .files.iterator.map(_._1))
        .map(f => Paths.get(f).toAbsolutePath.normalize.toString)
        .toSet
    // file -> final removal version (-1 while live); a re-added file
    // overwrites its earlier removal, so the END state decides
    val state = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    commits(root).foreach { c =>
      c.added.foreach(state(_) = -1L)
      c.removed.foreach(state(_) = c.version)
    }
    // only bytes under THIS root's tree are ours to reclaim: a
    // branch's log references files the MAIN table owns (and an
    // external-location table references files nobody granted us) —
    // deleting those would corrupt a table whose log still serves them
    val own = Paths.get(root).toAbsolutePath.normalize
    state.iterator
      .collect { case (f, rv) if rv >= 0 && rv <= from => f }
      .filter { f =>
        val n = Paths.get(f).toAbsolutePath.normalize
        n.startsWith(own) && !branchLive.contains(n.toString)
      }
      .filter(f =>
        if (dryRun) Files.exists(Paths.get(f))
        else Files.deleteIfExists(Paths.get(f)))
      .toSeq
  }

  /** Reclaim bytes stranded under DROPPED branches: [[dropRef]]
    * removes a branch's `_log` and fork marker but leaves its data
    * files (never risking main's bytes at drop time); this sweep
    * deletes, per log-less husk directory, every file MAIN's log has
    * never referenced — published bytes stay exactly where main
    * addresses them (main's own [[vacuum]] reclaims those on its
    * normal horizon, since the husk lives under main's root) — then
    * prunes emptied directories so a fully-orphaned husk disappears
    * and its name becomes re-forkable. Same no-writer-mid-stage
    * contract as [[vacuumStaging]].
    */
  def vacuumRefs(root: String): Seq[String] = {
    if (!Files.isDirectory(refsDir(root))) return Nil
    val referenced = commits(root).iterator
      .flatMap(c => c.added.iterator ++ c.removed.iterator)
      .map(f => Paths.get(f).toAbsolutePath.normalize.toString).toSet
    listDir(refsDir(root))
      .filter(p => p.getFileName.toString.startsWith("branch.") &&
        Files.isDirectory(p) &&
        !Files.isDirectory(p.resolve("_log")) &&
        !Files.exists(p.resolve("FORK")))
      .flatMap { husk =>
        val all = {
          val s = Files.walk(husk)
          try s.collect(Collectors.toList[Path]).asScala.toSeq finally s.close()
        }
        val gone = all
          .filter(Files.isRegularFile(_))
          .filterNot(f => referenced.contains(
            f.toAbsolutePath.normalize.toString))
          .filter(f => Files.deleteIfExists(f))
          .map(_.toString)
        // prune now-empty dirs deepest-first (the husk itself last)
        all.filter(Files.isDirectory(_))
          .sortBy(-_.getNameCount)
          .foreach { d =>
            if (listDir(d).isEmpty) { Files.deleteIfExists(d); () }
          }
        gone
      }
  }

  /** [[vacuum]] with Delta's `RETAIN n HOURS` contract: the horizon
    * version is the snapshot live `retainHours` ago by the
    * MONOTONIZED commit timestamps ([[versionAsOf]] — a wall clock
    * stepping backwards between sessions can never widen the
    * reclaimable set), so every version readable within the retention
    * window keeps its files and `versionAsOf(ts)` composes for any ts
    * inside it. A horizon predating the first commit reclaims
    * nothing. `nowMillis` is injectable for deterministic tests.
    */
  def vacuumRetainHours(root: String, retainHours: Double,
                        nowMillis: Long = System.currentTimeMillis(),
                        dryRun: Boolean = false): Seq[String] = {
    require(retainHours >= 0.0 && !retainHours.isNaN,
      s"retainHours must be >= 0: $retainHours")
    val horizonTs = nowMillis - (retainHours * 3600.0 * 1000.0).toLong
    val horizonV =
      try versionAsOf(root, horizonTs)
      catch { case _: IllegalArgumentException => return Nil }
    vacuum(root, horizonV, dryRun)
  }

  /** Per-txnId JVM locks: two threads replaying the same transaction
    * must not interleave one's orphan-wipe with the other's in-flight
    * staging ([[appendOnce]], [[TxnStream.maintainInto]]).
    */
  private val txnLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[sources] def withTxnLock[T](txnId: String)(f: => T): T =
    txnLocks.computeIfAbsent(txnId, _ => new Object).synchronized(f)

  /** Wipe an orphaned staging dir left by a crash between stage() and
    * commit() — safe iff the txnId is not in the log (no reader has
    * ever resolved those files). Call only under [[withTxnLock]].
    */
  private[sources] def wipeStaging(root: String, txnId: String): Unit =
    deleteRecursively(Paths.get(root, "data", txnId))

  /** Exactly-once streaming append — the `foreachBatch` sink for
    * writing a stream into the table:
    *
    * {{{
    * stream.writeStream.foreachBatch { (df, batchId) =>
    *   TxnLog.appendOnce(df, root, streamId = "ingest-q1", batchId); ()
    * }
    * }}}
    *
    * Structured Streaming replays a micro-batch whose side effects it
    * cannot prove committed; the (streamId, batchId) txnId makes the
    * replay a NO-OP — the log already holds that transaction, so the
    * data lands exactly once no matter how many times the batch runs
    * (the Delta `txnAppId`/`txnVersion` idempotent-writer contract).
    * A crash BETWEEN staging and commit leaves an orphaned staging
    * dir; the retry wipes and re-stages it (safe: its txnId is not in
    * the log, so no reader has ever resolved those files — and a
    * per-txnId JVM lock keeps two in-process replays from wiping each
    * other's staging mid-flight).
    *
    * Every [[CheckpointInterval]]-th commit auto-checkpoints, which
    * is what keeps the NEXT commits' ledger lookup and conflict fold
    * O(tail) for arbitrarily long-lived ingest. Declares the batch's
    * schema fingerprint, so a drifting upstream aborts loudly instead
    * of silently forking the table.
    *
    * Returns the commit (existing one if replayed).
    */
  def appendOnce(df: DataFrame, root: String, streamId: String,
                 batchId: Long): Commit = {
    val txnId = s"$streamId-b$batchId"
    withTxnLock(txnId) {
      findCommit(root, txnId).getOrElse {
        checkConstraints(df.sparkSession, root, df) // before anything publishes
        // stage under PHYSICAL names (a renamed table's files must
        // all store the same column name); the fingerprint is over
        // the physical schema, so it is stable across renames
        val phys = toPhysical(df, columnMapping(root))
        // per-attempt staging dir: a crashed earlier attempt's orphan
        // is left alone (vacuumStaging reclaims it) and a concurrent
        // replay in ANOTHER process can never wipe ours mid-flight
        val files = stage(phys, root, s"$txnId-a$uuid12")
        // appends have an empty read set: readVersion 0 never conflicts
        val rec = commit(root, "stream-append", files, Nil, readVersion = 0L,
          txnId = txnId, schemaId = schemaFingerprint(phys.schema),
          physSchema = Some(phys.schema))
        if (rec.version % CheckpointInterval == 0) checkpoint(root)
        rec
      }
    }
  }

  /** One finished [[copyInto]] call. `loadedFiles`/`skippedFiles`
    * count SOURCE files; `rows` is the staged row count (0 on a pure
    * replay); `version` is the published commit (or the unchanged
    * head when nothing was new).
    */
  case class CopyReceipt(version: Long, loadedFiles: Long,
                         skippedFiles: Long, rows: Long)

  /** The source-file markers every COPY INTO so far has recorded:
    * md5(canonical path) -> byte size. Resolved from the checkpoint's
    * `I` lines plus the log tail — O(tail), like every other piece of
    * table state.
    */
  def ingestedSources(root: String): Map[String, Long] =
    resolveState(root, Long.MaxValue).ingests.toSeq.map { e =>
      val cut = e.indexOf(':')
      e.take(cut) -> e.drop(cut + 1).toLong
    }.toMap

  /** COPY INTO: idempotent bulk file ingest (the Delta `COPY INTO` /
    * Auto Loader batch recipe re-expressed over the linear log). Every
    * matching file under `sourceDir` not yet recorded in the table's
    * ingest ledger is loaded in ONE distributed read, staged with
    * INSERT-grade typed stats (declared partitioning clustered, bucket
    * stats included), and published as ONE commit whose record also
    * carries one `md5(path):size` marker per source file — so a
    * re-run (crash recovery, a scheduler firing twice, tomorrow's
    * sweep of a landing directory that gained three files) loads
    * exactly the delta and a full replay publishes nothing.
    *
    * Contract: source files are IMMUTABLE once ingested — a seen path
    * whose size changed refuses loudly (re-ingesting would duplicate
    * the rows already committed; changed data belongs in a NEW file).
    * Same-size in-place edits are undetectable by design, exactly as
    * in the public recipes (Delta keys COPY INTO file identity the
    * same way). The ledger rides the log: checkpoint `I` lines bound
    * resolution to O(tail) at any ingest count, and VACUUM never
    * touches it (markers are metadata, not data files).
    *
    * Scale shape: one Spark job per CALL, not per file — 10^4 new
    * files read as one multi-path scan; the ledger diff is a driver
    * set-difference over md5 keys (~50 B/file). Cross-process races
    * are serialized by the commit CAS: the loser's `requireHead`
    * check fails, the ledger is re-read, and already-ingested files
    * drop out of its retry.
    *
    * For non-self-describing formats (csv/json) the table's declared
    * schema is REQUIRED and applied to the read — schema inference
    * run-to-run would silently fork the table's types.
    */
  def copyInto(s: SparkSession, root: String, sourceDir: String,
               format: String = "parquet", pattern: String = "*",
               options: Map[String, String] = Map.empty): CopyReceipt = {
    val dir = Paths.get(sourceDir)
    require(Files.isDirectory(dir), s"copy-into source is not a directory: $sourceDir")
    // landing files carry no identity values and this path has no
    // minting step — refuse rather than land NULL ids silently
    val idents = tableSchema(root).toSeq.flatMap(GraftTable.identityColumns)
    require(idents.isEmpty,
      s"graft: table has IDENTITY column(s) ${idents.map(_.col).mkString(", ")} " +
        "— COPY INTO cannot mint identity values; load via INSERT INTO ... SELECT")
    val matcher = dir.getFileSystem.getPathMatcher(s"glob:$pattern")
    val sources = listDir(dir)
      .filter(p => Files.isRegularFile(p) && matcher.matches(p.getFileName))
      .filter { p => // sidecars (_SUCCESS, .crc) are not data
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
      .map(p => (p.toAbsolutePath.normalize.toString, Files.size(p)))
      .sortBy(_._1)
    def idOf(path: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(path.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    var retries = 0
    while (true) {
      val ledger = ingestedSources(root)
      val (seen, fresh) = sources.partition { case (p, _) => ledger.contains(idOf(p)) }
      seen.foreach { case (p, sz) =>
        val prior = ledger(idOf(p))
        if (prior != sz) sys.error(
          s"copy-into source $p was already ingested at $prior bytes but is " +
            s"now $sz: ingested sources are immutable — write changed data " +
            "to a new file name")
      }
      if (fresh.isEmpty)
        return CopyReceipt(currentVersion(root), 0L, seen.size.toLong, 0L)
      val readV = currentVersion(root)
      val declared = rawTableSchema(root)
      require(format == "parquet" || format == "orc" || declared.isDefined,
        s"copy-into from $format needs the table's declared schema " +
          "(create the table first): run-to-run inference would fork the types")
      val reader = s.read.format(format).options(options)
      val raw = (declared match {
        // csv/json read under the DECLARED (logical) schema; parquet
        // stays self-describing (its footers already bind names) and
        // evolution rides the standard schema gate
        case Some(sch) if format != "parquet" && format != "orc" =>
          reader.schema(StructType(sch.fields.map(f =>
            f.copy(name = physicalName(columnMapping(root), f.name)))))
        case _ => reader
      }).load(fresh.map(_._1): _*)
      checkConstraints(s, root, raw)
      val phys0 = toPhysical(raw, columnMapping(root))
      val pfields = partitionFields(root, readV)
        .filter(f => phys0.columns.contains(f.col))
      val phys = clusterByPartitioning(phys0, pfields, writePartitions(s))
      val txnId = s"copy-$uuid12"
      val (files, multi) = GraftTable.stageFiles(phys, root, txnId, pfields)
      val rows = multi.map(_.values.map(_.rows).maxOption.getOrElse(0L)).sum
      try {
        val rec = commit(root, "copy-into", added = files, removed = Nil,
          readVersion = readV, txnId = txnId, multiStats = multi,
          schemaId = schemaFingerprint(phys.schema),
          physSchema = GraftTable.declareSchema(root, phys.schema),
          // the ledger read above IS this commit's read set: any
          // commit landing since may be a concurrent copy-into whose
          // markers overlap ours — requireHead forces the re-read
          requireHead = readV,
          ingests = fresh.map { case (p, sz) => s"${idOf(p)}:$sz" })
        if (rec.version % CheckpointInterval == 0) checkpoint(root)
        return CopyReceipt(rec.version, fresh.size.toLong, seen.size.toLong, rows)
      } catch {
        case _: ConflictException if retries < 8 =>
          retries += 1 // staged orphans reclaim via vacuumStaging
      }
    }
    sys.error("unreachable")
  }
}
