package graft.sources

import java.util
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDeleteV2, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.util.V2ExpressionSQLBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import TxnLog.uuid12

/** A DataSource V2 [[TableCatalog]] over [[TxnLog]] tables — the
  * packaging that makes the whole transaction layer SQL-NATIVE.
  * Register once:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  * }}}
  *
  * and every capability the programmatic `TxnLog.*` API exposes is a
  * SQL statement:
  *
  *  - `CREATE TABLE graft.db.t (k BIGINT, v STRING)` — a log-init +
  *    one schema commit; the schema is a LOG fact from birth.
  *  - `INSERT INTO graft.db.t SELECT ...` — staged parquet + one
  *    atomic commit carrying TYPED per-file (min, max, nulls) stats
  *    for every primitive column ([[TxnLog.stageWithStatsFor]]), so
  *    catalog-written tables get data skipping with no extra step;
  *    CHECK constraints are enforced before anything publishes.
  *  - `INSERT OVERWRITE` — stage + swap (old live set removed, new
  *    added) as ONE transaction under the standard conflict matrix.
  *  - `SELECT ... WHERE ...` — plans through [[GraftScan]]: the
  *    pushed filters prune FILES against the log's typed stats and
  *    blooms ([[TxnLogFileIndex.keep]]) before any file is opened,
  *    deletion vectors are applied per file inside the readers, and
  *    at 100 TB planning stays metadata-only (the log names the
  *    files; no listing, no footer reads).
  *  - `DELETE FROM graft.db.t WHERE ...` — [[TxnLog.deleteWhere]]:
  *    deletion-vector bitmaps built in executors, no file rewritten.
  *  - `TRUNCATE TABLE` — one metadata commit removing the live set.
  *  - `SELECT ... VERSION AS OF 3` / `TIMESTAMP AS OF ...` — time
  *    travel via the catalog's versioned `loadTable`.
  *  - `ALTER TABLE ... RENAME COLUMN a TO b` — the column-mapping
  *    commit ([[TxnLog.renameColumn]]): zero files moved.
  *  - `ALTER TABLE ... SET TBLPROPERTIES('graft.constraint.c'='k >= 0')`
  *    — CHECK constraints managed as table properties.
  *  - `spark.readStream.table("graft.db.t")` — the change-feed
  *    micro-batch stream ([[TxnLogMicroBatchStream]]), un-stamped to
  *    the table's own schema; admission-control options pass through
  *    `readStream.option(...)`.
  *  - `df.writeStream.toTable("graft.db.t")` — exactly-once epoch
  *    commits through the txn ledger ([[GraftStreamingWrite]]), the
  *    write-side twin of the stream above.
  *  - `CREATE TABLE ... PARTITIONED BY (c)` — identity transforms
  *    over the point-stat recipe: inserts range-cluster by the
  *    partition columns, pruning reuses the typed-stats machinery.
  *  - `CALL graft.system.{checkpoint, vacuum, vacuum_staging,
  *    optimize_zorder, compact_deletes, compact_files, analyze}` —
  *    the maintenance lifecycle as SQL procedures
  *    ([[GraftProcedures]]).
  *  - `SELECT ... FROM graft.db.t.changes` / `.deletes` — the
  *    change-data feed with `startingVersion`/`endingVersion` read
  *    options ([[GraftFeedTable]]); `.history` / `.files` serve the
  *    metadata inventory.
  *  - `ALTER TABLE ... ALTER COLUMN c TYPE <wider>` — widening with
  *    era-aware reads and representation-sound stats.
  *  - `CALL graft.system.analyze(...)` records per-file HLL distinct
  *    sketches; scans then report column-level NDV/null counts to
  *    Catalyst, enabling CBO join reordering over catalog tables.
  *
  * Identifiers map to directories: `graft.db.t` lives at
  * `<warehouse>/db/t` (a table is any directory with a `_log`).
  * `RENAME TABLE` is unsupported by design: log records address data
  * files absolutely, so a rename would be a rewrite — the exact
  * operation this layer exists to avoid.
  *
  * Reference behavior: `spark_stream.py` + the DDL in `main.py`
  * re-expressed as a catalog — the reference creates tables and
  * queries them over JDBC; here the same DDL/DML surface plans
  * against the transaction log. Public recipe: Delta's catalog +
  * `DeltaTableV2` (Armbrust VLDB'20), re-derived on the V2
  * connector API.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: java.nio.file.Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
    warehouse = java.nio.file.Paths.get(w).toAbsolutePath.normalize()
  }

  override def name(): String = catalogName

  /** One path segment of an identifier — rejecting separators and
    * dot-dots keeps a hostile identifier inside the warehouse.
    */
  private def part(p: String): String = {
    require(p.nonEmpty && !p.contains("/") && !p.contains("\\") &&
      p != "." && p != ".." && !p.contains("\u0000"),
      s"illegal graft identifier part: '$p'")
    p
  }

  private def nsDir(ns: Array[String]): java.nio.file.Path =
    ns.foldLeft(warehouse)((d, p) => d.resolve(part(p)))

  private def tableRoot(ident: Identifier): String =
    nsDir(ident.namespace).resolve(part(ident.name)).toString

  private def isTable(root: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root, "_log"))

  /** [[org.apache.spark.sql.connector.catalog.FunctionCatalog]]: the
    * `bucket` transform as a loadable V2 function — what Spark's
    * storage-partitioned-join planner resolves a scan's reported
    * `KeyGroupedPartitioning(bucket(n, c))` against. The bound
    * function computes EXACTLY the write-side bucket id
    * ([[TxnLog.bucketOf]]: Murmur3 seed 42 over the canonical
    * long/string representation), so co-bucketed rows provably meet
    * in the same partition.
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    if (ident.name != "bucket")
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    GraftBucketFunction
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!java.nio.file.Files.isDirectory(dir))
      throw new NoSuchNamespaceException(namespace)
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala
      .filter(p => isTable(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val root = tableRoot(ident)
    if (isTable(root)) return new GraftTable(root, Long.MaxValue, timeTraveled = false)
    // metadata tables, the Iceberg recipe: `SELECT * FROM cat.db.t.history`
    // parses as namespace [db, t] + name "history" — when the
    // namespace path IS a table and the name is a known metadata
    // kind, serve the table's metadata as a relation
    if (GraftMetaTable.Kinds.contains(ident.name) && ident.namespace.nonEmpty) {
      val parent = nsDir(ident.namespace).toString
      if (isTable(parent)) return new GraftMetaTable(parent, ident.name)
    }
    // the change-data feed as SQL: `t.changes` / `t.deletes`, version
    // bounds via read options (startingVersion/endingVersion)
    if (GraftFeedTable.Kinds.contains(ident.name) && ident.namespace.nonEmpty) {
      val parent = nsDir(ident.namespace).toString
      if (isTable(parent)) return new GraftFeedTable(parent, ident.name)
    }
    // a branch as a WRITABLE table: `cat.db.t.branch_<name>` — every
    // DML/maintenance statement lands on the branch's own log,
    // invisible to main until CALL publish_branch (the Iceberg
    // branch-identifier spelling)
    if (ident.name.startsWith("branch_") && ident.namespace.nonEmpty) {
      val parent = nsDir(ident.namespace).toString
      val bname = ident.name.stripPrefix("branch_")
      if (isTable(parent) && TxnLog.isBranch(parent, bname))
        return new GraftTable(TxnLog.branchRoot(parent, bname),
          Long.MaxValue, timeTraveled = false)
    }
    throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF <v>`: pin the snapshot at commit `v`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = tableRoot(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val v =
      try version.toLong
      catch { case _: NumberFormatException =>
        // named refs: `VERSION AS OF 'tag'` pins the tagged snapshot;
        // `VERSION AS OF 'branch'` reads the branch's current state
        TxnLog.tagVersion(root, version) match {
          case Some(tv) => return new GraftTable(root, tv, timeTraveled = true)
          case None =>
            if (TxnLog.isBranch(root, version))
              return new GraftTable(TxnLog.branchRoot(root, version),
                Long.MaxValue, timeTraveled = false)
            throw new IllegalArgumentException(
              s"graft table versions are commit numbers or ref names; " +
                s"'$version' is neither")
        }
      }
    require(v >= 1L && v <= TxnLog.currentVersion(root),
      s"version $v out of range for $root (head ${TxnLog.currentVersion(root)})")
    new GraftTable(root, v, timeTraveled = true)
  }

  /** `TIMESTAMP AS OF <ts>`: the connector contract passes MICROS
    * since epoch; [[TxnLog.versionAsOf]] speaks millis.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = tableRoot(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    new GraftTable(root, TxnLog.versionAsOf(root, timestamp / 1000L),
      timeTraveled = true)
  }

  /** Column DEFAULTs are supported: Spark then encodes a column's
    * `DEFAULT <expr>` into the schema's field metadata
    * (`CURRENT_DEFAULT` for future inserts, `EXISTS_DEFAULT` — the
    * frozen fold — for rows that predate the column), the log stores
    * the schema verbatim, and the parquet readers fill missing
    * columns from `EXISTS_DEFAULT` — so old files yield the declared
    * default, not null, with zero rewrites.
    */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    Set(org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      // X-A89: GENERATED ALWAYS AS (expr) columns — the analyzer
      // validates determinism/typing at CREATE and ships the
      // expression in the field metadata; the log stores it verbatim
      // (schema JSON carries metadata), inserts COMPUTE omitted/null
      // values, and a synthetic CHECK `col <=> (expr)` makes every
      // write path — SQL INSERT, raw appends, DML post-images,
      // streaming epochs — honor the invariant or refuse
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      // X-A90: GENERATED ALWAYS AS IDENTITY — inserts allocate from
      // the table's own per-file stats (high-water mark is a
      // metadata-only MAX) and the commit conflicts with any
      // concurrent append, so two writers can never mint one value
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS).asJava

  /** The V2 `Column[]` overload is the one the analyzer actually
    * calls: generation expressions ride the Column objects, and the
    * default StructType bridge DROPS them — re-attach each as field
    * metadata (the key [[GraftTable.generatedColumns]] reads and the
    * log's schema JSON preserves) before the shared create path.
    */
  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val withGen = StructType(columns.map { c =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      Option(c.metadataInJSON()).foreach(j =>
        mb.withMetadata(org.apache.spark.sql.types.Metadata.fromJson(j)))
      Option(c.comment()).foreach(mb.putString("comment", _))
      // DEFAULT encodes under Spark's own keys, exactly like the
      // ADD COLUMN path: CURRENT_DEFAULT feeds INSERT resolution,
      // EXISTS_DEFAULT (frozen fold) serves pre-column files
      Option(c.defaultValue()).foreach { d =>
        val v = d.getValue
        require(v != null,
          s"graft: column ${c.name()} DEFAULT must fold to a constant " +
            s"(got ${Option(d.getSql).getOrElse(d.toString)})")
        val existsSql = ce.Literal(v.value, v.dataType).sql
        mb.putString("CURRENT_DEFAULT", Option(d.getSql).getOrElse(existsSql))
        mb.putString("EXISTS_DEFAULT", existsSql)
      }
      Option(c.generationExpression()).foreach(
        mb.putString("GENERATION_EXPRESSION", _))
      // identity spec under Spark's own metadata keys (DESCRIBE and
      // the schema JSON round-trip them)
      Option(c.identityColumnSpec()).foreach { i =>
        mb.putLong("identity.start", i.getStart)
        mb.putLong("identity.step", i.getStep)
        mb.putBoolean("identity.allowExplicitInsert", i.isAllowExplicitInsert)
      }
      org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable(), mb.build())
    })
    createTable(ident, withGen, partitions, properties)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val pcols = GraftTable.partitionTokens(partitions, schema)
    val root = tableRoot(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    // declared TBLPROPERTIES validate BEFORE anything lands: a CREATE
    // with a malformed property fails cleanly with no table created
    val policyProps = GraftTable.policyProps(properties).toSeq
    policyProps.foreach { case (k, v) => TxnLog.validateProperty(k, v) }
    val userChecks = GraftTable.constraintProps(properties)
    userChecks.foreach { case (n, e) => TxnLog.validateConstraint(n, e) }
    TxnLog.init(root)
    // generated columns enforce as CHECK constraints (null-safe
    // equality: never a NULL verdict), created atomically with the
    // table like every user CHECK
    val genChecks = GraftTable.generatedColumns(schema).map { case (c, e) =>
      (s"gen_$c", s"$c <=> ($e)")
    }
    // schema AND constraints in ONE record: there is no version at
    // which the table is visible but unconstrained (a concurrent
    // insert either precedes the create commit — and fails schema
    // resolution — or sees every declared constraint), and a crash
    // mid-CREATE leaves no half-constrained table.
    TxnLog.commit(root, "create", Nil, Nil, readVersion = 0L,
      txnId = s"create-table-a$uuid12",
      schemaId = TxnLog.schemaFingerprint(schema),
      physSchema = Some(schema),
      cadds = userChecks ++ genChecks,
      partitionBy = Some(pcols),
      // user TBLPROPERTIES ride the SAME record (r20, the padds fold):
      // declared policy (graft.autoCompact.*) is visible at the first
      // version the table exists — a crash can never leave a visible
      // table silently missing its declared configuration
      padds = policyProps)
    new GraftTable(root, Long.MaxValue, timeTraveled = false)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // `ALTER TABLE db.t.branch_<name> ...` evolves the BRANCH's log —
    // same resolution the read/write paths use
    val root = {
      val direct = tableRoot(ident)
      if (isTable(direct)) direct
      else if (ident.name.startsWith("branch_") && ident.namespace.nonEmpty) {
        val parent = nsDir(ident.namespace).toString
        val bname = ident.name.stripPrefix("branch_")
        if (isTable(parent) && TxnLog.isBranch(parent, bname))
          TxnLog.branchRoot(parent, bname)
        else throw new NoSuchTableException(ident)
      } else throw new NoSuchTableException(ident)
    }
    changes.foreach {
      case r: TableChange.RenameColumn =>
        // nested rename is refused LOUDLY, never silently mis-read:
        // the column mapping is flat (top-level physical identities),
        // and parquet binds struct leaves by name — a metadata-only
        // nested rename would read NULL from every pre-rename file
        require(r.fieldNames.length == 1,
          s"graft: nested fields do not rename " +
            s"(${r.fieldNames.mkString(".")}): the column mapping " +
            "addresses top-level columns only — ADD a fresh leaf and " +
            "rewrite, or rename the top-level column")
        TxnLog.renameColumn(root, r.fieldNames()(0), r.newName,
          txnId = s"sql-rename-a$uuid12")
      case p: TableChange.SetProperty if p.property.startsWith(GraftTable.ConstraintProp) =>
        TxnLog.setConstraint(root, p.property.stripPrefix(GraftTable.ConstraintProp),
          p.value, txnId = s"sql-constraint-a$uuid12")
      case p: TableChange.RemoveProperty if p.property.startsWith(GraftTable.ConstraintProp) =>
        TxnLog.dropConstraint(root, p.property.stripPrefix(GraftTable.ConstraintProp),
          txnId = s"sql-dropconstraint-a$uuid12")
      // X-A95: plain TBLPROPERTIES — one metadata commit each, the
      // policy store the streaming sinks' auto-compact reads
      // (`graft.autoCompact.minFiles` & co); folded like constraints,
      // checkpoint-persisted, surfaced by DESCRIBE EXTENDED
      case p: TableChange.SetProperty =>
        TxnLog.setTableProperty(root, p.property, p.value,
          txnId = s"sql-setprop-a$uuid12")
      case p: TableChange.RemoveProperty =>
        TxnLog.unsetTableProperty(root, p.property,
          txnId = s"sql-unsetprop-a$uuid12")
      // ADD/DROP COLUMN: one schema-evolve commit, zero files touched.
      // Old files serve the column's EXISTS_DEFAULT when one is
      // declared, else NULL (the scan's required schema simply
      // exceeds their footer); a dropped column's bytes stay in place
      // but leave every projection. A column added WITHOUT a default
      // must be nullable (old rows have no value to give); with a
      // non-null DEFAULT, NOT NULL adds soundly.
      // nested ADD (one level): `ALTER TABLE t ADD COLUMN s.x T` —
      // one schema-evolve commit, zero files touched; old rows serve
      // NULL for the new leaf (Spark's parquet reader clips missing
      // nested fields to null). Struct leaves get no fresh physical
      // identity (parquet binds them BY NAME), so a leaf name that
      // EVER existed in this struct is refused — re-binding it would
      // resurrect pre-drop bytes instead of the documented NULL.
      case a: TableChange.AddColumn if a.fieldNames.length == 2 =>
        val (topL, leaf) = (a.fieldNames()(0), a.fieldNames()(1))
        require(a.isNullable,
          s"graft: added nested field $topL.$leaf must be nullable — " +
            "existing rows have no value to give (nested DEFAULTs are " +
            "not supported)")
        val raw = TxnLog.rawTableSchema(root).getOrElse(throw new IllegalStateException(
          s"graft table at $root has no logged schema to evolve"))
        val physTop = TxnLog.columnMapping(root).getOrElse(topL, topL)
        require(raw.fieldNames.contains(physTop), s"graft: no column $topL")
        val idx = raw.fieldIndex(physTop)
        raw.fields(idx).dataType match {
          case st: StructType =>
            require(!st.fieldNames.contains(leaf),
              s"graft: field $topL.$leaf already exists")
            require(!leaf.contains('.'),
              s"graft: one level of struct nesting only: $topL.$leaf")
            require(!TxnLog.historicalNestedNames(root, physTop).contains(leaf),
              s"graft: nested field $topL.$leaf existed before — old files " +
                "may still hold bytes under that name (parquet binds nested " +
                "fields by name); re-add it under a fresh name or rewrite " +
                "the struct")
            val evolved = StructType(raw.fields.updated(idx,
              raw.fields(idx).copy(dataType = StructType(st.fields :+
                org.apache.spark.sql.types.StructField(leaf, a.dataType,
                  nullable = true)))))
            TxnLog.commit(root, "schema-evolve", Nil, Nil,
              readVersion = TxnLog.currentVersion(root),
              txnId = s"sql-addnested-a$uuid12",
              schemaId = TxnLog.schemaFingerprint(evolved),
              physSchema = Some(evolved))
          case other => throw new IllegalArgumentException(
            s"graft: $topL is ${other.simpleString}, not a struct")
        }
      // nested DROP (one level): metadata-only — the leaf leaves the
      // declared schema; its bytes stay in old files but leave every
      // projection (the scan reads only declared fields)
      case d: TableChange.DeleteColumn if d.fieldNames.length == 2 =>
        val (topL, leaf) = (d.fieldNames()(0), d.fieldNames()(1))
        val raw = TxnLog.rawTableSchema(root).getOrElse(throw new IllegalStateException(
          s"graft table at $root has no logged schema to evolve"))
        val physTop = TxnLog.columnMapping(root).getOrElse(topL, topL)
        require(raw.fieldNames.contains(physTop), s"graft: no column $topL")
        val idx = raw.fieldIndex(physTop)
        raw.fields(idx).dataType match {
          case st: StructType =>
            require(st.fieldNames.contains(leaf),
              s"graft: no field $topL.$leaf to drop")
            require(st.fields.length > 1,
              s"graft: cannot drop struct $topL's last field — drop the column")
            val evolved = StructType(raw.fields.updated(idx,
              raw.fields(idx).copy(dataType =
                StructType(st.fields.filterNot(_.name == leaf)))))
            TxnLog.commit(root, "schema-evolve", Nil, Nil,
              readVersion = TxnLog.currentVersion(root),
              txnId = s"sql-dropnested-a$uuid12",
              schemaId = TxnLog.schemaFingerprint(evolved),
              physSchema = Some(evolved))
          case other => throw new IllegalArgumentException(
            s"graft: $topL is ${other.simpleString}, not a struct")
        }
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"graft: only top-level columns add: ${a.fieldNames.mkString(".")}")
        val dv = Option(a.defaultValue())
        require(a.isNullable || dv.exists(d =>
            d.getValue != null && d.getValue.value != null),
          s"graft: added NOT NULL column ${a.fieldNames()(0)} needs a " +
            "non-null DEFAULT — existing rows have no value to give")
        val raw = TxnLog.rawTableSchema(root).getOrElse(throw new IllegalStateException(
          s"graft table at $root has no logged schema to evolve"))
        val nm = a.fieldNames()(0)
        val mapping = TxnLog.columnMapping(root)
        val p2l = mapping.map(_.swap)
        // collision is on LOGICAL names (what queries see); a physical
        // field that currently surfaces under a rename is free
        val logicalNow = raw.fieldNames.map(f => p2l.getOrElse(f, f)).toSet
        require(!logicalNow.contains(nm) && !mapping.contains(nm),
          s"graft: column $nm already exists")
        // fresh PHYSICAL identity when the name was EVER a physical
        // column (the Delta column-mapping recipe): old files may
        // still hold bytes under it, and re-binding would resurrect
        // pre-drop values instead of the documented NULL
        val used = TxnLog.historicalPhysicalNames(root) ++
          raw.fieldNames ++ mapping.values
        val phys =
          if (!used.contains(nm)) nm
          else Iterator.continually(s"${nm}_$uuid12").dropWhile(used.contains).next()
        // DEFAULT rides the field metadata (Spark's own keys):
        // CURRENT_DEFAULT feeds future INSERT resolution,
        // EXISTS_DEFAULT — the constant the declaration folds to,
        // FROZEN here — is what readers substitute for files that
        // predate the column
        val meta = dv.map { d =>
          val v = d.getValue
          require(v != null,
            s"graft: ADD COLUMN DEFAULT must fold to a constant " +
              s"(got ${Option(d.getSql).getOrElse(d.toString)})")
          val existsSql = ce.Literal(v.value, v.dataType).sql
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", Option(d.getSql).getOrElse(existsSql))
            .putString("EXISTS_DEFAULT", existsSql)
            .build()
        }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
        val evolved = StructType(raw.fields :+
          org.apache.spark.sql.types.StructField(phys, a.dataType,
            nullable = a.isNullable, metadata = meta))
        // ONE commit: the evolved schema and (when fresh) the
        // logical->physical mapping publish atomically
        TxnLog.commit(root, "schema-evolve", Nil, Nil,
          readVersion = TxnLog.currentVersion(root), txnId = s"sql-addcol-a$uuid12",
          schemaId = TxnLog.schemaFingerprint(evolved),
          physSchema = Some(evolved),
          rename = Option.when(phys != nm)(phys -> nm))
      // SET / DROP NOT NULL: a metadata commit; SET first proves the
      // live rows are null-free (stats fast path, else one probe)
      case nl: TableChange.UpdateColumnNullability =>
        require(nl.fieldNames.length == 1,
          s"graft: only top-level columns alter: ${nl.fieldNames.mkString(".")}")
        TxnLog.setColumnNullability(SparkSession.active, root,
          nl.fieldNames()(0), nl.nullable(),
          txnId = s"sql-nullability-a$uuid12")
        ()
      // SET / DROP DEFAULT: updates CURRENT_DEFAULT only —
      // EXISTS_DEFAULT stays frozen at ADD time (rows written before
      // this statement keep reading the value that was promised then)
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames.length == 1,
          s"graft: only top-level columns alter: ${ud.fieldNames.mkString(".")}")
        val raw = TxnLog.rawTableSchema(root).getOrElse(throw new IllegalStateException(
          s"graft table at $root has no logged schema to evolve"))
        val phys = TxnLog.columnMapping(root)
          .getOrElse(ud.fieldNames()(0), ud.fieldNames()(0))
        require(raw.fieldNames.contains(phys),
          s"graft: no column ${ud.fieldNames()(0)}")
        val idx = raw.fieldIndex(phys)
        val f = raw.fields(idx)
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        val newSql = Option(ud.newCurrentDefault()).map(_.getSql)
          .orElse(Option(ud.newDefaultValue())).filter(s0 => s0 != null && s0.nonEmpty)
        newSql match {
          case Some(sqlText) => mb.putString("CURRENT_DEFAULT", sqlText)
          case None          => mb.remove("CURRENT_DEFAULT")
        }
        val evolved = StructType(raw.fields.updated(idx,
          f.copy(metadata = mb.build())))
        TxnLog.commit(root, "schema-evolve", Nil, Nil,
          readVersion = TxnLog.currentVersion(root),
          txnId = s"sql-setdefault-a$uuid12",
          schemaId = TxnLog.schemaFingerprint(evolved),
          physSchema = Some(evolved))
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"graft: only top-level columns drop: ${d.fieldNames.mkString(".")}")
        val raw = TxnLog.rawTableSchema(root).getOrElse(throw new IllegalStateException(
          s"graft table at $root has no logged schema to evolve"))
        val phys = TxnLog.columnMapping(root).getOrElse(d.fieldNames()(0), d.fieldNames()(0))
        require(raw.fieldNames.contains(phys),
          s"graft: no column ${d.fieldNames()(0)} to drop")
        val evolved = StructType(raw.fields.filterNot(_.name == phys))
        require(evolved.nonEmpty, "graft: cannot drop a table's last column")
        TxnLog.commit(root, "schema-evolve", Nil, Nil,
          readVersion = TxnLog.currentVersion(root), txnId = s"sql-dropcol-a$uuid12",
          schemaId = TxnLog.schemaFingerprint(evolved),
          physSchema = Some(evolved))
      // ALTER COLUMN c TYPE <wider>: one metadata commit; old files
      // read through the widened schema (Spark's parquet readers
      // up-convert int32->int64 and float->double), and typed stats
      // stay SOUND by construction — integral stats are stored as
      // long ranges (`typ "l"`) and float stats as double strings
      // (`typ "f"`) for every width, so a widened predicate compares
      // in the representation the old stats already use.
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          s"graft: only top-level columns widen: ${u.fieldNames.mkString(".")}")
        val raw = TxnLog.rawTableSchema(root).getOrElse(throw new IllegalStateException(
          s"graft table at $root has no logged schema to evolve"))
        val phys = TxnLog.columnMapping(root).getOrElse(u.fieldNames()(0), u.fieldNames()(0))
        val idx = raw.fieldIndex(phys)
        val old = raw.fields(idx).dataType
        require(GraftTable.widens(old, u.newDataType),
          s"graft: ALTER COLUMN TYPE supports WIDENING only " +
            s"(${old.simpleString} -> ${u.newDataType.simpleString} is not); " +
            "a narrowing or cross-family change would mis-read existing files")
        val evolved = StructType(raw.fields.updated(idx,
          raw.fields(idx).copy(dataType = u.newDataType)))
        TxnLog.commit(root, "schema-evolve", Nil, Nil,
          readVersion = TxnLog.currentVersion(root), txnId = s"sql-widen-a$uuid12",
          schemaId = TxnLog.schemaFingerprint(evolved),
          physSchema = Some(evolved))
      case c =>
        throw new UnsupportedOperationException(s"graft: unsupported ALTER TABLE change: $c")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = tableRoot(ident)
    if (!isTable(root)) return false
    // a shallow clone releases its source-side vacuum pin on drop
    // (best-effort: the source may itself be gone already)
    TxnLog.cloneSourcePin(root).foreach { case (src, pin) =>
      try TxnLog.dropRef(src, pin)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    TxnLog.deleteRecursively(java.nio.file.Paths.get(root))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft: RENAME TABLE is a physical move (log records address data files " +
        "absolutely); copy via CREATE TABLE + INSERT instead")

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----
  //
  // CREATE TABLE ... AS SELECT stages its data files into the (not
  // yet existing) table's data directory WITHOUT a _log — invisible
  // to every reader — and publishes init + ONE commit at
  // commitStagedChanges: a crashed CTAS leaves no table, only orphan
  // staging bytes. REPLACE TABLE ... AS SELECT stages into the LIVE
  // table's normal staging area and publishes one `schema-evolve`
  // commit swapping the live set (old snapshots keep time-traveling;
  // a crashed RTAS leaves the old table untouched and its orphans to
  // `vacuumStaging`).

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
    : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = tableRoot(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    new StagedGraftTable(root, schema, replaceExisting = false,
      GraftTable.constraintProps(properties),
      GraftTable.partitionTokens(partitions, schema),
      GraftTable.policyProps(properties))
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
    : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = tableRoot(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    new StagedGraftTable(root, schema, replaceExisting = true,
      GraftTable.constraintProps(properties),
      GraftTable.partitionTokens(partitions, schema),
      GraftTable.policyProps(properties))
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
    : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = tableRoot(ident)
    new StagedGraftTable(root, schema, replaceExisting = isTable(root),
      GraftTable.constraintProps(properties),
      GraftTable.partitionTokens(partitions, schema),
      GraftTable.policyProps(properties))
  }

  // ---- namespaces: directories without a _log ----

  override def listNamespaces(): Array[Array[String]] = {
    if (!java.nio.file.Files.isDirectory(warehouse)) return Array.empty
    val s = java.nio.file.Files.list(warehouse)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) && !isTable(p.toString))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!java.nio.file.Files.isDirectory(nsDir(namespace)))
      throw new NoSuchNamespaceException(namespace)
    Array.empty // one level of namespaces is plenty for a path catalog
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (namespace.nonEmpty && !java.nio.file.Files.isDirectory(nsDir(namespace)))
      throw new NoSuchNamespaceException(namespace)
    Map("location" -> nsDir(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val dir = nsDir(namespace)
    if (java.nio.file.Files.isDirectory(dir))
      throw new NamespaceAlreadyExistsException(namespace)
    java.nio.file.Files.createDirectories(dir)
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft: namespaces carry no metadata")

  // ---- maintenance procedures: CALL graft.system.<verb>(...) ----

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.Names.map(n =>
        Identifier.of(GraftProcedures.Namespace, n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
    : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace.sameElements(GraftProcedures.Namespace) ||
        !GraftProcedures.Names.contains(ident.name))
      throw new UnsupportedOperationException(
        s"graft: no procedure $ident (have: system.${GraftProcedures.Names.mkString(", system.")})")
    // the `table` argument ('db.t') resolves through the same
    // identifier hygiene as every table lookup — never a raw path
    GraftProcedures.load(ident.name, { table =>
      val parts = table.split("[.]")
      val r = tableRoot(Identifier.of(parts.init, parts.last))
      require(isTable(r), s"graft: no table $table in this warehouse")
      r
    }, { table =>
      // a NOT-YET-EXISTING table (clone's target): same identifier
      // hygiene, existence refused instead of required
      val parts = table.split("[.]")
      val r = tableRoot(Identifier.of(parts.init, parts.last))
      require(!java.nio.file.Files.exists(java.nio.file.Paths.get(r)),
        s"graft: table $table already exists")
      r
    })
  }

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!java.nio.file.Files.isDirectory(dir)) return false
    if (!cascade) {
      val s = java.nio.file.Files.list(dir)
      val nonEmpty = try s.findFirst().isPresent finally s.close()
      if (nonEmpty) throw new NonEmptyNamespaceException(namespace)
    }
    TxnLog.deleteRecursively(dir)
    true
  }
}

private[sources] object GraftTable {
  val ConstraintProp = "graft.constraint."

  /** A column name as a backquoted identifier: the V2 reference
    * parser (`Expressions.column`, `identity`, `bucket`, …) then
    * keeps `first name`, `a,b` or `-` as one column.
    */
  def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** The CHECK constraints among a DDL statement's table properties,
    * as (name, expr) pairs for [[TxnLog.commit]]'s `cadds`. Other
    * properties (location/comment/provider) are warehouse-managed and
    * ignored.
    */
  /** `PARTITIONED BY (c, bucket(n, c2), ...)` — IDENTITY and BUCKET
    * transforms, both mapped to the log's point-stat recipe (X-A38):
    * an identity column is a stat column whose per-file range
    * collapses toward a point; a bucket is a DERIVED point stat
    * (`pmod(hash(c), n)` collapses per file when the writer clusters
    * by it), so equality predicates prune to one bucket with zero new
    * reader physics. Writers cluster inserts accordingly
    * ([[insertInto]]); days/hours/etc. transforms are rejected (no
    * hive directory layout to serve them).
    */
  def partitionTokens(partitions: Array[Transform],
                      schema: StructType): Seq[String] =
    partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        val c = t.references()(0).fieldNames()(0)
        require(schema.fieldNames.contains(c),
          s"graft: PARTITIONED BY column $c is not in the schema")
        c
      case t if t.name == "bucket" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        val c = t.references()(0).fieldNames()(0)
        require(schema.fieldNames.contains(c),
          s"graft: PARTITIONED BY bucket column $c is not in the schema")
        require(TxnLog.bucketableType(schema(c).dataType),
          s"graft: bucket transform needs an integral/string/date/timestamp " +
            s"column, got $c: ${schema(c).dataType.simpleString}")
        val n = t.arguments.collectFirst {
          case l: V2Literal[_] => l.value.toString.toInt
        }.getOrElse(throw new UnsupportedOperationException(
          s"graft: bucket transform without a literal bucket count: $t"))
        require(n > 0, s"graft: bucket count must be positive, got $n")
        TxnLog.bucketStatKey(n, c)
      case t if Seq("years", "months", "days", "hours").contains(t.name) &&
          t.references.length == 1 && t.references()(0).fieldNames.length == 1 =>
        val c = t.references()(0).fieldNames()(0)
        require(schema.fieldNames.contains(c),
          s"graft: PARTITIONED BY ${t.name} column $c is not in the schema")
        require(TxnLog.temporalableType(t.name, schema(c).dataType),
          s"graft: ${t.name} transform needs a timestamp" +
            (if (t.name == "hours") "" else "/date") +
            s" column, got $c: ${schema(c).dataType.simpleString}")
        TxnLog.temporalToken(t.name, c)
      case t => throw new UnsupportedOperationException(
        s"graft: only identity, bucket and years/months/days/hours " +
          s"partition transforms are supported, got $t (per-file typed " +
          "stats subsume hive-style partitioning)")
    }

  def constraintProps(properties: util.Map[String, String]): Seq[(String, String)] =
    properties.asScala.toSeq.collect {
      case (k, v) if k.startsWith(ConstraintProp) =>
        (k.stripPrefix(ConstraintProp), v)
    }.sortBy(_._1)

  /** Keys Spark's DDL layer injects into every CREATE's property map
    * (provider, location, …) — catalog bookkeeping, not table policy;
    * never persisted to the log's TBLPROPERTIES fold.
    */
  private val ReservedProps = Set(
    "provider", "location", "comment", "owner", "external",
    "is_managed_location")

  /** The user's OWN `TBLPROPERTIES` at CREATE time (X-A95, r19):
    * everything that is neither a CHECK-constraint spelling (those
    * land as `cadds` in the create record itself) nor Spark's
    * reserved bookkeeping. Persisted right after the create commit so
    * a policy declared at CREATE (`graft.autoCompact.*`) actually
    * takes effect — previously these were silently dropped. An empty
    * key or value rejects loudly ([[TxnLog.validateProperty]]).
    */
  def policyProps(properties: util.Map[String, String]): Seq[(String, String)] =
    properties.asScala.toSeq.filterNot { case (k, _) =>
      k.startsWith(ConstraintProp) || ReservedProps.contains(k) ||
        k.startsWith("option.")
    }.sortBy(_._1)

  /** GENERATED ALWAYS AS columns declared on the schema, as
    * (column, generation-expression SQL) — the analyzer validated
    * determinism and type agreement at CREATE and ships the text in
    * the field metadata, which the log's schema preserves verbatim
    * (schema JSON carries metadata), so the declaration
    * round-trips through the log with zero extra machinery.
    */
  def generatedColumns(schema: StructType): Seq[(String, String)] = {
    val Key = "GENERATION_EXPRESSION"
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(Key) => (f.name, f.metadata.getString(Key))
    }
  }

  /** One GENERATED ... AS IDENTITY declaration. */
  case class IdentitySpec(col: String, start: Long, step: Long,
                          allowExplicit: Boolean)

  /** Identity columns declared on the schema (Spark's own metadata
    * keys, written by [[GraftCatalog.createTable]]'s Column[] overload
    * and preserved by the log's schema JSON).
    */
  def identityColumns(schema: StructType): Seq[IdentitySpec] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains("identity.start") =>
        IdentitySpec(f.name, f.metadata.getLong("identity.start"),
          f.metadata.getLong("identity.step"),
          f.metadata.contains("identity.allowExplicitInsert") &&
            f.metadata.getBoolean("identity.allowExplicitInsert"))
    }

  /** The `_file` metadata column: the data file each row came from —
    * standard lakehouse observability (`SELECT _file, count(*) ...`)
    * and the metadata attribute the row-level operations require.
    */
  val FileMetaCol = "_file"

  /** The `_pos` metadata column: the row's physical index within its
    * file (parquet scan order — the coordinate deletion vectors
    * address). `(_file, _pos)` is the ROW ID of the merge-on-read
    * operations ([[GraftDeltaOperation]]).
    */
  val PosMetaCol = "_pos"
  val RowIdMetaCol = "_row_id"

  /** The table's LOGICAL schema at `version`: the logged schema with
    * column mapping applied, footer-merge fallback for tables written
    * through the raw commit API before any schema-bearing commit.
    */
  def logicalSchema(s: SparkSession, root: String, version: Long): StructType =
    TxnLog.tableSchema(root, version).getOrElse {
      val files = TxnLog.snapshotFiles(root, version)
      require(files.nonEmpty,
        s"graft table at $root has neither a logged schema nor data files")
      val p2l = TxnLog.columnMapping(root, version).map(_.swap)
      val inferred = s.read.option("mergeSchema", "true").parquet(files: _*).schema
      StructType(inferred.fields
        .filterNot(_.name == TxnLog.RowIdPhysCol) // internal id column
        .map(f => f.copy(name = p2l.getOrElse(f.name, f.name))))
    }

  /** The INSERT path: constraints checked first (nothing publishes on
    * violation), data staged under PHYSICAL names with typed per-file
    * stats for every primitive column, then ONE commit — an append
    * (readVersion 0: never conflicts, retries only the CAS) or an
    * overwrite (old live set removed at the read version: a
    * concurrent rewrite aborts it through the standard matrix).
    */
  def insertInto(root: String, data: DataFrame, overwrite: Boolean): Unit = {
    val s = data.sparkSession
    // GENERATED ALWAYS AS columns: compute omitted/null values from
    // the declared expression (logical names — exactly the CREATE
    // statement's terms); a SUPPLIED non-null value must agree, which
    // the synthetic gen_<col> CHECK then proves in the same pass as
    // every other constraint
    val schema = TxnLog.tableSchema(root).getOrElse(data.schema)
    val withGen = generatedColumns(schema)
      .foldLeft(data) { case (d, (c, e)) =>
        import org.apache.spark.sql.functions.{coalesce, col, expr}
        if (!d.columns.contains(c)) d.withColumn(c, expr(e))
        else d.withColumn(c, coalesce(col(c), expr(e)))
      }
    val idents = identityColumns(schema)
    if (idents.isEmpty) insertPrepared(root, withGen, overwrite)
    else insertWithIdentity(root, schema, withGen, overwrite, idents)
  }

  /** X-A90: IDENTITY allocation — optimistic and exactly-once. The
    * high-water mark is a METADATA-only extreme over the live files'
    * typed stats (scan fallback only for stat-less raw-API files);
    * null/omitted values fill `hwm + step, hwm + 2·step, …` in
    * deterministic column order (identical input multisets always
    * mint the same value SET — the cur_assign_ids discipline, so even
    * identity values are oracle-checkable); and the commit runs under
    * `failOnConcurrentAppend`, so a concurrent insert that might have
    * minted the same range CONFLICTS — the loser deletes its staged
    * files, re-reads the mark and re-stages. Uniqueness is guaranteed
    * transactionally, not by luck; monotonic per commit, gaps allowed
    * (the standard identity contract).
    */
  private def insertWithIdentity(root: String, schema: StructType,
                                 data0: DataFrame, overwrite: Boolean,
                                 idents: Seq[IdentitySpec]): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    // The input is consumed several times (explicit-value gate, the
    // extreme aggregate, and the null/non-null split) — pin it once so
    // a non-deterministic source query cannot send a row down both or
    // neither branch and desync the minted ids.
    val data = data0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    idents.foreach { is =>
      if (!is.allowExplicit && data.columns.contains(is.col)) {
        val supplied = data.filter(col(is.col).isNotNull).limit(1)
        require(supplied.isEmpty,
          s"graft: identity column ${is.col} is GENERATED ALWAYS — " +
            "explicit values are not allowed (declare GENERATED BY DEFAULT)")
      }
    }
    val renames = TxnLog.columnMapping(root)
    var attempts = 0
    while (true) {
      val readV = TxnLog.currentVersion(root)
      val filled = idents.foldLeft(data) { (d, is) =>
        def beyond(a: Long, b: Long): Long =
          if (is.step > 0) math.max(a, b) else math.min(a, b)
        // the mark to clear: the table's live extreme (metadata-only;
        // an OVERWRITE truncates it away) combined with the BATCH's
        // own explicit values — minted ids must clear both
        val tableExtreme =
          if (overwrite) None
          else TxnLog.columnExtremeLong(d.sparkSession, root,
            renames.getOrElse(is.col, is.col), readV, maximize = is.step > 0)
        val explicitExtreme =
          if (!d.columns.contains(is.col)) None
          else {
            import org.apache.spark.sql.functions.{max => fmax, min => fmin}
            val agg = if (is.step > 0) fmax(col(is.col)) else fmin(col(is.col))
            d.agg(agg).head().get(0) match {
              case n: Number => Some(n.longValue)
              case _         => None
            }
          }
        val next = (tableExtreme.toSeq ++ explicitExtreme.toSeq)
          .reduceOption(beyond)
          .map(m => beyond(is.start, m + is.step))
          .getOrElse(is.start)
        val orderCols = d.columns.toIndexedSeq.filterNot(_ == is.col).map(col)
        val dt = schema(is.col).dataType
        def minted(nulls: DataFrame) = graft.operators.RelationalOps
          .globalRowNumber(nulls, orderCols, "__rid")
          .withColumn(is.col,
            (lit(next) + (col("__rid") - 1L) * lit(is.step)).cast(dt))
          .drop("__rid")
        if (!d.columns.contains(is.col)) minted(d)
        else d.filter(col(is.col).isNotNull)
          .unionByName(minted(d.filter(col(is.col).isNull).drop(is.col))
            .select(d.columns.toIndexedSeq.map(col): _*))
      }
      // The guarded commit must observe THIS readV — the version the
      // high-water mark was read at. Letting insertPrepared re-read
      // currentVersion would open a window (spanning the constraint
      // scan) where a concurrent identity insert commits invisibly to
      // failOnConcurrentAppend and two writers mint the same ids.
      try { insertPrepared(root, filled, overwrite,
        guardAppends = !overwrite,
        hwmReadV = if (overwrite) None else Some(readV)); return }
      catch {
        case _: TxnLog.ConflictException if attempts < 8 => attempts += 1
      }
    }
    } finally data.unpersist()
  }

  private def insertPrepared(root: String, data: DataFrame,
                             overwrite: Boolean,
                             guardAppends: Boolean = false,
                             hwmReadV: Option[Long] = None): Unit = {
    val s = data.sparkSession
    TxnLog.checkConstraints(s, root, data)
    val readV = hwmReadV.getOrElse(TxnLog.currentVersion(root))
    val phys0 = TxnLog.toPhysical(data, TxnLog.columnMapping(root, readV))
    // declared partitioning: RANGE-cluster by the partition columns,
    // explicit count (exempt from AQE partition coalescing) — each
    // staged file holds one value or a contiguous run, so ranges
    // collapse and partition predicates prune; multi-value files stay
    // SOUND (their wider range simply keeps them). The V1 insert
    // bridge does not apply the write's requiredDistribution (that
    // path serves writeStream.toTable), so the batch path clusters
    // here.
    val pfields = TxnLog.partitionFields(root, readV)
      .filter(f => phys0.columns.contains(f.col))
    // identity columns range-cluster; a bucket transform hash-routes
    // each row to its own bucket's partition, so each staged file
    // holds one bucket and its derived stat collapses to a point
    val phys = TxnLog.clusterByPartitioning(phys0, pfields, TxnLog.writePartitions(s))
    val txnId = s"sql-write-a$uuid12"
    val (files, multi) = stageFiles(phys, root, txnId, pfields)
    // guarded appends (identity allocation): the commit must observe
    // the readVersion the high-water mark was read at and CONFLICT
    // with any concurrent append — the staged files are deleted so a
    // retry re-stages clean
    try TxnLog.commit(root, if (overwrite) "overwrite" else "append",
      added = files,
      removed = if (overwrite) TxnLog.snapshotFiles(root, readV) else Nil,
      readVersion = if (overwrite || guardAppends) readV else 0L,
      txnId = txnId, multiStats = multi,
      schemaId = TxnLog.schemaFingerprint(phys.schema),
      physSchema = declareSchema(root, phys.schema),
      failOnConcurrentAppend = guardAppends)
    catch {
      case e: TxnLog.ConflictException =>
        files.foreach(f =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f)))
        throw e
    }
    ()
  }

  /** Predicate-scoped atomic overwrite — Delta's `replaceWhere` /
    * `INSERT OVERWRITE t PARTITION (p = v)` / `writeTo(t).overwrite
    * (cond)`: ONE commit deletes every live row matching the
    * condition and lands the incoming data. The 100 TB shape is the
    * triage: files the typed stats prove DISJOINT from the condition
    * are never opened, files WHOLLY inside it are removed as
    * metadata, only straddling files pay a row-level scan — and those
    * carry deletion vectors, not rewrites. The incoming rows must all
    * satisfy the condition (the public replaceWhere contract — rows
    * outside it would silently survive the very predicate that claims
    * to own them); a condition with an untranslatable filter refuses
    * loudly rather than over- or under-deleting.
    */
  def replaceWhere(root: String, data: DataFrame,
                   filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, not}
    val s = data.sparkSession
    val cond = filters.toSeq.map { f =>
      GraftFilters.toColumn(f).getOrElse(throw new UnsupportedOperationException(
        s"graft: replaceWhere condition not expressible: $f"))
    }.reduceOption(_ && _).getOrElse(lit(true))
    // contract: every incoming row satisfies the condition (a NULL
    // verdict is a violation too — such a row would neither replace
    // nor be replaceable)
    val stray = data.filter(not(coalesce(cond, lit(false)))).limit(1)
    require(stray.isEmpty,
      s"graft: replaceWhere data contains rows NOT matching the overwrite " +
        s"condition [${filters.mkString(", ")}] — rows outside the predicate " +
        "belong in a plain INSERT")
    TxnLog.checkConstraints(s, root, data)
    val readV = TxnLog.currentVersion(root)
    val renames = TxnLog.columnMapping(root, readV)
    val state = TxnLog.snapshotState(root, readV)
    // stat triage: only files the condition can touch pay the scan
    val exprs = filters.toSeq.flatMap(
      GraftFilters.toCatalyst(_, logicalSchema(s, root, readV), renames))
    val idx = new TxnLogFileIndex(s, root, state)
    val scanState =
      if (exprs.isEmpty) state
      else state.filter { case (_, m) => idx.keep(m, exprs) }
    val (dead, dvFiles, dvs) =
      TxnLog.replaceDeletes(s, root, cond, scanState, renames)
    // stage the incoming data exactly like insertInto
    val phys0 = TxnLog.toPhysical(data, renames)
    val pfields = TxnLog.partitionFields(root, readV)
      .filter(f => phys0.columns.contains(f.col))
    val phys = TxnLog.clusterByPartitioning(phys0, pfields, TxnLog.writePartitions(s))
    val txnId = s"sql-replace-a$uuid12"
    val (files, multi) = stageFiles(phys, root, txnId, pfields)
    if (files.isEmpty && dead.isEmpty && dvFiles.isEmpty) return // no-op
    TxnLog.commit(root, "replace-where",
      added = files, removed = dead,
      readVersion = readV, txnId = txnId, multiStats = multi,
      schemaId = TxnLog.schemaFingerprint(phys.schema),
      physSchema = declareSchema(root, phys.schema),
      dvFiles = dvFiles, dvs = dvs)
    ()
  }

  /** The schema a WRITE should declare: None when the log already
    * declares a schema — an append must never REDEFINE the table's
    * schema (the write query's nullability is an artifact of the
    * statement: `VALUES`/`range` rows are non-nullable, and letting
    * the last insert win would flip the declared nullability back
    * and forth, breaking codegen over pre-evolution files that
    * legitimately serve NULL). Only schema-bearing DDL (CREATE,
    * ALTER, RTAS) and the first write of a raw-API table set it.
    */
  private[sources] def declareSchema(root: String,
                                     sch: StructType): Option[StructType] =
    if (TxnLog.rawTableSchema(root).isDefined) None else Some(sch)

  /** Safe type WIDENINGS for ALTER COLUMN TYPE: within the integral
    * family upward, and float->double. Every pair here is one Spark's
    * parquet readers up-convert at scan time AND whose typed per-file
    * stats keep the same representation (longs for integrals, doubles
    * for floats), so pre-widen stats keep pruning soundly.
    */
  def widens(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    (intRank.contains(from) && intRank.contains(to) &&
      intRank(from) < intRank(to)) ||
      (from == FloatType && to == DoubleType)
  }

  /** Types [[TxnLog.statsForStaged]] records a typed range for. */
  private[sources] def statable(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.DoubleType => true
    case _ => false
  }

  /** The ONE stat decision for a staged table file: every
    * [[statPaths]] column of `schema`, plus a derived `bucket(N;c)`
    * stat per bucket transform of `partitioning` whose column the
    * schema carries — so inserted, streamed and DML post-image files
    * all keep bucket pruning. (Layout rewrites and the keyed merge
    * paths in [[TxnLog]] record their own sets.)
    */
  private def stagedStats(schema: StructType, partitioning: Seq[TxnLog.PartField])
    : (Seq[String], Seq[(Int, String)]) =
    (statPaths(schema), partitioning.collect {
      case TxnLog.BucketField(n, c) if schema.fieldNames.contains(c) => (n, c)
    })

  /** Stage `df` under `data/<dir>` with its [[stagedStats]], aligned
    * with the returned files (Nil when there is nothing to record).
    */
  private[sources] def stageFiles(df: DataFrame, root: String, dir: String,
                                  partitioning: Seq[TxnLog.PartField])
    : (Seq[String], Seq[Map[String, TxnLog.FileStat]]) = {
    val (cols, buckets) = stagedStats(df.schema, partitioning)
    if (cols.isEmpty && buckets.isEmpty) (TxnLog.stage(df, root, dir), Nil)
    else TxnLog.stageWithStatsFor(df, root, dir, cols, buckets)
  }

  /** [[stagedStats]] over `files` that executors already wrote under
    * `data/<dir>` with `schema`, aligned with `files`.
    */
  private[sources] def statsForWritten(s: SparkSession, root: String, dir: String,
                                       schema: StructType, files: Seq[String],
                                       partitioning: Seq[TxnLog.PartField])
    : Seq[Map[String, TxnLog.FileStat]] = {
    val (cols, buckets) = stagedStats(schema, partitioning)
    if (files.isEmpty || (cols.isEmpty && buckets.isEmpty)) Nil
    else TxnLog.statsForStaged(s, root, dir, cols, files, buckets)
  }

  /** The stat-column PATHS a write collects: every statable top-level
    * column plus one-level struct LEAVES as dotted paths (`s.x`) —
    * per-file typed stats on struct leaves are what let a dotted
    * predicate prune files (the public Delta recipe collects nested
    * leaf min/max the same way). Dotted keys ride the existing stat
    * grammar unchanged (a dot is separator-free); a field name that
    * itself contains a dot is skipped — its path would be ambiguous
    * with a genuine nested one.
    */
  private[sources] def statPaths(schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.toSeq.filterNot(_.name == TxnLog.RowIdPhysCol).flatMap { f =>
      f.dataType match {
        case _ if statable(f.dataType) =>
          if (f.name.contains('.')) Nil else Seq(f.name)
        case st: org.apache.spark.sql.types.StructType if !f.name.contains('.') =>
          st.fields.toSeq.collect {
            case g if statable(g.dataType) && !g.name.contains('.') =>
              s"${f.name}.${g.name}"
          }
        case _ => Nil
      }
    }
}

/** One [[TxnLog]] table through the V2 connector API. `version` pins
  * the snapshot for time travel (`timeTraveled` tables are read-only
  * and take no stream).
  */
class GraftTable(val root: String, version: Long, timeTraveled: Boolean)
  extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftTable.FileMetaCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file path of the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftTable.PosMetaCol
        override def dataType(): DataType = org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String = "row index within the data file (parquet scan order)"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftTable.RowIdMetaCol
        override def dataType(): DataType = org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = true
        override def comment(): String =
          "stable row id (X-A96): materialized through rewrites, else base + row index; " +
            "null for files committed without row counts"
      })

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"graft:$root" +
    (if (timeTraveled) s"@v$version" else "")

  /** DESCRIBE surfaces the declared partitioning (identity and bucket
    * transforms, LOGICAL names as of this version).
    */
  override def partitioning(): Array[Transform] = {
    val p2l = TxnLog.columnMapping(root, version).map(_.swap)
    def ref(c: String) = GraftTable.quoted(p2l.getOrElse(c, c))
    TxnLog.partitionFields(root, version).map[Transform] {
      case TxnLog.IdentityField(c)  => Expressions.identity(ref(c))
      case TxnLog.BucketField(n, c) => Expressions.bucket(n, ref(c))
      case TxnLog.TemporalField(u, c) =>
        u match {
          case "years"  => Expressions.years(ref(c))
          case "months" => Expressions.months(ref(c))
          case "days"   => Expressions.days(ref(c))
          case _        => Expressions.hours(ref(c))
        }
    }.toArray
  }

  override lazy val schema: StructType =
    GraftTable.logicalSchema(spark, root, version)

  override def capabilities(): util.Set[TableCapability] =
    if (timeTraveled) Set(TableCapability.BATCH_READ).asJava
    else Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava

  override def properties(): util.Map[String, String] =
    (Map(TableCatalog.PROP_PROVIDER -> "graft",
      TableCatalog.PROP_LOCATION -> root,
      "version" -> TxnLog.currentVersion(root).toString) ++
      TxnLog.tableProperties(root, version) ++
      TxnLog.activeConstraints(root, version).map { case (n, e) =>
        (s"${GraftTable.ConstraintProp}$n", e)
      }).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, root, version, schema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // `option("mergeKey", c)` switches the STREAMING sink to per-epoch
    // keyed MERGE — the update-mode lakehouse spelling. Without it,
    // update mode stays structurally rejected (a blind
    // update-as-append would silently corrupt aggregates).
    val mergeKey = info.options.get("mergeKey")
    if (mergeKey != null) new GraftUpsertWriteBuilder(root, info, mergeKey)
    else new GraftWriteBuilder(root, info)
  }

  /** SQL `UPDATE` / `MERGE INTO` (and rewrite-path DELETE) — the
    * delta write, [[GraftDeltaOperation]]. Metadata-only DELETEs still
    * take [[deleteWhere]] (Spark's metadata-delete optimization asks
    * that first). The write path is picked per session
    * (`SET spark.graft.dml.mode = cow | mor`):
    *
    *  - `cow` (default): the delta write computes exact per-row kill
    *    bitmaps + change files, then a synchronous finalize step
    *    rewrites the touched files' SURVIVORS into the same commit —
    *    the table state ends fully copy-on-write (no residual DVs),
    *    while the bitmaps ride the commit as metadata so `t.feed`
    *    serves EXACT `update_preimage`/`update_postimage`/`delete`
    *    rows (O(changed rows), never whole post-image files). Costs
    *    one extra read of the touched files.
    *  - `mor`: deletion vectors + insert files, no rewrite — write
    *    amplification O(changed rows); reads pay the DV filter until
    *    `optimizeCompactDeletes`.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      val mode = spark.conf.get("spark.graft.dml.mode", "cow")
      require(mode == "cow" || mode == "mor",
        s"spark.graft.dml.mode must be cow or mor, got $mode")
      new GraftDeltaOperation(root, schema, info.command(), finalizeCow = mode == "cow")
    }

  // ---- DELETE FROM / TRUNCATE ----

  override def canDeleteWhere(predicates: Array[V2Predicate]): Boolean =
    predicates.forall(p => GraftFilters.predicateToColumn(p).isDefined)

  /** `DELETE FROM ... WHERE ...` — deletion vectors, no rewrite. The
    * V2 predicates render to Spark SQL ([[GraftFilters]]) and run
    * through [[TxnLog.deleteWhere]], so arbitrary deterministic
    * predicates (arithmetic included) delete transactionally.
    */
  override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
    val cond = predicates.toSeq.flatMap(GraftFilters.predicateToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    TxnLog.deleteWhere(spark, root, cond, txnId = s"sql-delete-a$uuid12")
    ()
  }

  /** `TRUNCATE TABLE` — one metadata commit removing the live set
    * (cheaper and cleaner than the default all-rows deletion vector).
    */
  override def truncateTable(): Boolean = {
    val readV = TxnLog.currentVersion(root)
    val live = TxnLog.snapshotFiles(root, readV)
    if (live.nonEmpty)
      TxnLog.commit(root, "truncate", Nil, removed = live, readVersion = readV,
        txnId = s"sql-truncate-a$uuid12")
    true
  }
}

private[sources] object GraftMetaTable {
  /** `history` = DESCRIBE HISTORY as a relation (one row per commit);
    * `files` = the live snapshot's inventory (sizes, row counts,
    * deleted-row counts, stat/bloom coverage) — both METADATA-ONLY:
    * a `files` query over a million-file table reads the log fold,
    * never the files.
    */
  val Kinds: Set[String] = Set("history", "files", "refs", "partitions")

  import org.apache.spark.sql.types._
  def schemaOf(kind: String): StructType = kind match {
    // `partitions` = the live partition inventory (Iceberg's
    // `t.partitions`): one row per declared-partition tuple, folded
    // from the per-file point stats the writer already records —
    // identity values render as themselves (strings) or their stat
    // ordinal (ints/dates: the long key; timestamps: micros), bucket
    // transforms as `bucket(n;c)=<id>`; a file whose stat spans
    // values lands under `<multi>` (pre-partitioning generations)
    case "partitions" => StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("deleted_rows", LongType, nullable = false)))
    // `refs` = the named-ref inventory: tags pin a main version,
    // branches carry their fork point AND their own head
    case "refs" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("pinned_version", LongType, nullable = false),
      StructField("branch_head", LongType, nullable = false)))
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("action", StringType, nullable = false),
      StructField("txn_id", StringType, nullable = false),
      StructField("read_version", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("n_added", LongType, nullable = false),
      StructField("n_removed", LongType, nullable = false),
      StructField("n_dv_files", LongType, nullable = false)))
    case "files" => StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("size", LongType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("deleted", LongType, nullable = false),
      StructField("stat_cols", StringType, nullable = false),
      StructField("has_bloom", BooleanType, nullable = false),
      StructField("mod_time", TimestampType, nullable = false)))
  }

  def rowsOf(root: String, kind: String): Seq[Array[Any]] = kind match {
    case "partitions" =>
      val pfields = TxnLog.partitionFields(root)
      val dvBits = (m: TxnLog.FileMeta) => m.dv.map(dv =>
        TxnLog.dvHex(dv).foldLeft(0L)((n, ch) =>
          n + java.lang.Integer.bitCount(Character.digit(ch, 16)))).getOrElse(0L)
      def partOf(m: TxnLog.FileMeta): String = pfields.map {
        case TxnLog.IdentityField(c) => m.stats.get(c) match {
          // string bounds ride the log base64-encoded (X-A44);
          // render the partition VALUE
          case Some(st) if st.typ == "s" && st.loS == st.hiS =>
            s"$c=${new String(java.util.Base64.getDecoder.decode(st.loS),
              java.nio.charset.StandardCharsets.UTF_8)}"
          case Some(st) if st.typ != "s" && st.lo == st.hi   => s"$c=${st.lo}"
          case _ => s"$c=<multi>"
        }
        case TxnLog.BucketField(n, c) =>
          m.stats.get(TxnLog.bucketStatKey(n, c)) match {
            case Some(st) if st.lo == st.hi => s"bucket($n;$c)=${st.lo}"
            case _ => s"bucket($n;$c)=<multi>"
          }
        // temporal transforms fold the SOURCE column's typed stat to
        // the period index: a file whose [lo, hi] lands in one period
        // renders it (ISO calendar spelling); one that spans periods
        // is <multi> — honest, exactly like identity
        case TxnLog.TemporalField(u, c) =>
          def period(raw: Long, typ: String): Long = {
            val days = if (typ == "d") raw else Math.floorDiv(raw, 86400000000L)
            u match {
              case "hours"  => Math.floorDiv(raw, 3600000000L)
              case "days"   => days
              case "months" =>
                val d = java.time.LocalDate.ofEpochDay(days)
                (d.getYear - 1970L) * 12L + d.getMonthValue - 1L
              case _        => java.time.LocalDate.ofEpochDay(days).getYear - 1970L
            }
          }
          def render(p: Long): String = u match {
            case "hours" =>
              val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(p, 24L))
              f"$d-${Math.floorMod(p, 24L)}%02d"
            case "days"   => java.time.LocalDate.ofEpochDay(p).toString
            case "months" =>
              f"${1970 + Math.floorDiv(p, 12L)}%04d-${Math.floorMod(p, 12L) + 1}%02d"
            case _        => f"${1970 + p}%04d"
          }
          m.stats.get(c) match {
            case Some(st) if (st.typ == "t" || st.typ == "d") &&
                period(st.lo, st.typ) == period(st.hi, st.typ) =>
              s"$u($c)=${render(period(st.lo, st.typ))}"
            case _ => s"$u($c)=<multi>"
          }
      }.mkString("/")
      TxnLog.snapshotState(root).groupBy { case (_, m) => partOf(m) }
        .toSeq.sortBy(_._1).map { case (part, fs) =>
          val rows = fs.map(_._2.stats.values.map(_.rows).find(_ >= 0L).getOrElse(-1L))
          val sizes = fs.map(_._2.size)
          Array[Any](part, fs.size.toLong,
            if (rows.forall(_ >= 0L)) rows.sum else -1L,
            if (sizes.forall(_ >= 0L)) sizes.sum else -1L,
            fs.map { case (_, m) => dvBits(m) }.sum)
        }
    case "refs" =>
      TxnLog.listRefs(root).map { case (name, k, pinned, head) =>
        Array[Any](name, k, pinned, head) }
    case "history" =>
      TxnLog.commits(root).map(c => Array[Any](c.version, c.action, c.txnId,
        c.readVersion, c.ts * 1000L, c.added.size.toLong,
        c.removed.size.toLong, c.dvFiles.size.toLong))
    case "files" =>
      TxnLog.snapshotState(root).map { case (f, m) =>
        val deleted = m.dv.map(dv => TxnLog.dvHex(dv).foldLeft(0L)((n, ch) =>
          n + java.lang.Integer.bitCount(Character.digit(ch, 16)))).getOrElse(0L)
        Array[Any](f, m.size, m.stats.values.map(_.rows).find(_ >= 0L).getOrElse(-1L),
          deleted, m.stats.keys.toSeq.sorted.mkString(","),
          m.bloom.isDefined, m.modTime * 1000L)
      }
  }
}

/** One metadata-table row set, computed on the driver at planning
  * (it IS metadata) and shipped as a single partition.
  */
private case class GraftMetaPartition(rows: Seq[Array[Any]]) extends InputPartition

private class GraftMetaTable(root: String, kind: String)
  extends Table with SupportsRead {

  override def name(): String = s"graft:$root.$kind"
  override def schema(): StructType = GraftMetaTable.schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = GraftMetaTable.schemaOf(kind)
        override def toBatch: Batch = this
        override def description(): String = s"GraftMetaScan($kind, root=$root)"
        override def planInputPartitions(): Array[InputPartition] =
          Array(GraftMetaPartition(GraftMetaTable.rowsOf(root, kind)))
        override def createReaderFactory(): PartitionReaderFactory =
          new PartitionReaderFactory {
            override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
              val it = partition.asInstanceOf[GraftMetaPartition].rows.iterator
                .map(vals => new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  vals.map {
                    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
                    case other     => other
                  }))
              new PartitionReader[InternalRow] {
                override def next(): Boolean = it.hasNext
                override def get(): InternalRow = it.next()
                override def close(): Unit = ()
              }
            }
          }
      }
    }
}

/** A CTAS/RTAS table between stage and commit. The QUERY's schema is
  * the table's; writes stage files (with typed stats) but publish
  * NOTHING; `commitStagedChanges` makes the whole statement one
  * visible transition.
  */
private class StagedGraftTable(root: String, stagedSchema: StructType,
                               replaceExisting: Boolean,
                               constraints: Seq[(String, String)] = Nil,
                               partitionBy: Seq[String] = Nil,
                               policyProps: Seq[(String, String)] = Nil)
  extends org.apache.spark.sql.connector.catalog.StagedTable with SupportsWrite {

  // validate at STAGE time (before any write work): a CTAS/RTAS with a
  // malformed TBLPROPERTIES or CHECK fails before it stages a byte, and
  // the atomic commit below can never throw post-commit on either
  policyProps.foreach { case (k, v) => TxnLog.validateProperty(k, v) }
  constraints.foreach { case (n, e) => TxnLog.validateConstraint(n, e) }

  private def spark: SparkSession = SparkSession.active
  private val txnId = s"sql-ctas-a$uuid12"
  @volatile private var staged
    : Option[(Seq[String], Seq[Map[String, TxnLog.FileStat]], StructType)] = None

  override def name(): String = s"graft:$root (staged)"
  override def schema(): StructType = stagedSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // RTAS writes with truncate semantics; the staged table is
      // empty by construction, so truncate changes nothing
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              // physical names: a replaced table keeps its historical
              // column mapping consistent across the swap
              val phys0 =
                if (replaceExisting)
                  TxnLog.toPhysical(data, TxnLog.columnMapping(root))
                else data
              // declared partitioning clusters the CTAS data too
              // (like insertInto: identity range-clusters, a bucket
              // transform hash-routes rows to their bucket)
              val pfields = partitionBy.map(TxnLog.parsePartitionToken)
                .filter(f => phys0.columns.contains(f.col))
              val phys = TxnLog.clusterByPartitioning(phys0, pfields,
                TxnLog.writePartitions(data.sparkSession))
              val (files, multi) = GraftTable.stageFiles(phys, root, txnId, pfields)
              staged = Some((files, multi, phys.schema))
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val (files, multi, sch) = staged.getOrElse((Nil, Nil, stagedSchema))
    if (!replaceExisting) {
      TxnLog.init(root)
      TxnLog.commit(root, "create", added = files, removed = Nil,
        readVersion = 0L, txnId = txnId, multiStats = multi,
        schemaId = TxnLog.schemaFingerprint(sch),
        physSchema = Some(sch), cadds = constraints,
        partitionBy = Some(partitionBy),
        // declared TBLPROPERTIES ride the create record (r20): the
        // table is never visible without its declared policy
        padds = policyProps)
    } else {
      // one schema-evolve commit: the live set swaps and the schema
      // may change, under the standard conflict matrix. propReset /
      // conReset drop EVERY inherited property and CHECK constraint
      // first (r20), and the declared PARTITIONED BY (none: an
      // unpartitioned table) replaces the old partitioning: REPLACE
      // resets table configuration wholesale —
      // stale policy (e.g. graft.autoCompact.*) never silently
      // survives onto the 'new' table, and a stale CHECK from the
      // replaced table never keeps rejecting the new table's writes;
      // only the newly declared set is in effect, all in this one
      // atomic record
      val readV = TxnLog.currentVersion(root)
      TxnLog.commit(root, "schema-evolve", added = files,
        removed = TxnLog.snapshotFiles(root, readV),
        readVersion = readV, txnId = txnId, multiStats = multi,
        schemaId = TxnLog.schemaFingerprint(sch),
        physSchema = Some(sch), cadds = constraints,
        partitionBy = Some(partitionBy),
        padds = policyProps, propReset = true, conReset = true)
    }
    ()
  }

  override def abortStagedChanges(): Unit = {
    staged.foreach(_._1.foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f))))
    // a fresh CREATE owns the whole directory; a REPLACE must leave
    // the live table alone (orphan staging dirs go to vacuumStaging).
    // The _log guard means an abort can never take down a table a
    // concurrent CREATE published while we were staging.
    if (!replaceExisting &&
        !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root, "_log")))
      TxnLog.deleteRecursively(java.nio.file.Paths.get(root))
  }
}

private class GraftWriteBuilder(root: String, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  private var overwriteAll = false
  // a predicate-scoped overwrite (INSERT OVERWRITE ... PARTITION /
  // writeTo.overwrite(cond)): delete-matching + append as ONE commit
  private var replaceFilters: Option[Array[Filter]] = None

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
      overwriteAll = true // plain INSERT OVERWRITE = truncate semantics
    else replaceFilters = Some(filters)
    this
  }

  /** The V1 write bridge: `INSERT` hands us the WHOLE DataFrame, so
    * the existing staging/stats/constraint/commit machinery applies
    * unchanged — the write is distributed (executors write the
    * staged parquet), only the commit record passes the driver.
    * `toStreaming` serves `writeStream.toTable` from the same Write
    * ([[GraftStreamingWrite]]: per-epoch distributed staging,
    * exactly-once commits keyed by (queryId, epochId)).
    */
  override def build(): Write = new V1Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

    /** Declared IDENTITY partition columns, LOGICAL names (what the
      * write query's attributes resolve against) — drives the
      * required distribution below for batch AND streaming writes
      * alike. Bucket transforms are excluded: expressing
      * pmod(hash(c), n) through the V2 distribution API would need a
      * FunctionCatalog round-trip; the batch paths cluster by bucket
      * id in [[GraftTable.insertInto]]/CTAS instead, and streaming
      * appends into bucketed tables stay SOUND (their wider bucket
      * stat range simply keeps the file at prune time).
      */
    private val pcols: Seq[String] = {
      val p2l = TxnLog.columnMapping(root).map(_.swap)
      TxnLog.partitionFields(root).collect {
        case TxnLog.IdentityField(c) => p2l.getOrElse(c, c)
      }
    }

    /** Partitioned tables ask Spark for a RANGE distribution on the
      * partition columns (exactly `repartitionByRange`): each staged
      * file holds one value or a contiguous run, so per-file ranges
      * collapse and partition predicates prune. The explicit
      * partition count keeps AQE from coalescing adjacent values
      * back together. Spark applies this in ONE place for `INSERT`,
      * `writeTo` and `writeStream.toTable` — the streaming path gets
      * partition-aware placement with no writer-side code.
      */
    override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
      if (pcols.isEmpty)
        org.apache.spark.sql.connector.distributions.Distributions.unspecified()
      else
        org.apache.spark.sql.connector.distributions.Distributions.ordered(
          pcols.map(c => Expressions.sort(
            Expressions.column(GraftTable.quoted(c)),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray)

    override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = Array.empty

    override def requiredNumPartitions(): Int =
      if (pcols.isEmpty) 0
      else TxnLog.writePartitions(SparkSession.active)

    override def toInsertableRelation(): InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit =
          replaceFilters match {
            case Some(fs) => GraftTable.replaceWhere(root, data, fs)
            case None     => GraftTable.insertInto(root, data, overwriteAll)
          }
      }
    /** Append mode streams `stream-append` epochs; COMPLETE mode
      * (Spark calls `truncate()` before building the streaming write)
      * streams one `stream-replace` transaction per epoch. UPDATE
      * mode never reaches here: this builder deliberately does not
      * implement `SupportsStreamingUpdateAsAppend` (whose contract is
      * to silently append changed rows) — keyed upserts belong in
      * `foreachBatch` + `mergeInto`/`maintainInto`.
      */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(replaceFilters.isEmpty,
        "graft: predicate-scoped overwrite is a batch verb; streaming " +
          "writes are append / complete / update(mergeKey)")
      // identity allocation is a batch-commit protocol (metadata
      // high-water mark + conflict-guarded commit); the streaming
      // epoch path has no minting step and would land NULL ids
      // silently — refuse at query start, not per epoch
      val idents = GraftTable.identityColumns(
        TxnLog.tableSchema(root).getOrElse(info.schema()))
      require(idents.isEmpty,
        s"graft: table has IDENTITY column(s) ${idents.map(_.col).mkString(", ")} " +
          "— streaming writes cannot mint identity values; use foreachBatch " +
          "with a batch INSERT")
      new GraftStreamingWrite(root, info.schema(), info.queryId(),
        replaceEach = overwriteAll)
    }
  }
}

/** The UPDATE-mode write builder, selected by the `mergeKey` write
  * option: implements Spark's `SupportsStreamingUpdateAsAppend`
  * marker — the ONLY channel Structured Streaming offers a V2 sink
  * for update mode (`StreamExecution.createStreamingWrite` requires
  * the marker, then calls plain `build()`) — but routes each epoch
  * through [[GraftStreamingUpsertWrite]] (per-epoch
  * [[TxnLog.mergeInto]]) instead of the blind append the marker's
  * name suggests. COMPLETE mode with a mergeKey is contradictory and
  * stays structurally rejected (no `SupportsTruncate` here); batch
  * INSERT never carries write options, so it cannot land here.
  */
private class GraftUpsertWriteBuilder(root: String, info: LogicalWriteInfo,
                                      mergeKey: String)
  extends org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {

  // comma-separated for COMPOSITE grouping keys: every named column
  // must exist; the epoch merge matches on the full tuple
  private val keyCols: Seq[String] =
    mergeKey.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  require(keyCols.nonEmpty, "graft: mergeKey must name at least one column")
  keyCols.foreach(k => require(info.schema().fieldNames.contains(k),
    s"graft: mergeKey '$k' is not a column of the write " +
      s"(${info.schema().fieldNames.mkString(", ")})"))
  // same refusal as the append sink: epoch merges have no identity
  // minting step and would land NULL ids silently
  require(GraftTable.identityColumns(
      TxnLog.tableSchema(root).getOrElse(info.schema())).isEmpty,
    "graft: streaming upserts cannot mint IDENTITY values; use " +
      "foreachBatch with a batch INSERT/MERGE")

  override def build(): Write = new Write {
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingUpsertWrite(root, info.schema(), info.queryId(), keyCols)
  }
}

private[sources] class GraftScanBuilder(
    spark: SparkSession, root: String, version: Long,
    logicalSchema: StructType, options: CaseInsensitiveStringMap,
    onPlan: Option[Long => Unit] = None)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = logicalSchema
  private var pushed: Array[Filter] = Array.empty

  /** Every filter stays a RESIDUAL (the engine re-evaluates it above
    * the scan — the same contract FileSourceScanExec's dataFilters
    * follow); the translatable ones are RECORDED for log-level file
    * pruning and parquet row-group pushdown.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      GraftFilters.toCatalyst(f, logicalSchema, Map.empty).isDefined)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftScan(spark, root, version, logicalSchema, required, pushed,
      options, onPlan)
}

/** One data file of the snapshot; `dvHex` carries the file's resolved
  * deletion-vector bitmap ("" = none) so the reader filters deleted
  * rows with zero extra IO.
  */
private case class GraftFilePartition(path: String, length: Long,
                                      dvHex: String,
                                      rowBase: Long = -1L) extends InputPartition

/** One BUCKET of a `PARTITIONED BY (bucket(n, c))` table as a single
  * input partition carrying its key — what lets Spark's
  * storage-partitioned join line two co-bucketed scans up WITHOUT a
  * shuffle. Empty buckets still emit (both join sides then always
  * report identical key sets).
  */
private case class GraftBucketPartition(bucketId: Int,
                                        files: Seq[GraftFilePartition])
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucketId))
}

private object GraftPartitions {
  /** Both factories accept plain file partitions and bucket groups. */
  def filesOf(p: InputPartition): Seq[GraftFilePartition] = p match {
    case f: GraftFilePartition      => Seq(f)
    case GraftBucketPartition(_, fs) => fs
    case other => sys.error(s"graft: unexpected partition $other")
  }
}

/** The `bucket` transform as a V2 catalog function: binding
  * `(numBuckets INT, c <bucketable>)` yields a scalar whose result is
  * the write-side bucket id — [[TxnLog.bucketOf]]'s Murmur3(seed 42)
  * over the canonical representation — so the storage-partitioned
  * join's view of "which partition does this key live in" is
  * identical to where the writers actually put it.
  */
private[sources] object GraftBucketFunction
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {

  override def name(): String = "bucket"
  override def description(): String =
    "graft bucket transform: pmod(murmur3(canonical(c)), n)"

  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket(numBuckets, col) takes 2 arguments, got ${inputType.length}")
    val dt = inputType.fields(1).dataType
    require(TxnLog.bucketableType(dt),
      s"bucket: unbucketable column type ${dt.simpleString}")
    new GraftBucketBound(dt)
  }
}

/** The bound bucket function. Also a [[org.apache.spark.sql.connector
  * .catalog.functions.ReducibleFunction]]: `bucket(k·n, c)` REDUCES to
  * `bucket(n, c)` by `id % n` — `pmod(h, k·n) ≡ h (mod n)`, so the
  * coarse id of a row is exactly its fine id mod n. Spark's
  * compatible-transforms SPJ (`spark.sql.sources.v2.bucketing
  * .allowCompatibleTransforms.enabled`) consults this to join a
  * bucket(2n) table with a bucket(n) table with ZERO shuffles: the
  * fine side's groups fold pairwise into the coarse side's. Reduction
  * only within one canonical KIND — a string-bucketed and a
  * long-bucketed column never co-group.
  */
private[sources] class GraftBucketBound(dt: DataType)
  extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]
    with org.apache.spark.sql.connector.catalog.functions.ReducibleFunction[Integer, Integer]
    with Serializable {

  override def inputTypes(): Array[DataType] = Array(IntegerType, dt)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  // canonical-name equality is what SPJ compares across the two
  // sides; the semantics depend only on the canonical KIND
  override def canonicalName(): String =
    s"graft.bucket(${if (dt == StringType) "string" else "long"})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val v = if (input.isNullAt(1)) null else input.get(1, dt)
    Integer.valueOf(TxnLog.bucketOf(v, dt, n).getOrElse(
      sys.error(s"graft bucket: unbucketable value $v: ${dt.simpleString}")))
  }

  override def reducer(thisNumBuckets: Int,
      otherFunction: org.apache.spark.sql.connector.catalog.functions.ReducibleFunction[_, _],
      otherNumBuckets: Int)
      : org.apache.spark.sql.connector.catalog.functions.Reducer[Integer, Integer] =
    otherFunction match {
      case o: GraftBucketBound if o.canonicalName() == canonicalName() &&
          thisNumBuckets != otherNumBuckets &&
          otherNumBuckets > 0 && thisNumBuckets % otherNumBuckets == 0 =>
        new GraftBucketReducer(otherNumBuckets)
      case _ => null // incompatible counts/kinds: sound fallback to shuffle
    }
}

private[sources] class GraftBucketReducer(coarse: Int)
  extends org.apache.spark.sql.connector.catalog.functions.Reducer[Integer, Integer]
    with Serializable {
  override def reduce(b: Integer): Integer = Integer.valueOf(b.intValue() % coarse)
}

/** The batch (and streaming) scan over a pinned snapshot. Planning is
  * METADATA-ONLY: the log names the files with their sizes, the
  * pushed filters prune against typed stats + blooms
  * ([[TxnLogFileIndex.keep]]), and reported statistics (post-prune
  * bytes, DV-corrected row count) feed the optimizer's broadcast
  * decisions. One file = one [[InputPartition]]; each reader applies
  * its file's deletion vector by ROW COUNTER — the whole file is one
  * partition read in order, so the running row number IS
  * `_metadata.row_index` (which is why DV'd files take no parquet
  * predicate pushdown: skipped rows would break the index).
  */
private class GraftScan(spark: SparkSession, root: String, version: Long,
                        fullSchema: StructType, required: StructType,
                        pushed: Array[Filter],
                        options: CaseInsensitiveStringMap,
                        onPlan: Option[Long => Unit] = None)
  extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // pin "head" to a concrete version at construction: the scan is a
  // stable snapshot however long the query runs, and a row-level
  // operation's conflict check needs the exact version it read
  private val pinnedV: Long =
    if (version == Long.MaxValue) TxnLog.currentVersion(root) else version
  private val state: Seq[(String, TxnLog.FileMeta)] =
    TxnLog.snapshotState(root, pinnedV)
  // logical -> physical; scans and stats speak physical
  private val renames: Map[String, String] = TxnLog.columnMapping(root, pinnedV)
  private def physName(n: String): String = renames.getOrElse(n, n)
  // parquet-facing schemas are ALWAYS nullable: a schema-evolved
  // column is missing from pre-evolution files (read NULL), and the
  // vectorized reader refuses a missing column whose requested field
  // is marked required — which a filter's IsNotNull constraint can
  // induce upstream. Marking nullable is always sound to READ.
  private val physFull = StructType(
    fullSchema.fields.map(f => f.copy(name = physName(f.name), nullable = true)))
  private val physRequired = StructType(
    required.fields.map(f => f.copy(name = physName(f.name), nullable = true)))

  // `_file` / `_pos` / `_row_id` are served by the readers, not
  // parquet: split them out of the schema the parquet closure reads.
  // `_row_id` additionally pulls the MATERIALIZED id column (X-A96,
  // carried through rewrites) into the read schema — appended LAST so
  // the data-column splice indexes are untouched; files that never
  // materialized it serve null and fall back to base + row index.
  private val fileMetaIdx: Int =
    required.fields.indexWhere(_.name == GraftTable.FileMetaCol)
  private val posMetaIdx: Int =
    required.fields.indexWhere(_.name == GraftTable.PosMetaCol)
  private val rowIdMetaIdx: Int =
    required.fields.indexWhere(_.name == GraftTable.RowIdMetaCol)
  private val physRequiredData = {
    val data = physRequired.fields.filterNot(f =>
      f.name == GraftTable.FileMetaCol || f.name == GraftTable.PosMetaCol ||
        f.name == GraftTable.RowIdMetaCol)
    StructType(
      if (rowIdMetaIdx < 0) data
      else data :+ org.apache.spark.sql.types.StructField(
        TxnLog.RowIdPhysCol, org.apache.spark.sql.types.LongType, nullable = true))
  }
  private val matRidIdx: Int =
    if (rowIdMetaIdx < 0) -1 else physRequiredData.length - 1

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"GraftTableScan root=$root, version=${if (version == Long.MaxValue) "head" else version}, " +
      s"pushed=[${pushed.mkString(", ")}]"

  /** The post-prune live set: files whose typed stats / blooms cannot
    * rule the pushed filters out. Attribute refs are built in
    * PHYSICAL names, matching the stat keys. `@volatile var`: runtime
    * file pruning ([[filter]]) narrows it after static planning.
    */
  @volatile private var kept: Seq[(String, TxnLog.FileMeta)] = {
    val exprs = pushed.toSeq.flatMap(GraftFilters.toCatalyst(_, fullSchema, renames))
    if (exprs.isEmpty) state
    else {
      val idx = new TxnLogFileIndex(spark, root, state)
      state.filter { case (_, m) => idx.keep(m, exprs) }
    }
  }

  override def filterAttributes(): Array[NamedReference] =
    // Query scans advertise their PRUNABLE data columns — DYNAMIC FILE
    // PRUNING: Spark's PartitionPruning rule then plants a
    // DynamicPruningSubquery on a fact ⋈ filtered-dim join key, and
    // [[filter]] narrows the fact files through the log's
    // stats/blooms at RUNTIME (the Delta DFP recipe). Only read-schema
    // columns some kept file can actually prune on (range stat,
    // bucket stat, or bloom) are advertised — a filter on anything
    // else couldn't drop a file anyway. Row-level operation scans
    // (onPlan set) advertise none: the delta write already touches
    // only the rows that match.
    if (onPlan.isDefined) Array.empty
    else if (!spark.conf.get("spark.graft.runtimeFilePruning.enabled", "true")
        .toBoolean) Array.empty
    else {
      val prunablePhys: Set[String] = kept.iterator.flatMap { case (_, m) =>
        m.stats.keysIterator.map {
          case TxnLog.BucketKeyRe(_, c) => c
          case c                        => c
        } ++ (if (m.bloom.isDefined && m.bloomCol.nonEmpty)
                Iterator(m.bloomCol) else Iterator.empty)
      }.filter(_.nonEmpty).toSet
      required.fields.iterator.map(_.name)
        .filter(n => prunablePhys(physName(n)))
        .map(n => Expressions.column(GraftTable.quoted(n)))
        .toArray
    }

  override def filter(predicates: Array[V2Predicate]): Unit = {
    // data-column runtime filters (DFP): translate the materialized
    // subquery's IN/= predicate and re-prune through the SAME
    // stats/bloom admission the static push-down uses — unrecognized
    // shapes narrow nothing (sound)
    val exprs = predicates.iterator
      .flatMap(GraftFilters.v2ToCatalyst(_, fullSchema, renames))
      .toSeq
    if (exprs.nonEmpty) {
      val idx = new TxnLogFileIndex(spark, root, kept)
      kept = kept.filter { case (_, m) => idx.keep(m, exprs) }
    }
  }

  /** Storage-partitioned-join support (the Iceberg SPJ recipe): a
    * table declared `PARTITIONED BY (bucket(n, c))` whose kept files
    * ALL carry point bucket stats reports KeyGroupedPartitioning over
    * `bucket(n, c)` — two tables co-bucketed on their join key then
    * join WITHOUT a shuffle on either side (at 100 TB, the shuffle IS
    * the join cost). Gated on the session's V2 bucketing switch;
    * row-level-operation scans (onPlan) keep the per-file shape their
    * rewrites expect; a file with a wide or missing bucket stat
    * (streamed appends before compaction, hand commits) disables the
    * report — plans stay correct, just shuffled.
    */
  /** (bucket id → files) over `snapshot`, or None if any file lacks a
    * point bucket stat. Pure function of the snapshot so callers can
    * regroup after runtime filtering narrows `kept`.
    */
  private def bucketPoints(n: Int, c: String,
      snapshot: Seq[(String, TxnLog.FileMeta)])
      : Option[Map[Long, Seq[(String, TxnLog.FileMeta)]]] = {
    val key = TxnLog.bucketStatKey(n, c)
    val pts = snapshot.map { case fm @ (_, m) =>
      m.stats.get(key).filter(st => st.typ == "l" && st.lo == st.hi &&
        st.lo >= 0L && st.lo < n).map(st => st.lo -> fm)
    }
    if (pts.exists(_.isEmpty)) None
    else Some(pts.flatten.groupBy(_._1).map {
      case (b, fs) => b -> fs.map(_._2)
    })
  }

  /** Only the GATING decision (n, clustering column) is pinned here;
    * the bucket→files grouping is recomputed in
    * [[planInputPartitions]] from the CURRENT `kept`, so a runtime
    * [[filter]] that lands after planning-time outputPartitioning()
    * still prunes the files actually read. The decision stays valid
    * under narrowing: filter() only removes files, and every survivor
    * already proved its point stat here.
    */
  private lazy val bucketGroups: Option[(Int, String)] =
    if (onPlan.isDefined ||
        !spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean)
      None
    else TxnLog.partitionFields(root, pinnedV) match {
      case Seq(TxnLog.BucketField(n, c)) if bucketPoints(n, c, kept).isDefined =>
        Some((n, c))
      case _ => None
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketGroups match {
      case Some((n, c)) =>
        val logical = renames.map(_.swap).getOrElse(c, c)
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(Expressions.bucket(n, GraftTable.quoted(logical))), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          kept.size)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    // a row-level operation captures the snapshot version it read:
    // its commit's readVersion
    onPlan.foreach(_(pinnedV))
    def toFile(f: String, m: TxnLog.FileMeta): GraftFilePartition = {
      val len =
        if (m.size >= 0L) m.size
        else java.nio.file.Files.size(java.nio.file.Paths.get(f))
      // sidecar DV refs resolve HERE, on the driver — the partition
      // ships the bitmap bytes, O(file rows / 8), same order as the
      // log record itself
      GraftFilePartition(f, len, m.dv.map(TxnLog.dvHex).getOrElse(""),
        m.rowBase.getOrElse(-1L))
    }
    bucketGroups match {
      case Some((n, c)) =>
        // regrouped from the CURRENT kept (post-runtime-filter); the
        // subset of a point-stat'd set is point-stat'd, so .get holds
        val groups = bucketPoints(n, c, kept).get
        // one partition per bucket, EMPTY buckets included: both join
        // sides always report the identical key set
        (0 until n).map(b => GraftBucketPartition(b,
          groups.getOrElse(b.toLong, Nil).map { case (f, m) => toFile(f, m) })
          : InputPartition).toArray
      case None =>
        kept.map { case (f, m) => toFile(f, m): InputPartition }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // reader closures, built once on the driver: DV-less files take
    // parquet row-group pushdown of the pushed filters; DV'd files
    // read unfiltered so the row counter stays the row index. Filter
    // names must match the FILE schema — only safe with no column
    // mapping (physical == logical).
    val parquetFilters: Seq[Filter] = if (renames.isEmpty) pushed.toSeq else Nil
    def reader(filters: Seq[Filter], batch: Boolean): PartitionedFile => Iterator[InternalRow] =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        sparkSession = spark,
        dataSchema = physFull,
        partitionSchema = StructType(Nil),
        requiredSchema = physRequiredData,
        filters = filters,
        options = Map(
          org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH -> batch.toString),
        hadoopConf = spark.sessionState.newHadoopConf())
    // COLUMNAR when the whole scan can be: no deletion vector on any
    // kept file (row filtering needs row order), no `_file` splice,
    // and the vectorized reader supports the schema — then the scan
    // feeds whole-stage codegen ColumnarBatches exactly like Spark's
    // own parquet scan. The factory is all-or-nothing by engine
    // contract (BatchScanExec requires uniform partitions).
    val columnar = fileMetaIdx < 0 && posMetaIdx < 0 && rowIdMetaIdx < 0 &&
      kept.forall(_._2.dv.isEmpty) &&
      new ParquetFileFormat().supportBatch(spark, physRequiredData)
    if (columnar)
      new GraftColumnarReaderFactory(reader(parquetFilters, batch = true))
    else
      new GraftReaderFactory(
        // row order matters as soon as a DV, `_pos` or `_row_id` is in
        // play: parquet row-group/page skipping would break the index
        reader(if (posMetaIdx < 0 && rowIdMetaIdx < 0) parquetFilters else Nil,
          batch = false),
        reader(Nil, batch = false),
        fileMetaIdx, posMetaIdx, rowIdMetaIdx, matRidIdx,
        required.fields.map(_.dataType))
  }

  /** Post-prune size and (when every kept file recorded a row count)
    * the exact DV-corrected row count — what lets Catalyst broadcast
    * a filtered dimension read off a txn table.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(kept.map { case (f, m) =>
        if (m.size >= 0L) m.size
        else try java.nio.file.Files.size(java.nio.file.Paths.get(f))
        catch { case _: java.io.IOException => 0L }
      }.sum)

    override def numRows(): OptionalLong = {
      val counts = kept.map { case (_, m) =>
        val rows = m.stats.values.map(_.rows).find(_ >= 0L)
        rows.map(_ - m.dv.map(dvPopcount).getOrElse(0L))
      }
      if (counts.forall(_.isDefined)) OptionalLong.of(counts.flatten.sum)
      else OptionalLong.empty()
    }

    /** Per-COLUMN statistics over the post-prune file set, fed to
      * Catalyst through `transformV2Stats` — distinctCount is the
      * union of the per-file HLL sketches an ANALYZE recorded
      * ([[TxnLog.analyzeTable]]), nullCount the fold of per-file null
      * counts, min/max the fold of the typed ranges (as CATALYST
      * internal values of the attribute's type), and histogram the
      * table-level equi-height histogram an
      * `ANALYZE ... histogram_bins` recorded — what gives a skewed
      * range predicate a non-uniform selectivity estimate. This is
      * what CBO filter estimation and join reordering key on; columns
      * without sketches (never analyzed) simply report nothing.
      */
    override def columnStats(): util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val hists = TxnLog.tableHistograms(root, version)
      val out = new util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      required.fields.foreach { fd =>
        val stats = kept.flatMap(_._2.stats.get(physName(fd.name)))
        if (stats.size == kept.size && kept.nonEmpty) {
          val ndv = TxnLog.ndvFromSketches(stats.map(_.hll).filter(_.nonEmpty))
            .filter(_ => stats.forall(_.hll.nonEmpty))
          val nulls =
            if (stats.forall(_.nulls >= 0L)) Some(stats.map(_.nulls).sum)
            else None
          // typed min/max folds, converted to the CATALYST internal
          // value of the ATTRIBUTE's type (what ColumnStat.min/max
          // hold); a kind mismatch (widened column mid-era) reports
          // nothing — estimation must never compare across scales
          val kind = fd.dataType match {
            case ByteType | ShortType | IntegerType | LongType => "l"
            case TimestampType => "t"
            case DateType      => "d"
            case FloatType | DoubleType => "f"
            case _             => ""
          }
          val (minV, maxV): (Option[Any], Option[Any]) =
            if (kind.isEmpty || !stats.forall(_.typ == kind)) (None, None)
            else kind match {
              case "f" =>
                val los = stats.map(_.loS.toDouble)
                val his = stats.map(_.hiS.toDouble)
                fd.dataType match {
                  case FloatType => (Some(los.min.toFloat), Some(his.max.toFloat))
                  case _         => (Some(los.min), Some(his.max))
                }
              case _ =>
                val lo = stats.map(_.lo).min
                val hi = stats.map(_.hi).max
                fd.dataType match {
                  case ByteType     => (Some(lo.toByte), Some(hi.toByte))
                  case ShortType    => (Some(lo.toShort), Some(hi.toShort))
                  case IntegerType | DateType => (Some(lo.toInt), Some(hi.toInt))
                  case _            => (Some(lo), Some(hi)) // long, ts micros
                }
            }
          // the histogram only ever accompanies min/max (Catalyst's
          // estimator assumes complete numeric stats around one)
          val hist = hists.get(physName(fd.name))
            .filter(_ => kind.nonEmpty && minV.isDefined)
          if (ndv.isDefined || nulls.isDefined)
            out.put(Expressions.column(GraftTable.quoted(fd.name)),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): OptionalLong =
                  ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
                override def nullCount(): OptionalLong =
                  nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
                override def min(): java.util.Optional[Object] =
                  minV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def max(): java.util.Optional[Object] =
                  maxV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def histogram(): java.util.Optional[
                    org.apache.spark.sql.connector.read.colstats.Histogram] =
                  hist.map { h =>
                    java.util.Optional.of(
                      new org.apache.spark.sql.connector.read.colstats.Histogram {
                        override def height(): Double = h.height
                        override def bins(): Array[
                            org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                          h.bins.map { case TxnLog.HistBin(l, u, d) =>
                            new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                              override def lo(): Double = l
                              override def hi(): Double = u
                              override def ndv(): Long = d
                            }: org.apache.spark.sql.connector.read.colstats.HistogramBin
                          }.toArray
                      }: org.apache.spark.sql.connector.read.colstats.Histogram)
                  }.getOrElse(java.util.Optional.empty())
              })
        }
      }
      out
    }
  }

  private def dvPopcount(dv: String): Long =
    TxnLog.dvHex(dv).foldLeft(0L)((n, c) =>
      n + java.lang.Integer.bitCount(Character.digit(c, 16)))

  /** `spark.readStream.table(...)`: the change-feed stream, emitting
    * the table's own schema (no version stamp). Admission options
    * (`maxVersionsPerTrigger`, `maxBytesPerTrigger`,
    * `startingVersion`) ride the read options.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    def num(k: String, dflt: Long) =
      Option(options.get(k)).map(_.toLong).getOrElse(dflt)
    new TxnLogMicroBatchStream(root, required,
      num("maxVersionsPerTrigger", Long.MaxValue),
      num("maxBytesPerTrigger", Long.MaxValue),
      num("startingVersion", 0L),
      stampVersion = false)
  }
}

/** Vectorized path: every partition yields ColumnarBatches straight
  * from Spark's parquet reader (used only when no DV / `_file` /
  * unsupported type forces the row path).
  */
private class GraftColumnarReaderFactory(
    readFile: PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("columnar factory: use createColumnarReader")

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val batches = GraftPartitions.filesOf(partition).iterator.flatMap { p =>
      readFile(PartitionedFile(InternalRow.empty,
        TxnLog.sparkPath(p.path), 0L, p.length)).asInstanceOf[Iterator[ColumnarBatch]]
    }
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = batches.hasNext
      override def get(): ColumnarBatch = batches.next()
      override def close(): Unit = ()
    }
  }
}

private class GraftReaderFactory(
    readFiltered: PartitionedFile => Iterator[InternalRow],
    readAll: PartitionedFile => Iterator[InternalRow],
    fileMetaIdx: Int,
    posMetaIdx: Int,
    rowIdMetaIdx: Int,
    matRidIdx: Int,
    outTypes: Array[org.apache.spark.sql.types.DataType])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = GraftPartitions.filesOf(partition).iterator.flatMap(fileRows)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = rows.hasNext
      override def get(): InternalRow = rows.next()
      override def close(): Unit = ()
    }
  }

  /** One file's rows (DV applied, metadata columns spliced) — the row
    * counter is PER FILE, so concatenating files in a bucket
    * partition keeps `_pos` and the DV coordinate exact.
    */
  private def fileRows(p: GraftFilePartition): Iterator[InternalRow] = {
    val pf = PartitionedFile(InternalRow.empty,
      TxnLog.sparkPath(p.path), 0L, p.length)
    val readFile = if (p.dvHex.isEmpty) readFiltered else readAll
    val base: Iterator[InternalRow] =
      readFile(pf).asInstanceOf[Iterator[Any]].flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r: InternalRow   => Iterator.single(r)
      }
    val splice = fileMetaIdx >= 0 || posMetaIdx >= 0 || rowIdMetaIdx >= 0
    val rows =
      if (p.dvHex.isEmpty && !splice) base
      else {
        // ONE pass: the file is a single partition read in order, so
        // the running count IS the row index (`_pos`, and the DV
        // coordinate — same hex layout as [[TxnLog.dvBitSet]])
        val path = org.apache.spark.unsafe.types.UTF8String.fromString(p.path)
        val n = outTypes.length
        var ri = -1L
        base.flatMap { r =>
          ri += 1
          if (p.dvHex.nonEmpty && GraftReaderFactory.bitSet(p.dvHex, ri)) None
          else if (!splice) Some(r)
          else {
            val arr = new Array[Any](n)
            var j = 0
            var i = 0
            while (i < n) {
              if (i == fileMetaIdx) arr(i) = path
              else if (i == posMetaIdx) arr(i) = ri
              else if (i == rowIdMetaIdx)
                // materialized id wins (carried through a rewrite);
                // else this file's allocated base + row index; files
                // committed without row counts serve null (sound)
                arr(i) =
                  if (matRidIdx >= 0 && !r.isNullAt(matRidIdx)) r.getLong(matRidIdx)
                  else if (p.rowBase >= 0L) p.rowBase + ri
                  else null
              else { arr(i) = if (r.isNullAt(j)) null else r.get(j, outTypes(i)); j += 1 }
              i += 1
            }
            Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr))
          }
        }
      }
    rows
  }
}

private object GraftReaderFactory {
  /** Bit `ri` of the hex bitmap: word `ri/64` renders as 16 hex chars
    * MSB-first, so the bit lives in char `ri/64*16 + 15 - (ri%64)/4`
    * at weight `2^(ri%4 of the nibble)` — the executor-side mirror of
    * [[TxnLog.dvBitSet]]. Rows past the bitmap's end are live.
    */
  def bitSet(hex: String, ri: Long): Boolean = {
    val b = ri % 64
    val charPos = (ri / 64) * 16 + 15 - b / 4
    charPos < hex.length &&
      ((Character.digit(hex.charAt(charPos.toInt), 16) >> (b % 4)) & 1) != 0
  }
}

/** Filter translation for the catalog surface — small, explicit, and
  * SOUND: anything unrecognized translates to None, which keeps files
  * (pruning) or fails `canDeleteWhere` (DELETE) instead of guessing.
  */
/** A big runtime IN-set carried as a PRE-SORTED value array — the
  * marker [[TxnLogFileIndex]] consumes for per-file window probing
  * (binary search of the file's typed [lo, hi] into the set, then
  * bloom/bucket point probes on the survivors). Never evaluated
  * row-wise: the engine re-evaluates the ORIGINAL predicate above the
  * scan (every pushed filter stays a residual), this node only decides
  * which files open. `values` are catalyst-internal, null-free,
  * sorted by `attr.dataType`'s interpreted ordering.
  */
private[sources] case class GraftInProbe(
    attr: org.apache.spark.sql.catalyst.expressions.AttributeReference,
    values: Seq[Any])
  extends org.apache.spark.sql.catalyst.expressions.Expression
    with org.apache.spark.sql.catalyst.expressions.Unevaluable {
  override def children: Seq[ce.Expression] = Seq(attr)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[ce.Expression]): ce.Expression =
    copy(attr = newChildren.head.asInstanceOf[ce.AttributeReference])
}

private[sources] object GraftFilters {

  /** V1 [[Filter]] → a catalyst predicate over PHYSICAL attribute
    * names, in the exact shapes [[TxnLogFileIndex]] prunes on.
    * Literals convert to Catalyst internal values (`Literal.create`),
    * so string stats compare as UTF8String and timestamps as micros.
    */
  /** V1 source Filter → a row-level [[org.apache.spark.sql.Column]]
    * over LOGICAL names — what [[GraftTable.replaceWhere]] deletes
    * by. Dotted attribute names resolve through structs naturally
    * (`col("s.x")`); values are the EXTERNAL Scala types the V1
    * Filter API carries, which `lit` maps back to Catalyst. None =
    * not expressible (the caller must refuse, not approximate: this
    * predicate DELETES).
    */
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{not => fnot}
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isInCollection(vs.toSeq))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, p)   => Some(col(a).startsWith(p))
      case StringEndsWith(a, p)     => Some(col(a).endsWith(p))
      case StringContains(a, p)     => Some(col(a).contains(p))
      case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case Or(l, r)  => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case Not(c)    => toColumn(c).map(fnot)
      case _: AlwaysTrue  => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  def toCatalyst(f: Filter, schema: StructType,
                 renames: Map[String, String]): Option[ce.Expression] = {
    // The name arrives as a quoted multipart identifier (`first name`,
    // `a,b`, s.x) and is parsed into its parts. A two-part name — a
    // nested pushdown reference — resolves through the struct to its
    // LEAF type; the emitted attribute keeps the dotted name, which is
    // the stat key [[GraftTable.statPaths]] collects under. Renames
    // apply to the TOP-level segment only (nested fields never rename
    // — the flat column mapping does not address struct leaves).
    def attr(name: String): Option[ce.AttributeReference] =
      scala.util.Try(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseMultipartIdentifier(name)).toOption.flatMap {
        case Seq(top) =>
          schema.fields.find(_.name == top).map(fd =>
            ce.AttributeReference(renames.getOrElse(top, top), fd.dataType)())
        case Seq(top, leaf) =>
          schema.fields.find(_.name == top).map(_.dataType).flatMap {
            case st: StructType => st.fields.find(_.name == leaf).map(g =>
              ce.AttributeReference(
                s"${renames.getOrElse(top, top)}.$leaf", g.dataType)())
            case _ => None
          }
        case _ => None // one level of nesting only
      }
    def lit(v: Any, dt: DataType): Option[ce.Literal] =
      try Some(ce.Literal.create(v, dt))
      catch { case _: RuntimeException => None }
    f match {
      case EqualTo(a, v) =>
        attr(a).flatMap(ar => lit(v, ar.dataType).map(ce.EqualTo(ar, _)))
      case EqualNullSafe(a, v) =>
        attr(a).flatMap(ar => lit(v, ar.dataType).map(ce.EqualNullSafe(ar, _)))
      case GreaterThan(a, v) =>
        attr(a).flatMap(ar => lit(v, ar.dataType).map(ce.GreaterThan(ar, _)))
      case GreaterThanOrEqual(a, v) =>
        attr(a).flatMap(ar => lit(v, ar.dataType).map(ce.GreaterThanOrEqual(ar, _)))
      case LessThan(a, v) =>
        attr(a).flatMap(ar => lit(v, ar.dataType).map(ce.LessThan(ar, _)))
      case LessThanOrEqual(a, v) =>
        attr(a).flatMap(ar => lit(v, ar.dataType).map(ce.LessThanOrEqual(ar, _)))
      case In(a, vs) =>
        attr(a).flatMap { ar =>
          val ls = vs.toSeq.map(lit(_, ar.dataType))
          if (ls.forall(_.isDefined)) Some(ce.In(ar, ls.flatten)) else None
        }
      case IsNull(a)    => attr(a).map(ce.IsNull)
      case IsNotNull(a) => attr(a).map(ce.IsNotNull)
      case StringStartsWith(a, p) =>
        attr(a).flatMap(ar => lit(p, StringType).map(ce.StartsWith(ar, _)))
      case And(l, r) =>
        for (le <- toCatalyst(l, schema, renames);
             re <- toCatalyst(r, schema, renames)) yield ce.And(le, re)
      case Or(l, r) =>
        // OR prunes only when BOTH sides are understood — a half-
        // translated OR could unsoundly drop files
        for (le <- toCatalyst(l, schema, renames);
             re <- toCatalyst(r, schema, renames)) yield ce.Or(le, re)
      case _ => None
    }
  }

  /** V2 runtime-filter [[V2Predicate]] → a catalyst predicate over
    * PHYSICAL attribute names, in the shapes
    * [[TxnLogFileIndex.keep]] prunes on. Covers what Spark's
    * dynamic-pruning machinery actually emits (the materialized
    * subquery arrives as `IN` / `=` over one column, possibly under
    * AND/OR); anything else — including a literal whose V2 type
    * differs from the attribute's — returns None, and the caller
    * skips it (sound: no narrowing).
    */
  def v2ToCatalyst(p: V2Predicate, schema: StructType,
                   renames: Map[String, String]): Option[ce.Expression] = {
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr}
    def attr(e: V2Expr): Option[ce.AttributeReference] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        schema.fields.find(_.name == r.fieldNames()(0)).map(fd =>
          ce.AttributeReference(renames.getOrElse(fd.name, fd.name), fd.dataType)())
      case _ => None
    }
    def lit(e: V2Expr, dt: DataType): Option[ce.Literal] = e match {
      // V2 LiteralValue carries the CATALYST-INTERNAL value
      // (UTF8String, micros, days) — wrap as-is; require the exact
      // attribute type so stats never compare across kinds
      case l: V2Literal[_] if l.dataType == dt => Some(ce.Literal(l.value, dt))
      case _ => None
    }
    def sub(e: V2Expr): Option[ce.Expression] = e match {
      case q: V2Predicate => v2ToCatalyst(q, schema, renames)
      case _              => None
    }
    val kids = p.children()
    p.name() match {
      case "IN" if kids.nonEmpty =>
        attr(kids.head).flatMap { a =>
          val ls = kids.tail.toSeq.map(lit(_, a.dataType))
          if (ls.isEmpty || !ls.forall(_.isDefined)) None
          // a big runtime IN (a DPP subquery can carry 10^5 keys)
          // becomes a SORTED-SET PROBE ([[GraftInProbe]]): per-file
          // admission binary-searches the file's [lo, hi] window into
          // the sorted key set — O(log |keys|) per file instead of an
          // exists() over every literal — then (when the window is
          // small) probes the file's bloom/bucket stats per surviving
          // key. Strictly tighter than the r16 [min, max] envelope: a
          // SPARSE key set admits only files whose range actually
          // contains a key, and bloom point-precision survives at any
          // set size. Sound: the window is a superset of the file's
          // matching keys.
          else if (ls.size > 64) {
            val vals = ls.flatten
            val ord = org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(a.dataType)
            val nn = vals.map(_.value).filter(_ != null)
            if (nn.isEmpty) Some(ce.In(a, vals))
            else Some(GraftInProbe(a, nn.sorted(ord.asInstanceOf[Ordering[Any]])))
          } else Some(ce.In(a, ls.flatten))
        }
      case "=" | "<=>" if kids.length == 2 =>
        val mk: (ce.AttributeReference, ce.Literal) => ce.Expression =
          if (p.name() == "=") ce.EqualTo(_, _) else ce.EqualNullSafe(_, _)
        attr(kids(0)).flatMap(a => lit(kids(1), a.dataType).map(mk(a, _)))
          .orElse(attr(kids(1)).flatMap(a => lit(kids(0), a.dataType).map(mk(a, _))))
      case "AND" if kids.length == 2 =>
        for (l <- sub(kids(0)); r <- sub(kids(1))) yield ce.And(l, r)
      case "OR" if kids.length == 2 =>
        for (l <- sub(kids(0)); r <- sub(kids(1))) yield ce.Or(l, r)
      case "IS_NULL" if kids.length == 1     => attr(kids(0)).map(ce.IsNull)
      case "IS_NOT_NULL" if kids.length == 1 => attr(kids(0)).map(ce.IsNotNull)
      case _ => None
    }
  }

  /** Render literals through Catalyst's own SQL formatter (`TIMESTAMP
    * '...'`, escaped strings) and backtick-quote every column — the
    * two places the default builder's output can diverge from what
    * Spark's parser accepts.
    */
  private class PredicateSQL extends V2ExpressionSQLBuilder {
    override protected def visitLiteral(l: V2Literal[_]): String =
      ce.Literal(l.value, l.dataType).sql
    override protected def visitNamedReference(ref: NamedReference): String =
      ref.fieldNames.map(n => s"`${n.replace("`", "``")}`").mkString(".")
  }

  /** V2 [[V2Predicate]] → a Spark [[org.apache.spark.sql.Column]],
    * via SQL rendering — arbitrary deterministic shapes (arithmetic,
    * functions) survive, which is what lets `DELETE FROM ... WHERE
    * k % 5 = 2` run as a deletion-vector transaction.
    */
  def predicateToColumn(p: V2Predicate): Option[org.apache.spark.sql.Column] =
    p.name() match {
      case "ALWAYS_TRUE"  => Some(lit(true))
      case "ALWAYS_FALSE" => Some(lit(false))
      case _ =>
        // build() throws IllegalArgument on shapes it cannot render;
        // expr() parses EAGERLY and throws ParseException (an
        // AnalysisException — NOT a RuntimeException) on SQL the
        // renderer emitted but the parser rejects: both must answer
        // canDeleteWhere=false, not propagate
        try Some(org.apache.spark.sql.functions.expr(new PredicateSQL().build(p)))
        catch { case scala.util.control.NonFatal(_) => None }
    }
}
