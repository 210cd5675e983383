package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import TxnLog.uuid12

/** SQL maintenance verbs for [[TxnLog]] tables — Spark 4's
  * [[org.apache.spark.sql.connector.catalog.ProcedureCatalog]] wired
  * to the log's programmatic maintenance API, so a table owner living
  * entirely in the SQL surface can run every maintenance job without
  * a Scala hatch (the Iceberg `CALL catalog.system.*` recipe):
  *
  * {{{
  * CALL graft.system.checkpoint(table => 'db.t')
  * CALL graft.system.vacuum(table => 'db.t', retain_from_version => 7)
  * CALL graft.system.vacuum_staging(table => 'db.t')
  * CALL graft.system.optimize_zorder(table => 'db.t',
  *        x_col => 'x', y_col => 'y', n_files => 8)
  * CALL graft.system.compact_deletes(table => 'db.t',
  *        min_deleted_fraction => 0.3)
  * }}}
  *
  * Each procedure returns its receipt as rows (the published commit
  * version / reclaimed counts), is transactional exactly like its
  * programmatic twin (maintenance commits ride the standard conflict
  * matrix; time travel stays intact), and takes the table as a
  * dot-separated identifier resolved against the catalog's own
  * warehouse — never a raw filesystem path.
  */
private[sources] object GraftProcedures {

  val Namespace: Array[String] = Array("system")

  val Names: Seq[String] =
    Seq("checkpoint", "vacuum", "vacuum_staging", "vacuum_refs",
      "optimize_zorder", "compact_deletes", "compact_files", "analyze",
      "refresh_mv", "set_not_null", "create_branch", "create_tag",
      "publish_branch", "drop_ref", "restore", "clone", "copy_into",
      "set_partitioning")

  /** Parse a `set_partitioning` spec — comma-separated transforms over
    * LOGICAL column names: `c`, `bucket(n, c)`, `years|months|days|
    * hours(c)`; '' clears. Returns log tokens over PHYSICAL names.
    */
  def parsePartitionSpec(spec: String,
                         toPhysical: String => String): Seq[String] = {
    val BucketRe = """bucket\(\s*(\d+)\s*[,;]\s*([^)]+?)\s*\)""".r
    val TemporalRe = """(years|months|days|hours)\(\s*([^)]+?)\s*\)""".r
    // split on commas OUTSIDE parens (bucket(8, uid) carries one)
    val items = new scala.collection.mutable.ArrayBuffer[String]
    var depth = 0; val cur = new StringBuilder
    spec.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => items += cur.result(); cur.clear()
      case c => cur.append(c)
    }
    items += cur.result()
    items.map(_.trim).filter(_.nonEmpty).toSeq.map {
      case BucketRe(n, c)   => TxnLog.bucketStatKey(n.toInt, toPhysical(c))
      case TemporalRe(u, c) => TxnLog.temporalToken(u, toPhysical(c))
      case c                => toPhysical(c)
    }
  }

  /** The materialized view's exactly-once consumer id: derived from
    * the RESOLVED target root's canonical path (hashed — a raw path
    * can carry characters the txnId token grammar forbids), so every
    * spelling of one target shares one ledger offset.
    */
  def mvConsumerId(tgtRoot: String): String = {
    val canon = new java.io.File(tgtRoot).getCanonicalPath
    "mv-" + java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** One finished procedure result: a single-partition local relation
    * of the receipt rows (metadata-scale by construction).
    */
  private class ReceiptScan(schema: StructType, out: Seq[Seq[Any]])
    extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = out.map(vals =>
      new GenericInternalRow(vals.map {
        case s: String => UTF8String.fromString(s)
        case other     => other.asInstanceOf[AnyRef]
      }.toArray[Any]): InternalRow).toArray
    override def description(): String = s"GraftProcedureReceipt(${schema.fieldNames.mkString(",")})"
  }

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def paramWithDefault(name: String, dt: DataType,
                               default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  /** Build one procedure. `resolveRoot` maps the `table` argument
    * ('db.t') to its warehouse directory — supplied by the catalog so
    * identifier hygiene (no separators, no dot-dot) is enforced in
    * exactly one place.
    */
  /** `resolveFreshRoot` maps an identifier to a NOT-YET-EXISTING
    * table's directory (same hygiene, no existence requirement) —
    * only `clone` needs it, for its target.
    */
  def load(procName: String, resolveRoot: String => String,
           resolveFreshRoot: String => String = { t =>
             throw new UnsupportedOperationException(
               s"graft: procedure cannot create table $t here")
           }): UnboundProcedure = {
    def bound(params: Seq[ProcedureParameter], outSchema: StructType)
             (run: (SparkSession, InternalRow) => Seq[Seq[Any]]): UnboundProcedure =
      new UnboundProcedure {
        override def name(): String = procName
        override def description(): String = s"graft maintenance procedure $procName"
        override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
          override def name(): String = procName
          override def description(): String = s"graft maintenance procedure $procName"
          override def parameters(): Array[ProcedureParameter] = params.toArray
          // side-effecting by design — never cached or re-run by the planner
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): java.util.Iterator[Scan] =
            java.util.List.of[Scan](
              new ReceiptScan(outSchema, run(SparkSession.active, input))).iterator()
        }
      }
    def root(input: InternalRow): String =
      resolveRoot(input.getUTF8String(0).toString)

    procName match {
      case "checkpoint" =>
        bound(Seq(param("table", StringType)),
          StructType(Seq(StructField("checkpointed_version", LongType, nullable = false)))) {
          (_, in) => Seq(Seq(TxnLog.checkpoint(root(in))))
        }
      case "vacuum" =>
        bound(Seq(param("table", StringType),
            paramWithDefault("retain_from_version", LongType, "-1"),
            // Delta's RETAIN n HOURS spelling: the horizon resolves
            // through the monotonized commit timestamps
            paramWithDefault("retain_hours",
              org.apache.spark.sql.types.DoubleType, "CAST(-1.0 AS DOUBLE)"),
            // dry_run = true: report the exact reclaim set, delete
            // nothing (Delta's VACUUM DRY RUN — audit before the
            // horizon moves)
            paramWithDefault("dry_run",
              org.apache.spark.sql.types.BooleanType, "false")),
          StructType(Seq(StructField("deleted_files", LongType, nullable = false)))) {
          (_, in) =>
            val v = if (in.isNullAt(1)) -1L else in.getLong(1)
            val h = if (in.isNullAt(2)) -1.0 else in.getDouble(2)
            val dry = !in.isNullAt(3) && in.getBoolean(3)
            require((v >= 0L) ^ (h >= 0.0),
              "vacuum: give exactly one of retain_from_version / retain_hours")
            val deleted =
              if (v >= 0L) TxnLog.vacuum(root(in), v, dryRun = dry)
              else TxnLog.vacuumRetainHours(root(in), h, dryRun = dry)
            Seq(Seq(deleted.size.toLong))
        }
      case "vacuum_staging" =>
        bound(Seq(param("table", StringType)),
          StructType(Seq(StructField("reclaimed", LongType, nullable = false)))) {
          (_, in) => Seq(Seq(TxnLog.vacuumStaging(root(in)).size.toLong))
        }
      // reclaim bytes stranded under DROPPED branches (log-less husk
      // dirs): files main's log never referenced delete, published
      // bytes stay where main addresses them
      case "vacuum_refs" =>
        bound(Seq(param("table", StringType)),
          StructType(Seq(StructField("reclaimed", LongType, nullable = false)))) {
          (_, in) => Seq(Seq(TxnLog.vacuumRefs(root(in)).size.toLong))
        }
      // idempotent bulk file ingest: files already in the table's
      // ingest ledger are skipped, the rest land as ONE commit
      case "copy_into" =>
        bound(Seq(param("table", StringType),
            param("source", StringType),
            paramWithDefault("format", StringType, "'parquet'"),
            paramWithDefault("pattern", StringType, "'*'")),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("loaded_files", LongType, nullable = false),
            StructField("skipped_files", LongType, nullable = false),
            StructField("rows", LongType, nullable = false)))) {
          (s, in) =>
            val r = TxnLog.copyInto(s, root(in),
              in.getUTF8String(1).toString,
              in.getUTF8String(2).toString,
              in.getUTF8String(3).toString)
            Seq(Seq(r.version, r.loadedFiles, r.skippedFiles, r.rows))
        }
      case "optimize_zorder" =>
        // either the legacy 2-dim spelling (x_col/y_col) or the
        // N-dim one (cols => 'a,b,c') — exactly one of the two
        bound(Seq(param("table", StringType),
            paramWithDefault("x_col", StringType, "''"),
            paramWithDefault("y_col", StringType, "''"),
            paramWithDefault("n_files", LongType, "8"),
            paramWithDefault("cols", StringType, "''"),
            // X-A92/X-A94: curve => 'hilbert' clusters along the
            // jump-free Hilbert curve at ANY dimensionality (2-dim
            // runs the canonical xy2d, d>2 Skilling's transpose);
            // morton stays the default
            paramWithDefault("curve", StringType, "'morton'")),
          StructType(Seq(StructField("version", LongType, nullable = false)))) {
          (s, in) =>
            def str(i: Int) = if (in.isNullAt(i)) "" else in.getUTF8String(i).toString
            val (x, y, csv) = (str(1), str(2), str(4))
            val cols =
              if (csv.nonEmpty) csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
              else Seq(x, y).filter(_.nonEmpty)
            require(cols.nonEmpty && (csv.isEmpty || (x.isEmpty && y.isEmpty)),
              "optimize_zorder: give x_col/y_col OR cols => 'a,b,...', not both")
            val curve = Option(str(5)).filter(_.nonEmpty).getOrElse("morton")
            Seq(Seq(TxnLog.optimizeZorderN(s, root(in), cols,
              in.getLong(3).toInt, txnId = s"call-zorder-a$uuid12",
              curve = curve).version))
        }
      case "compact_deletes" =>
        bound(Seq(param("table", StringType),
            paramWithDefault("min_deleted_fraction", org.apache.spark.sql.types.DoubleType, "0.3")),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("compacted_files", LongType, nullable = false)))) {
          (s, in) =>
            val c = TxnLog.optimizeCompactDeletes(s, root(in), in.getDouble(1),
              txnId = s"call-compact-a$uuid12")
            Seq(Seq(c.map(_.version).getOrElse(-1L),
              c.map(_.removed.size.toLong).getOrElse(0L)))
        }
      case "compact_files" =>
        bound(Seq(param("table", StringType),
            paramWithDefault("small_mb", LongType, "32"),
            paramWithDefault("target_mb", LongType, "128"),
            // Delta's OPTIMIZE ... WHERE: scope the rewrite to files
            // the predicate admits through per-file stats — the
            // "optimize yesterday's partition" shape; '' = whole table
            paramWithDefault("where", StringType, "''")),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("compacted_files", LongType, nullable = false)))) {
          (s, in) =>
            val w = if (in.isNullAt(3)) "" else in.getUTF8String(3).toString
            val c = TxnLog.compactSmallFiles(s, root(in),
              smallBytes = in.getLong(1) * 1024 * 1024,
              targetBytes = in.getLong(2) * 1024 * 1024,
              txnId = s"call-cfiles-a$uuid12",
              where = Option(w).filter(_.nonEmpty))
            Seq(Seq(c.map(_.version).getOrElse(-1L),
              c.map(_.removed.size.toLong).getOrElse(0L)))
        }
      case "analyze" =>
        bound(Seq(param("table", StringType),
            paramWithDefault("columns", StringType, "''"),
            // > 0 additionally records TABLE-level equi-height
            // histograms (range-predicate selectivity for CBO)
            paramWithDefault("histogram_bins", LongType, "0")),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("analyzed_files", LongType, nullable = false)))) {
          (s, in) =>
            val colsArg = if (in.isNullAt(1)) "" else in.getUTF8String(1).toString
            val cols = colsArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val bins = if (in.isNullAt(2)) 0 else in.getLong(2).toInt
            val c = TxnLog.analyzeTable(s, root(in), cols,
              txnId = s"call-analyze-a$uuid12", histBins = bins)
            Seq(Seq(c.version, c.restatFiles.size.toLong))
        }
      // SQL materialized-view refresh: the target is an exact KEYED
      // MIRROR of the source, maintained incrementally — per source
      // version one target transaction (adds merge, DV retractions
      // and rewrite-dropped keys delete), exactly-once via the
      // offsets-in-the-target-ledger contract (TxnStream.maintainMirror,
      // X-A30): a replayed refresh — crash, duplicate scheduler, two
      // racing CALLs — applies nothing twice, and there is no side
      // offset store to desync.
      case "refresh_mv" =>
        bound(Seq(param("source", StringType), param("target", StringType),
            param("key", StringType)),
          StructType(Seq(
            StructField("applied_versions", LongType, nullable = false),
            StructField("source_head", LongType, nullable = false)))) {
          (s, in) =>
            val srcRoot = resolveRoot(in.getUTF8String(0).toString)
            val tgtIdent = in.getUTF8String(1).toString
            val tgtRoot = resolveRoot(tgtIdent)
            val key = in.getUTF8String(2).toString
            require(TxnLog.currentVersion(tgtRoot) > 0L,
              s"refresh_mv: target $tgtIdent must be a created graft table " +
                "(CREATE TABLE it with the mirror's schema first)")
            // one MV = one consumer: the RESOLVED target root (not
            // the user-typed identifier text) is the stable consumer
            // id, so every spelling of the same target — quoting,
            // case, qualification — shares one ledger offset instead
            // of a fresh consumer replaying the source's history
            // (which fails outright once pre-horizon source versions
            // are vacuumed)
            val applied = TxnStream.maintainMirror(s, srcRoot, tgtRoot,
              consumerId = GraftProcedures.mvConsumerId(tgtRoot), keyCol = key)
            Seq(Seq(applied.size.toLong, TxnLog.currentVersion(srcRoot)))
        }
      // SET NOT NULL as a procedure: Spark's analyzer refuses the
      // nullable -> non-nullable direction of ALTER COLUMN outright
      // ("Cannot change nullable column to non-nullable") because IT
      // cannot prove the data; the log CAN — stats fast path, else
      // one DV-filtered probe — so the tightening gets its own CALL.
      // (DROP NOT NULL stays plain `ALTER COLUMN ... DROP NOT NULL`.)
      case "set_not_null" =>
        bound(Seq(param("table", StringType), param("column", StringType)),
          StructType(Seq(
            StructField("version", LongType, nullable = false)))) {
          (s, in) =>
            val c = TxnLog.setColumnNullability(s, root(in),
              in.getUTF8String(1).toString, nullable = false,
              txnId = s"call-setnotnull-a$uuid12")
            Seq(Seq(c.version))
        }
      // ---- named refs: the write-audit-publish workflow ----
      // create_branch forks the table at its current head (O(files)
      // metadata, zero data copied); writes land on
      // `db.t.branch_<name>` invisible to main; publish_branch
      // fast-forwards main ATOMICALLY (any main movement since the
      // fork conflicts, racing publishes included). create_tag pins a
      // version under a name for `VERSION AS OF 'name'`; both kinds
      // of ref hold the vacuum horizon.
      case "create_branch" =>
        bound(Seq(param("table", StringType), param("branch", StringType)),
          StructType(Seq(
            StructField("fork_version", LongType, nullable = false)))) {
          (_, in) =>
            val r = root(in)
            val name = in.getUTF8String(1).toString
            TxnLog.createBranch(r, name, txnId = s"fork-$name-a$uuid12")
            Seq(Seq(TxnLog.branchForkVersion(r, name)))
        }
      case "create_tag" =>
        bound(Seq(param("table", StringType), param("tag", StringType),
            paramWithDefault("version", LongType, "-1")),
          StructType(Seq(
            StructField("tagged_version", LongType, nullable = false)))) {
          (_, in) =>
            val v = if (in.isNullAt(2) || in.getLong(2) < 0L) Long.MaxValue
                    else in.getLong(2)
            Seq(Seq(TxnLog.createTag(root(in),
              in.getUTF8String(1).toString, v)))
        }
      case "publish_branch" =>
        bound(Seq(param("table", StringType), param("branch", StringType)),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("added_files", LongType, nullable = false),
            StructField("removed_files", LongType, nullable = false)))) {
          (s, in) =>
            val name = in.getUTF8String(1).toString
            val c = TxnLog.publishBranch(s, root(in), name,
              txnId = s"publish-$name-a$uuid12")
            Seq(Seq(c.version, c.added.size.toLong, c.removed.size.toLong))
        }
      case "drop_ref" =>
        bound(Seq(param("table", StringType), param("name", StringType)),
          StructType(Seq(
            StructField("dropped", org.apache.spark.sql.types.BooleanType,
              nullable = false)))) {
          (_, in) =>
            Seq(Seq(java.lang.Boolean.valueOf(
              TxnLog.dropRef(root(in), in.getUTF8String(1).toString))))
        }
      case "set_partitioning" =>
        // X-A86: partition-spec evolution — one metadata commit, zero
        // data movement; new writes cluster by the new spec, old files
        // keep their (still sound) stats. spec = 'days(ts), bucket(8,
        // uid), c' over logical names; '' clears the partitioning.
        bound(Seq(param("table", StringType), param("spec", StringType)),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("partitioning", StringType, nullable = false)))) {
          (_, in) =>
            val r = root(in)
            val renames = TxnLog.columnMapping(r)
            val tokens = parsePartitionSpec(in.getUTF8String(1).toString,
              c => renames.getOrElse(c, c))
            val c = TxnLog.setPartitioning(r, tokens,
              txnId = s"setpart-a$uuid12")
            Seq(Seq(c.version, tokens.mkString(",")))
        }
      case "restore" =>
        // RESTORE TABLE t TO VERSION AS OF v: one strict commit resets
        // the live set (files + DVs + schema + constraints) to v's;
        // history keeps every intermediate version
        bound(Seq(param("table", StringType), param("version", LongType)),
          StructType(Seq(
            StructField("restored_version", LongType, nullable = false),
            StructField("new_head", LongType, nullable = false)))) {
          (_, in) =>
            val v = in.getLong(1)
            Seq(Seq(v, TxnLog.restore(root(in), v,
              txnId = s"restore-v$v-a$uuid12")))
        }
      case "clone" =>
        // SHALLOW CLONE: target becomes an independent table sharing
        // the source's bytes (zero copied); the fork version is
        // pinned on the source against vacuum until the clone drops
        bound(Seq(param("source", StringType), param("target", StringType)),
          StructType(Seq(
            StructField("cloned_version", LongType, nullable = false)))) {
          (_, in) =>
            Seq(Seq(TxnLog.cloneTable(root(in),
              resolveFreshRoot(in.getUTF8String(1).toString),
              txnId = s"clone-a$uuid12")))
        }
      case other =>
        throw new UnsupportedOperationException(s"graft: no procedure system.$other")
    }
  }
}
