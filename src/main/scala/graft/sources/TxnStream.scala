package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, input_file_name, lit, regexp_replace}

/** Streaming READ side of [[TxnLog]]: new commits surface as
  * micro-batches, so every incremental consumer in the repo
  * (incremental MV maintenance X-A14, incremental dedup X-D10) can
  * subscribe to a transactional table instead of a raw directory —
  * the Delta streaming-source / change-data-feed recipe (Armbrust
  * et al., VLDB 2020 §4.4; reference behavior: the dashboard's
  * poll-for-new-rows loop, `streamlit-app.py`, re-expressed as
  * commit-log tailing instead of re-querying the whole table).
  *
  * Two layers:
  *
  *  - [[readChanges]] — the rows ADDED in a version range, stamped
  *    with their commit version: the change feed. Appends surface
  *    their rows; copy-on-write upserts surface the rewritten files'
  *    rows (post-images), exactly like Delta CDF without the
  *    pre-image columns. ONE parquet scan for the whole range plus a
  *    broadcast file→version dim — never a scan per commit.
  *  - [[maintainInto]] — an exactly-once incremental consumer: each
  *    source commit is applied as ONE transaction on a target
  *    [[TxnLog]] table whose txnId encodes (consumerId, version).
  *    The consumer's offset IS the target table's committed-txn
  *    ledger — there is no separate offset store to desync: a crash
  *    after apply-but-before-offset-write is impossible by
  *    construction, and any replay (restart, redelivery, a second
  *    consumer instance) dedupes through [[TxnLog.commit]]'s txnId
  *    check. This is Delta's txnAppId/txnVersion idempotent-writer
  *    contract pointed at the READ side.
  */
object TxnStream {

  /** Stamp column added by [[readChanges]]. */
  val CommitVersionCol = "_commit_version"

  /** Commit actions whose remove+add rewrites preserve the row set
    * (layout maintenance): their files change, their rows don't, so
    * mirror maintenance never needs to diff them.
    */
  private[sources] val RowPreservingActions =
    Set("zorder", "compact", "compact-deletes")

  /** The change feed: rows added by commits with
    * `fromExclusive < version <= toInclusive`, each stamped with its
    * commit version. Metadata-only planning (the log names the files;
    * no data-directory listing), one scan over the union of added
    * files, commit version recovered per-row by a broadcast join on
    * the file path. `mergeSchema` spans schema generations, so a feed
    * crossing a schema-evolve commit still reads (old rows carry
    * nulls for columns they predate).
    */
  def readChanges(s: SparkSession, root: String, fromExclusive: Long,
                  toInclusive: Long = Long.MaxValue,
                  excludeRowPreserving: Boolean = false): DataFrame = {
    // `excludeRowPreserving` drops a finalized-COW commit's survivor
    // files (`radds` — row-preserving by contract): consumers that
    // only need CHANGED rows (the mirror maintainer) skip re-reading
    // every touched file; the default keeps the full re-add feed
    val fileToVersion = TxnLog.commitsInRange(root, fromExclusive, toInclusive)
      .flatMap { c =>
        val adds = if (excludeRowPreserving && c.radds.nonEmpty)
          c.added.filterNot(c.radds.toSet) else c.added
        adds.map(_ -> c.version)
      }
    if (fileToVersion.isEmpty)
      // empty range: keep the head snapshot's schema so downstream
      // plans still resolve (plus the stamp column)
      TxnLog.read(s, root, toInclusive, mergeSchema = true).limit(0)
        .withColumn(CommitVersionCol, lit(0L))
    else {
      import s.implicits._
      val dim = fileToVersion.toDF("_path", CommitVersionCol)
      // era-aware open: the range-end declared schema spans widening
      // and add-column generations (mergeSchema cannot widen INT to
      // BIGINT across a mid-range ALTER COLUMN TYPE)
      val out = TxnLog.openFiles(s,
          TxnLog.rawTableSchema(root, toInclusive), fileToVersion.map(_._1))
        .withColumn("_path", // URI -> raw path, same decode as the DV join
          org.apache.spark.sql.functions.url_decode(
            regexp_replace(input_file_name(), "^file:(//)?", "")))
        .join(broadcast(dim), "_path")
        .drop("_path")
      // files store physical column names; surface the logical names
      // as of the range's end (the Delta CDF current-schema contract)
      TxnLog.toLogical(out, TxnLog.columnMapping(root, toInclusive))
    }
  }

  /** The DELETE half of the change feed: pre-images of rows marked
    * dead by deletion-vector commits with
    * `fromExclusive < version <= toInclusive`, stamped with the
    * deleting commit's version. Complements [[readChanges]] (which
    * surfaces adds/post-images): a downstream mirror applies adds
    * from one and retractions from the other and converges to the
    * source snapshot. Planning is metadata-only — the delete commits
    * name their files and carry their bitmaps; the scan touches ONLY
    * DV'd files and the positive bit test selects exactly the rows
    * each commit killed. Files are immutable until [[TxnLog.vacuum]],
    * so a feed read within the retention horizon always resolves —
    * the same contract as time travel.
    */
  def readDeletes(s: SparkSession, root: String, fromExclusive: Long,
                  toInclusive: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dels = TxnLog.commitsInRange(root, fromExclusive, toInclusive)
      .flatMap(c => c.dvFiles.zip(c.dvs).flatMap { case (f, dv) =>
        // sidecar refs resolve here; one dim row per NONZERO 64-bit
        // word so the join carries 8 bytes per matched row, never the
        // whole bitmap (see [[TxnLog.dvWords]] — the full-bitmap join
        // was O(rows × bitmap-bytes) through the build-row copy)
        TxnLog.dvWords(dv).map { case (w, bits) => (f, w, bits, c.version) } })
    if (dels.isEmpty)
      TxnLog.read(s, root, toInclusive, mergeSchema = true).limit(0)
        .withColumn(CommitVersionCol, lit(0L))
    else {
      val dim = s.createDataFrame(dels).toDF("_dvp", "_w", "_bits", CommitVersionCol)
      val out = TxnLog.openFiles(s,
          TxnLog.rawTableSchema(root, toInclusive), dels.map(_._1).distinct)
        .withColumn("_path", TxnLog.metaFilePath)
        .withColumn("_ri", col("_metadata.row_index"))
        .join(broadcast(dim),
          col("_path") === col("_dvp") &&
            TxnLog.dvWordIdx(col("_ri")) === col("_w"))
        .filter(TxnLog.dvWordBitSet(col("_bits"), col("_ri")))
        .drop("_path", "_dvp", "_w", "_bits", "_ri")
      TxnLog.toLogical(out, TxnLog.columnMapping(root, toInclusive))
    }
  }

  /** Stamp column added by [[readFeed]] alongside the version. */
  val ChangeTypeCol = "_change_type"

  /** The UNIFIED change feed as a frame — the programmatic twin of
    * the SQL `t.feed` (X-A91/X-A93): adds ∪ DV pre-images per commit
    * in `(fromExclusive, toInclusive]`, stamped `_commit_version` +
    * action-derived `_change_type`; row-preserving layout commits and
    * a finalized-COW commit's survivor files (`radds`) are excluded,
    * so the frame holds exactly the CHANGED rows. This is what the
    * incremental index maintainers consume.
    */
  def readFeed(s: SparkSession, root: String, fromExclusive: Long,
               toInclusive: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cs = TxnLog.commitsInRange(root, fromExclusive, toInclusive)
      .filterNot(c => RowPreservingActions(c.action))
    val fileVT: Seq[(String, Long, String)] = cs.flatMap { c =>
      val preserving = c.radds.toSet
      c.added.filterNot(preserving).map(f =>
        (f, c.version, GraftFeedTable.changeTypeOf(c.action, killed = false)))
    }
    def emptyBase = TxnLog.read(s, root, toInclusive, mergeSchema = true)
      .limit(0).withColumn(CommitVersionCol, lit(0L))
      .withColumn(ChangeTypeCol, lit(""))
    val adds =
      if (fileVT.isEmpty) emptyBase
      else {
        val dim = s.createDataFrame(fileVT)
          .toDF("_path", CommitVersionCol, ChangeTypeCol)
        val out = TxnLog.openFiles(s,
            TxnLog.rawTableSchema(root, toInclusive), fileVT.map(_._1))
          .withColumn("_path", TxnLog.metaFilePath)
          .join(broadcast(dim), "_path")
          .drop("_path")
        TxnLog.toLogical(out, TxnLog.columnMapping(root, toInclusive))
      }
    val dels: Seq[(String, Long, Long, Long, String)] = cs.flatMap { c =>
      val t = GraftFeedTable.changeTypeOf(c.action, killed = true)
      c.dvFiles.zip(c.dvs).flatMap { case (f, dv) =>
        TxnLog.dvWords(dv).map { case (w, bits) => (f, w, bits, c.version, t) } }
    }
    val kills =
      if (dels.isEmpty) emptyBase.limit(0)
      else {
        val dim = s.createDataFrame(dels)
          .toDF("_dvp", "_w", "_bits", CommitVersionCol, ChangeTypeCol)
        val out = TxnLog.openFiles(s,
            TxnLog.rawTableSchema(root, toInclusive), dels.map(_._1).distinct)
          .withColumn("_path", TxnLog.metaFilePath)
          .withColumn("_ri", col("_metadata.row_index"))
          .join(broadcast(dim),
            col("_path") === col("_dvp") &&
              TxnLog.dvWordIdx(col("_ri")) === col("_w"))
          .filter(TxnLog.dvWordBitSet(col("_bits"), col("_ri")))
          .drop("_path", "_dvp", "_w", "_bits", "_ri")
        TxnLog.toLogical(out, TxnLog.columnMapping(root, toInclusive))
      }
    adds.unionByName(kills)
  }

  /** X-D17/X-S22: CDF-MAINTAINED derived index — keep an index table
    * (MinHash band index, LSH postings, any per-row derivation) in
    * sync with its source by applying each source version's FEED
    * delta, so ingest keeps the index fresh WITHOUT a corpus re-scan:
    * per version, `indexOf` runs over that version's changed rows
    * only, stale index rows retract by source key, and both land as
    * ONE target transaction ([[TxnLog.retractAndAppend]]) whose
    * txnId `"<consumerId>-v<N>"` is the durable offset marker — the
    * same exactly-once ledger as [[maintainInto]]: a crash-replay or
    * duplicate consumer finds the txnId committed and applies
    * nothing.
    *
    * Per-version work: O(changed rows) through `indexOf` + a
    * file-pruned keyed retraction on the index — never proportional
    * to the corpus or the index. A rewrite commit whose kills are
    * not bitmap-described (`INSERT OVERWRITE`, raw [[TxnLog]]
    * rewrites) retracts by the removed-files diff, like
    * [[maintainMirror]].
    *
    * @param indexOf maps a frame of source rows to their index rows;
    *                its output must carry `keyCol` (the source key
    *                every index row belongs to) so updates retract
    *                the document's OLD index rows before its new
    *                ones land.
    */
  def maintainIndexInto(s: SparkSession, sourceRoot: String,
                        targetRoot: String, consumerId: String,
                        keyCol: String, upTo: Long = Long.MaxValue)
                       (indexOf: DataFrame => DataFrame): Seq[Long] = {
    import org.apache.spark.sql.functions.col
    val head = math.min(TxnLog.currentVersion(sourceRoot), upTo)
    val from = appliedVersion(targetRoot, consumerId)
    ((from + 1) to head).flatMap { v =>
      val txnId = s"$consumerId-v$v"
      TxnLog.withTxnLock(txnId) {
        if (TxnLog.findCommit(targetRoot, txnId).isDefined) None
        else {
          val delta = readFeed(s, sourceRoot, v - 1, v)
          val killed = delta
            .filter(col(ChangeTypeCol).isin("delete", "update_preimage"))
            .select(col(keyCol))
          val addRows = delta
            .filter(col(ChangeTypeCol).isin("insert", "update_postimage"))
            .drop(CommitVersionCol, ChangeTypeCol)
          // non-bitmap rewrites (INSERT OVERWRITE, raw TxnLog): the
          // killed keys are the removed files' keys — retract them
          // all; survivors re-add through addRows in the same txn
          val cs = TxnLog.commitsInRange(sourceRoot, v - 1, v)
          val rewrites = cs.filter(c => c.removed.nonEmpty &&
            !RowPreservingActions(c.action) &&
            !c.removed.toSet.subsetOf(c.dvFiles.toSet))
          val rewriteKills =
            if (rewrites.isEmpty) killed.limit(0)
            else {
              val physKey = TxnLog.columnMapping(sourceRoot, v)
                .getOrElse(keyCol, keyCol)
              TxnLog.openFiles(s, TxnLog.rawTableSchema(sourceRoot, v),
                  rewrites.flatMap(_.removed).distinct)
                .select(col(physKey).as(keyCol))
            }
          // updated docs retract their OLD index rows too: the
          // retraction set is kills ∪ re-indexed keys
          val retract = killed.union(rewriteKills)
            .union(addRows.select(col(keyCol))).distinct()
          TxnLog.retractAndAppend(s, targetRoot, retract, keyCol,
            indexOf(addRows), txnId)
          Some(v)
        }
      }
    }
  }

  /** The highest source version this consumer has applied to
    * `targetRoot`, recovered from the target's OWN committed-txn
    * ledger (O(tail) with checkpoints). 0 = nothing applied.
    */
  def appliedVersion(targetRoot: String, consumerId: String): Long = {
    val prefix = s"$consumerId-v"
    TxnLog.committedTxnIds(targetRoot).keysIterator
      // only THIS consumer's offset markers count: a foreign txnId
      // sharing the prefix (consumer "m-extra"'s "m-extra-v7", a
      // manual "m-v1-retry") must be ignored, not crash recovery
      .collect {
        case t if t.startsWith(prefix) && t.stripPrefix(prefix).matches("\\d+") =>
          t.stripPrefix(prefix).toLong
      }
      .foldLeft(0L)(math.max)
  }

  /** Maintain an exact KEYED MIRROR of a source table: per source
    * version, DV retractions ([[readDeletes]]) are applied as a
    * target `deleteWhere` on the key, then the version's adds /
    * post-images ([[readChanges]]) land via a stats-pruned
    * [[TxnLog.mergeInto]] — so upserts update in place instead of
    * duplicating, rewrites re-merge idempotently, and deletes
    * retract. Requires `keyCol` unique in the source (the merge
    * contract). Exactly-once like [[maintainInto]]: the merge txnId
    * `"<consumerId>-v<N>"` is the durable applied-marker;
    * the delete step's txnId is `"<consumerId>-v<N>-del"` — the
    * trailing `-del` fails [[appliedVersion]]'s `\d+` guard, so it
    * never confuses offset recovery, and (unlike a `-del-v<N>`
    * shape) it cannot collide with the offset namespace of a
    * DIFFERENT consumer literally named `"<consumerId>-del"`. A
    * crash-replay of an already-applied delete is a no-op by
    * construction (the rows are already dead). Returns the source
    * versions applied by THIS call.
    *
    * 100 TB shape: per version the mirror pays O(that version's
    * changes) — the retraction is a JOIN-driven keyed delete
    * ([[TxnLog.deleteWhereKeys]]: the key set is never collected or
    * inlined as a literal, so one upstream GDPR-purge commit
    * retracting 10⁸ keys is a shuffled semi-join, not a driver OOM),
    * the merge rewrites only key-range-affected files. Nothing
    * rescans either table. Whether a version HAS retractions is read
    * from the commit records (metadata) — delete-free versions never
    * plan the delete join at all.
    */
  def maintainMirror(s: SparkSession, sourceRoot: String, targetRoot: String,
                     consumerId: String, keyCol: String,
                     upTo: Long = Long.MaxValue): Seq[Long] = {
    import org.apache.spark.sql.functions.col
    val head = math.min(TxnLog.currentVersion(sourceRoot), upTo)
    val from = appliedVersion(targetRoot, consumerId)
    ((from + 1) to head).flatMap { v =>
      val txnId = s"$consumerId-v$v"
      TxnLog.withTxnLock(txnId) {
        if (TxnLog.findCommit(targetRoot, txnId).isDefined) None
        else {
          val cs = TxnLog.commitsInRange(sourceRoot, v - 1, v)
          if (cs.exists(_.dvFiles.nonEmpty))
            TxnLog.deleteWhereKeys(s, targetRoot,
              readDeletes(s, sourceRoot, v - 1, v).select(col(keyCol)),
              keyCol, s"$consumerId-v$v-del")
          // survivor re-adds (`radds`) are excluded: row-preserving
          // by contract, so re-merging them is pure idempotent waste —
          // with them gone the merge half is O(changed rows) on
          // finalized COW DML, matching the retraction half
          val adds = readChanges(s, sourceRoot, v - 1, v,
            excludeRowPreserving = true).drop(CommitVersionCol)
          // COPY-ON-WRITE retraction: a rewrite commit (SQL DELETE's
          // rewrite path, a manual upsert that drops rows) removes
          // files with NO deletion vector — rows it killed appear in
          // neither feed. Retract the difference: keys present in the
          // removed files but absent from the version's post-images.
          // Row-preserving maintenance (compaction, clustering) is
          // skipped by action — its difference is empty by contract;
          // for everything else the removed files are still on disk
          // (immutable until vacuum — the same horizon as time
          // travel), so the pre-image keys are exactly recoverable.
          // Idempotent on replay like the DV half (re-deleting dead
          // keys is a no-op).
          // a FINALIZED COW commit (r18) removes exactly its DV'd
          // files and marks survivors row-preserving: its kills are
          // fully bitmap-described, so the DV half above already
          // retracted them — skipping the removed-file re-read here
          // is what makes the mirror's per-version work O(changed
          // rows) on COW DML, not O(touched files)
          val rewrites = cs.filter(c => c.removed.nonEmpty &&
            !RowPreservingActions(c.action) &&
            !c.removed.toSet.subsetOf(c.dvFiles.toSet))
          if (rewrites.nonEmpty) {
            val physKey = TxnLog.columnMapping(sourceRoot, v)
              .getOrElse(keyCol, keyCol)
            val pre = TxnLog.openFiles(s, TxnLog.rawTableSchema(sourceRoot, v),
                rewrites.flatMap(_.removed).distinct)
              .select(col(physKey).as(keyCol))
            val gone = pre.except(adds.select(col(keyCol)))
            TxnLog.deleteWhereKeys(s, targetRoot, gone, keyCol,
              s"$consumerId-v$v-delrw")
          }
          TxnLog.mergeInto(s, targetRoot, adds, keyCol, txnId)
          Some(v)
        }
      }
    }
  }

  /** Apply every not-yet-applied source commit to a target [[TxnLog]]
    * table, one source commit = one target transaction:
    * `transform` maps that commit's change-feed rows (stamped with
    * [[CommitVersionCol]]) to the delta rows appended to the target.
    * Returns the source versions applied by THIS call.
    *
    * Exactly-once across crashes, restarts and duplicate consumers
    * with NO offset store: the target txnId `"<consumerId>-v<N>"`
    * makes re-applying version N a no-op inside [[TxnLog.commit]],
    * and [[appliedVersion]] recovers the resume point from the
    * target's ledger. A source commit whose delta is empty still
    * commits (with no files), so the version is durably marked
    * applied. The target declares `transform`'s output schema, so a
    * drifting transform aborts instead of forking the MV's schema.
    *
    * `upTo` bounds how far to read (for tests and rate-limited
    * catch-up); default = the source head at call time.
    */
  def maintainInto(s: SparkSession, sourceRoot: String, targetRoot: String,
                   consumerId: String, upTo: Long = Long.MaxValue)
                  (transform: DataFrame => DataFrame): Seq[Long] = {
    val head = math.min(TxnLog.currentVersion(sourceRoot), upTo)
    val from = appliedVersion(targetRoot, consumerId)
    ((from + 1) to head).flatMap { v =>
      val txnId = s"$consumerId-v$v"
      TxnLog.withTxnLock(txnId) {
        if (TxnLog.findCommit(targetRoot, txnId).isDefined) None // raced: other instance applied v
        else {
          val delta = transform(readChanges(s, sourceRoot, v - 1, v))
          // per-attempt staging: a crashed attempt's orphan dir is
          // left for vacuumStaging, and a duplicate consumer in
          // another process can never wipe ours mid-flight.
          // A 0-partition delta stages no part files: the commit then
          // carries no data but still durably marks v applied
          val files = TxnLog.stageAttempt(delta, targetRoot, txnId)
          TxnLog.commit(targetRoot, "mv-delta", files, Nil,
            readVersion = 0L, txnId = txnId,
            schemaId = TxnLog.schemaFingerprint(delta.schema),
            physSchema = Some(delta.schema))
          Some(v)
        }
      }
    }
  }
}
