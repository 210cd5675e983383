package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Fixtures.dirTag
import graft.SparkEntry.{ensurePartitionedEvents, ensureEvolvedEvents,
  ordersZorderStats, ensureZorderStats, ensureTxnTable, ensureCatalogTable,
  ensureTxnRangeTable, ensureTxnDeleteTable, ensureTxnMergeTable,
  ensureTxnZorderTable, ensureTxnCompactTable, ensureTxnTypedTable}

/** IO/catalog surface as driver-checked queries (SURVEY §2 A-4/A-8):
  * a catalog-DDL-backed join (external parquet tables queried by
  * name) and a JDBC round trip through embedded Derby. Table names /
  * DB paths are tagged with the sf dir so warm-up at sf0.001 cannot
  * leak a stale location into the measured run.
  */
object IoQueries {
  import graft.sources.{CatalogDDL, JdbcIO}

  /** Z-order per-file bounding-box stats (the io_zorder result),
    * shared with the reader-side pruning decision (io_prune_stats). */
  private def duckZorderStats: String = {
    val interleave = (0 until 16).map { i =>
      s"(((zx >> $i) & 1) << ${2 * i}) | (((zy >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")
    def scaled(c: String, lo: String, hi: String): String =
      s"""CASE WHEN $hi = $lo THEN CAST(0 AS BIGINT)
               ELSE CAST(floor((CAST($c AS DOUBLE) - CAST($lo AS DOUBLE))
                               * 65535.0 /
                               (CAST($hi AS DOUBLE) - CAST($lo AS DOUBLE)))
                         AS BIGINT) END"""
    s"""WITH b AS (SELECT CAST(o_orderkey AS BIGINT) AS tb,
            CAST(o_custkey % 65536 AS BIGINT) AS x,
            CAST(date_diff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS y
          FROM orders),
       st AS (SELECT min(x) AS xmin, max(x) AS xmax,
                     min(y) AS ymin, max(y) AS ymax FROM b),
       nb AS (SELECT b.tb, b.x, b.y,
                ${scaled("b.x", "st.xmin", "st.xmax")} AS zx,
                ${scaled("b.y", "st.ymin", "st.ymax")} AS zy
              FROM b, st),
       z AS (SELECT tb, x, y, $interleave AS z FROM nb),
       r AS (SELECT x, y,
               row_number() OVER (ORDER BY z ASC, tb ASC) AS rn FROM z)
       SELECT CAST((rn - 1) // 1000 AS BIGINT) AS file_id,
              count(*) AS n,
              min(x) AS min_x, max(x) AS max_x,
              min(y) AS min_y, max(y) AS max_y
       FROM r GROUP BY 1"""
  }

  /** The Hilbert twin of [[duckZorderStats]]: the canonical xy2d fold
    * replayed as a generated 16-level CTE chain (validated cell-exact
    * against the reference implementation and the adjacency/bijection
    * properties in LayoutOpsSpec). Per-level output names are
    * suffixed — lateral-alias precedence must never decide which hx a
    * reference binds to.
    */
  private def duckHilbertStats: String = {
    val bits = 16
    val n = 1L << bits
    def scaled(c: String, lo: String, hi: String): String =
      s"""CASE WHEN $hi = $lo THEN CAST(0 AS BIGINT)
               ELSE CAST(floor((CAST($c AS DOUBLE) - CAST($lo AS DOUBLE))
                               * 65535.0 /
                               (CAST($hi AS DOUBLE) - CAST($lo AS DOUBLE)))
                         AS BIGINT) END"""
    val levels = ((bits - 1) to 0 by -1).zipWithIndex.map { case (i, k) =>
      val s = 1L << i
      val (p, c) = (k, k + 1)
      s"""h$c AS (SELECT tb, x, y,
           CASE WHEN ((hy$p >> $i) & 1) = 0 THEN
                (CASE WHEN ((hx$p >> $i) & 1) = 1
                      THEN ${n - 1} - hy$p ELSE hy$p END)
                ELSE hx$p END AS hx$c,
           CASE WHEN ((hy$p >> $i) & 1) = 0 THEN
                (CASE WHEN ((hx$p >> $i) & 1) = 1
                      THEN ${n - 1} - hx$p ELSE hx$p END)
                ELSE hy$p END AS hy$c,
           hd$p + ${s * s} * xor(3 * ((hx$p >> $i) & 1), (hy$p >> $i) & 1)
             AS hd$c
         FROM h$p)"""
    }.mkString(",\n")
    s"""WITH b AS (SELECT CAST(o_orderkey AS BIGINT) AS tb,
            CAST(o_custkey % 65536 AS BIGINT) AS x,
            CAST(date_diff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS y
          FROM orders),
       st AS (SELECT min(x) AS xmin, max(x) AS xmax,
                     min(y) AS ymin, max(y) AS ymax FROM b),
       h0 AS (SELECT b.tb, b.x, b.y,
                ${scaled("b.x", "st.xmin", "st.xmax")} AS hx0,
                ${scaled("b.y", "st.ymin", "st.ymax")} AS hy0,
                CAST(0 AS BIGINT) AS hd0
              FROM b, st),
       $levels,
       r AS (SELECT x, y,
               row_number() OVER (ORDER BY hd$bits ASC, tb ASC) AS rn
             FROM h$bits)
       SELECT CAST((rn - 1) // 1000 AS BIGINT) AS file_id,
              count(*) AS n,
              min(x) AS min_x, max(x) AS max_x,
              min(y) AS min_y, max(y) AS max_y
       FROM r GROUP BY 1"""
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("cat_external_join",
      """SELECT r_name, count(*) AS n_nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
      (s, dir) => {
        val tag = dirTag(dir)
        CatalogDDL.recreateExternalTable(s, s"ext_nation_$tag", s"$dir/nation.parquet")
        CatalogDDL.recreateExternalTable(s, s"ext_region_$tag", s"$dir/region.parquet")
        s.sql(
          s"""SELECT r.r_name, count(*) AS n_nations
              FROM ext_nation_$tag n
              JOIN ext_region_$tag r ON n.n_regionkey = r.r_regionkey
              GROUP BY r.r_name""")
      }),
    // Z-order layout quality: per-file bounding boxes of orders
    // clustered on (custkey, order-day) via Morton interleave — the
    // min/max stats a reader prunes row groups with. Pure integer
    // bit math + globalRowNumber, fully oracle-checkable.
    QuerySpec("io_zorder",
      // Morton interleave written longhand over the affine-normalized
      // dims: bit i of zx lands at position 2i, bit i of zy at 2i+1 —
      // identical shifts + scaling to LayoutOps.zValue/withNormalizedDims
      duckZorderStats,
      (s, dir) => ordersZorderStats(s, dir)),
    // X-A92: the same layout receipt along the HILBERT curve — the
    // jump-free curve gives consecutive-row files tighter bounding
    // boxes than Morton's (LayoutOpsSpec pins the perimeter win);
    // the oracle replays the identical 16-level xy2d fold as a
    // generated CTE chain
    QuerySpec("io_hilbert",
      duckHilbertStats,
      (s, dir) =>
        graft.operators.LayoutOps.hilbertFileStats(
          Tables.orders(s, dir).select(
            pmod(col("o_custkey"), lit(65536)).as("x"),
            datediff(col("o_orderdate").cast("date"),
              lit("1970-01-01").cast("date")).as("y"),
            col("o_orderkey")),
          "x", "y", "o_orderkey", rowsPerFile = 1000)),
    // Reader-side pruning decision over the z-order stats: which
    // files a (custkey-bucket × day) rectangle query actually scans.
    // This is the metadata-only planning step — file stats in, scan
    // set out, no data touched (the manifest is materialized once
    // per JVM by ensureZorderStats; io_zorder times the sort
    // itself); the LayoutOpsSpec receipt shows the z-ordered layout
    // scans a fraction of what an id-ordered layout must.
    QuerySpec("io_prune_stats",
      // pruning decision = a pure predicate over the same per-file stats
      s"""WITH stats AS ($duckZorderStats)
         SELECT file_id, n,
                NOT (max_x < 1000 OR min_x > 3000 OR
                     max_y < 10227 OR min_y > 10500) AS scanned
         FROM stats""",
      (s, dir) =>
        s.read.parquet(ensureZorderStats(s, dir))
          .select(col("file_id"), col("n"),
            (!(col("max_x") < 1000 || col("min_x") > 3000 ||
               col("max_y") < 10227 || col("min_y") > 10500)).as("scanned"))),
    // Partition pruning over a hive-partitioned layout: the
    // event_type predicate resolves at PLANNING time against the
    // directory structure — non-matching partitions are never
    // listed, opened, or read (PlanShapeSpec pins PartitionFilters
    // on the scan). The other physical-design lever next to
    // bucketing (j9) and z-ordering (io_zorder).
    QuerySpec("io_partition_prune",
      // partition pruning returns exactly the partition's rows — the
      // oracle is the plain filtered aggregate over the source table
      """SELECT event_type, count(*) AS n,
              CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS total_cents
         FROM events WHERE event_type = 'purchase' GROUP BY event_type""",
      (s, dir) => {
        val pdir = ensurePartitionedEvents(s, dir)
        s.read.parquet(pdir)
          .filter(col("event_type") === "purchase")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      }),
    // Schema evolution read: two parquet generations (gen=1 lacks
    // `cents`) merge into one union schema at PLANNING time
    // (mergeSchema footer merge) — old files yield nulls, history is
    // never rewritten. The aggregate proves null semantics: every
    // gen=1 row counts, only gen=2 rows carry cents.
    QuerySpec("io_schema_evolution",
      // the merged read equals the union of both generations: all rows
      // count, only odd event_ids (gen=2) carry cents
      """SELECT event_type, count(*) AS n,
              count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_with_cents,
              CAST(SUM(CASE WHEN event_id % 2 = 1
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS total_cents
         FROM events GROUP BY event_type""",
      (s, dir) => {
        val root = ensureEvolvedEvents(s, dir)
        s.read.option("mergeSchema", "true").parquet(root)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            count(col("cents")).as("n_with_cents"),
            sum(coalesce(col("cents"), lit(0L))).as("total_cents"))
      }),
    // Compaction planning (OPTIMIZE's grouping step): pack the
    // z-ordered files into merge jobs of ~5k rows in LAYOUT order,
    // so merged files keep tight bounding boxes. Metadata-only —
    // input is the once-per-JVM file-stats manifest and the
    // running-sum window is bounded by the file count.
    QuerySpec("io_compact_plan",
      // greedy layout-order packing: group = starting row offset div
      // target (integer division truncates on both engines)
      s"""WITH stats AS ($duckZorderStats),
         c AS (SELECT file_id, n AS n_rows,
                 SUM(n) OVER (ORDER BY file_id
                              ROWS UNBOUNDED PRECEDING) AS cum
               FROM stats),
         g AS (SELECT file_id, n_rows,
                 CAST((CAST(cum AS BIGINT) - n_rows) // 5000 AS BIGINT)
                   AS compact_group
               FROM c)
         SELECT file_id, n_rows, compact_group,
                CAST(SUM(n_rows) OVER (PARTITION BY compact_group) AS BIGINT)
                  AS group_rows,
                (COUNT(*) OVER (PARTITION BY compact_group)) > 1 AS merges
         FROM g""",
      (s, dir) =>
        graft.operators.LayoutOps.compactionPlan(
          s.read.parquet(ensureZorderStats(s, dir))
            .select(col("file_id"), col("n")),
          "file_id", "n", targetRows = 5000)),
    QuerySpec("io_jdbc_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
      (s, dir) => {
        val tag = dirTag(dir)
        val url = JdbcIO.derbyUrl(s"${Fixtures.jvmDir}/graft_derby_$tag/db")
        JdbcIO.write(Tables.nation(s, dir), url, "nation_rt")
        JdbcIO.read(s, url, "nation_rt")
          .select("n_nationkey", "n_name", "n_regionkey")
      }),

    // ---- SCD2 dimension history: segment changes for every 7th
    //      customer close the open row at the change time and append
    //      a new open version — validity intervals, not last-write-
    //      wins (that's io_upsert). ----
    QuerySpec("dim_scd2",
      """WITH cur AS (SELECT c_custkey, c_mktsegment,
                        TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
                        CAST(NULL AS TIMESTAMP) AS valid_to
                      FROM customer),
         chg AS (SELECT c_custkey, 'MOVED' AS c_mktsegment,
                        TIMESTAMP '1999-01-01 00:00:00' AS valid_from,
                        CAST(NULL AS TIMESTAMP) AS valid_to
                 FROM customer WHERE c_custkey % 7 = 0)
         SELECT c.c_custkey, c.c_mktsegment, c.valid_from,
                chg.valid_from AS valid_to
         FROM cur c JOIN chg ON c.c_custkey = chg.c_custkey
         UNION ALL
         SELECT c.c_custkey, c.c_mktsegment, c.valid_from, c.valid_to
         FROM cur c
         WHERE NOT EXISTS (SELECT 1 FROM chg WHERE chg.c_custkey = c.c_custkey)
         UNION ALL
         SELECT c_custkey, c_mktsegment, valid_from, valid_to FROM chg""",
      (s, dir) => {
        val cur = Tables.customer(s, dir).select(
          col("c_custkey"), col("c_mktsegment"),
          lit("1995-01-01").cast("timestamp").as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"))
        val chg = Tables.customer(s, dir)
          .filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), lit("MOVED").as("c_mktsegment"),
            lit("1999-01-01").cast("timestamp").as("valid_from"),
            lit(null).cast("timestamp").as("valid_to"))
        graft.operators.RelationalOps
          .scd2Apply(cur, chg, "c_custkey", "valid_from", "valid_to")
      }),

    // ---- Point-in-time read over the SCD2 history: as of mid-1997
    //      the 1999 changes haven't happened — every key must
    //      resolve to its ORIGINAL segment (time travel as a pure
    //      pushed filter over interval-stored history) ----
    QuerySpec("dim_scd2_asof",
      // as of mid-1997 the 1999 changes are invisible: the point-in-time
      // read must reconstruct exactly the original dimension
      "SELECT c_custkey, c_mktsegment FROM customer",
      (s, dir) => {
        val hist = SparkEntry.queries("dim_scd2")(s, dir)
        graft.operators.RelationalOps.scd2AsOf(hist,
            lit("1997-06-01").cast("timestamp"), "valid_from", "valid_to")
          .select(col("c_custkey"), col("c_mktsegment"))
      }),

    // ---- MERGE/upsert snapshot rewrite: every 10th order is
    //      updated (priority overwritten), orders ending in 007 also
    //      arrive as NEW keys — one anti-join + union builds the
    //      post-merge snapshot. The insert-key shift is DERIVED from
    //      the data (next 10M multiple above max(o_orderkey)), not a
    //      fixed +10M: a fixed shift collides with real keys once
    //      max(key) exceeds it (TPC-H SF ≳ 1.7), silently turning
    //      the insert leg into updates of unrelated rows. Strings
    //      only in the contract, so the compare is exact. ----
    QuerySpec("io_upsert",
      """WITH sh AS (
           SELECT (max(CAST(o_orderkey AS BIGINT)) // 10000000 + 1) * 10000000
                  AS shift
           FROM orders),
         upd AS (
           SELECT o_orderkey, o_orderstatus, 'UPSERTED' AS o_orderpriority
           FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey + sh.shift, o_orderstatus, 'UPSERTED'
           FROM orders, sh WHERE o_orderkey % 1000 = 7)
         SELECT o_orderkey, o_orderstatus, o_orderpriority FROM upd
         UNION ALL
         SELECT o.o_orderkey, o.o_orderstatus, o.o_orderpriority
         FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.o_orderkey = o.o_orderkey)""",
      (s, dir) => {
        val e = Tables.orders(s, dir)
        val changed = e.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_orderpriority", lit("UPSERTED"))
        val shift = e.agg(
          expr("(max(CAST(o_orderkey AS BIGINT)) div 10000000 + 1) * 10000000")
            .as("__shift"))
        val inserts = e.filter(col("o_orderkey") % 1000 === 7)
          .crossJoin(broadcast(shift))
          .withColumn("o_orderkey", col("o_orderkey") + col("__shift"))
          .drop("__shift")
          .withColumn("o_orderpriority", lit("UPSERTED"))
        graft.operators.RelationalOps
          .mergeUpsert(e, changed.unionByName(inserts), Seq("o_orderkey"))
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      }),

    // ---- Change-data-feed between snapshots (the inverse of
    //      io_upsert): old = orders minus every 7th key, new = orders
    //      minus every 5th key with every 3rd key's price bumped —
    //      so the diff carries all three ops: I (in new only),
    //      D (in old only), U (present in both, cents differ).
    //      Cents keep the comparison exact. ----
    QuerySpec("io_cdc_diff",
      """WITH o AS (
           SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
           FROM orders WHERE o_orderkey % 7 <> 0),
         n AS (
           SELECT o_orderkey AS k,
                  CAST(round(o_totalprice * 100) AS BIGINT)
                  + CASE WHEN o_orderkey % 3 = 0 THEN 500 ELSE 0 END AS c
           FROM orders WHERE o_orderkey % 5 <> 0)
         SELECT coalesce(o.k, n.k) AS o_orderkey,
                CASE WHEN o.k IS NULL THEN 'I'
                     WHEN n.k IS NULL THEN 'D'
                     ELSE 'U' END AS op,
                o.c AS old_cents, n.c AS new_cents
         FROM o FULL OUTER JOIN n ON o.k = n.k
         WHERE o.k IS NULL OR n.k IS NULL OR o.c <> n.c""",
      (s, dir) => {
        val cents = round(col("o_totalprice") * 100).cast("long")
        val oldSnap = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 7 =!= 0)
          .select(col("o_orderkey"), cents.as("cents"))
        val newSnap = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 5 =!= 0)
          .select(col("o_orderkey"),
            (cents + when(col("o_orderkey") % 3 === 0, lit(500L))
              .otherwise(lit(0L))).as("cents"))
        graft.operators.RelationalOps.snapshotDiff(
          oldSnap, newSnap, Seq("o_orderkey"), Seq("cents"))
      }),

    // ---- Transaction-log table (TxnLog: optimistic concurrency +
    //      snapshot isolation over immutable parquet; see the
    //      scaladoc there). Reads resolve a file list from the
    //      metadata-only log — never a data-dir listing. ----
    // head snapshot: v1+v2 appends with v3's copy-on-write upsert
    // applied (every %6==0 key's price doubled)
    QuerySpec("tx_snapshot",
      // TxnLog versions are pure predicates over orders (see
      // ensureTxnTable), so the oracle replays each snapshot with
      // version predicates instead of reading the log
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 6 = 0
                     THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
                     ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                END AS price_cents
         FROM orders WHERE o_orderkey % 3 <= 1""",
      (s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnTable(s, dir))),
    // time travel: the same table AT version 2 — v3's rewrite must
    // be invisible even though it is committed
    QuerySpec("tx_time_travel",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 3 <= 1""",
      (s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnTable(s, dir), version = 2L)),
    // version-diff CDC: post-images that changed between v2 and v3
    // = exactly the doubled keys (set difference over immutable
    // snapshots; keys are unique so EXCEPT is exact)
    QuerySpec("tx_changes",
      """SELECT o_orderkey,
                2 * CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 6 = 0""",
      (s, dir) => {
        val root = ensureTxnTable(s, dir)
        graft.sources.TxnLog.read(s, root)
          .except(graft.sources.TxnLog.read(s, root, version = 2L))
      }),
    // stats-based data skipping: the range-clustered table's sidecar
    // (min,max) prove most files irrelevant before any open — the
    // log-native counterpart of io_prune_stats (TxnLogSpec pins the
    // file-count reduction; here the ORACLE pins the result)
    QuerySpec("tx_prune_read",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                o_orderkey * 2654435761 % 1000000007 AS o_tag,
                CAST(o_orderkey // 2000 AS BIGINT) AS o_part
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey BETWEEN 1000 AND 3000""",
      (s, dir) =>
        graft.sources.TxnLog.readRange(s, ensureTxnRangeTable(s, dir),
          "o_orderkey", lo = 1000L, hi = 3000L)),
    // metadata-only aggregation (X-A33): COUNT/MIN/MAX answered
    // from the commit records' per-file (min,max,rows) stats — the
    // fully-statted table opens ZERO data files (TxnLogSpec proves
    // it white-box by corrupting the parquet underneath); here the
    // ORACLE pins the numbers against a real scan
    QuerySpec("tx_stats_agg",
      // the metadata answer must equal the scan answer bit for bit
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
                CAST(min(o_orderkey) AS BIGINT) AS min_v,
                CAST(max(o_orderkey) AS BIGINT) AS max_v
         FROM orders WHERE o_orderkey % 3 <= 1""",
      (s, dir) =>
        graft.sources.TxnLog.statsAggregate(s, ensureTxnRangeTable(s, dir),
          "o_orderkey")),
    // bloom point lookup (X-A34): o_tag is uncorrelated with the
    // o_orderkey clustering, so every file's [min,max] spans the
    // domain and range stats can never skip — the per-file bloom
    // prunes ~97% of non-containing files instead, and the residual
    // equality filter keeps the result EXACT regardless of false
    // positives. Key 1242 is in the table at every test SF
    // (1242 % 3 = 0; orderkeys are dense from 0).
    QuerySpec("tx_point_read",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                o_orderkey * 2654435761 % 1000000007 AS o_tag,
                CAST(o_orderkey // 2000 AS BIGINT) AS o_part
         FROM orders
         WHERE o_orderkey % 3 <= 1
           AND o_orderkey * 2654435761 % 1000000007 = 1242 * 2654435761 % 1000000007""",
      (s, dir) =>
        graft.sources.TxnLog.readPoint(s, ensureTxnRangeTable(s, dir),
          "o_tag", value = 1242L * 2654435761L % 1000000007L)),
    // hive-style partition pruning as multi-column stats (X-A38):
    // o_part is a coarse bucket of the clustering key, statted
    // alongside it in the same per-file map — an equality read on
    // the partition column prunes exactly like a partition scan,
    // with no directory layout to keep consistent
    QuerySpec("tx_part_prune",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                o_orderkey * 2654435761 % 1000000007 AS o_tag,
                CAST(o_orderkey // 2000 AS BIGINT) AS o_part
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey // 2000 = 2""",
      (s, dir) =>
        graft.sources.TxnLog.readRange(s, ensureTxnRangeTable(s, dir),
          "o_part", lo = 2L, hi = 2L)),
    // streaming read OF the log (X-A29): commits as change batches —
    // the feed after v1 is v2's appended slice plus v3's rewritten
    // post-images, each row stamped with its commit version, all
    // predicate-expressible over orders for the oracle
    QuerySpec("tx_stream_changes",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(2 AS BIGINT) AS commit_version
         FROM orders WHERE o_orderkey % 3 = 1
         UNION ALL
         SELECT o_orderkey,
                CASE WHEN o_orderkey % 6 = 0
                     THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
                     ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                END AS price_cents,
                CAST(3 AS BIGINT) AS commit_version
         FROM orders WHERE o_orderkey % 3 = 0""",
      (s, dir) => {
        val root = ensureTxnTable(s, dir)
        graft.sources.TxnStream.readChanges(s, root, fromExclusive = 1L, toInclusive = 3L)
          .withColumnRenamed(graft.sources.TxnStream.CommitVersionCol, "commit_version")
      }),
    // the Structured Streaming SOURCE over the log (X-A46): the
    // same change feed driven by spark.readStream — commit-version
    // offsets, 1-version micro-batches (admission control), memory
    // sink. Deterministic once drained, so the ORACLE pins the
    // whole micro-batched feed from version 0: v1's slice, v2's
    // slice, v3's rewritten post-images, each stamped.
    QuerySpec("tx_source_stream",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(1 AS BIGINT) AS commit_version
         FROM orders WHERE o_orderkey % 3 = 0
         UNION ALL
         SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(2 AS BIGINT) AS commit_version
         FROM orders WHERE o_orderkey % 3 = 1
         UNION ALL
         SELECT o_orderkey,
                CASE WHEN o_orderkey % 6 = 0
                     THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
                     ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                END AS price_cents,
                CAST(3 AS BIGINT) AS commit_version
         FROM orders WHERE o_orderkey % 3 = 0""",
      (s, dir) => {
        val root = ensureTxnTable(s, dir)
        val name = s"txnsrc_${dirTag(dir)}"
        val q = s.readStream.format("graft-txn")
          .option("root", root)
          .option("maxVersionsPerTrigger", "1")
          .load()
          .writeStream.format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        s.table(name)
          .withColumnRenamed(graft.sources.TxnStream.CommitVersionCol, "commit_version")
      }),
    // the SQL surface (X-A43): TxnLog.table() registers the
    // snapshot behind a TxnLogFileIndex, so this plain SQL WHERE —
    // no readRange/readPoint call anywhere — gets file skipping
    // from the log's stats through the optimizer; schema comes from
    // the log too (zero footer reads at plan time)
    QuerySpec("tx_sql_prune",
      // same rows as tx_prune_read: the SQL path must agree with the
      // explicit readRange call bit for bit
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                o_orderkey * 2654435761 % 1000000007 AS o_tag,
                CAST(o_orderkey // 2000 AS BIGINT) AS o_part
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey BETWEEN 1000 AND 3000""",
      (s, dir) => {
        val root = ensureTxnRangeTable(s, dir)
        graft.sources.TxnLog.table(s, root)
          .createOrReplaceTempView(s"txn_orders_${dirTag(dir)}")
        s.sql(s"""SELECT o_orderkey, price_cents, o_tag, o_part
                  FROM txn_orders_${dirTag(dir)}
                  WHERE o_orderkey BETWEEN 1000 AND 3000""")
      }),
    // OPTIMIZE ZORDER as a transaction (X-A40): v2 rewrote the
    // table Morton-clustered on (cust, price_cents) with stats on
    // both dims — this reads a RANGE ON THE SECOND dimension, the
    // read z-order exists to serve (a price range over a table a
    // single-column sort would cluster by cust only); the spec pins
    // the file-count reduction, the oracle pins content invariance
    QuerySpec("tx_zorder_read",
      """SELECT o_orderkey,
                CAST(o_custkey AS BIGINT) AS cust,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1
           AND round(o_totalprice * 100) BETWEEN 1000000 AND 3000000""",
      (s, dir) =>
        graft.sources.TxnLog.readRange(s, ensureTxnZorderTable(s, dir),
          "price_cents", lo = 1000000L, hi = 3000000L)),
    // stats-pruned MERGE INTO (X-A36): the %4==1 source updates
    // existing keys (+7 cents) and inserts the rest; only files
    // whose [min,max] key range can hold a source key are
    // rewritten. The head snapshot is a pure two-predicate CASE
    // for the oracle.
    QuerySpec("tx_merge_read",
      // merge semantics: %4==1 rows carry the source's bumped price
      // (update where the key pre-existed, insert where it did not);
      // everything else keeps v1's price
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 4 = 1
                     THEN CAST(round(o_totalprice * 100) AS BIGINT) + 7
                     ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                END AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 OR o_orderkey % 4 = 1""",
      (s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnMergeTable(s, dir))),
    // row-level delete via deletion vectors (X-A35): %5==2 keys are
    // marked dead in per-file bitmaps — zero files rewritten — and
    // every read applies the vector transparently; the oracle sees
    // only the surviving predicate
    QuerySpec("tx_delete_read",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2""",
      (s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnDeleteTable(s, dir))),
    // ...and time travel UNDER the delete: v1 still shows every row
    QuerySpec("tx_delete_travel",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 3 <= 1""",
      (s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnDeleteTable(s, dir), version = 1L)),
    // the DELETE half of the change feed (X-A37): pre-images of the
    // rows v2's deletion vectors killed, stamped with the deleting
    // commit's version — what a downstream mirror applies as
    // retractions
    QuerySpec("tx_delete_feed",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(2 AS BIGINT) AS commit_version
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 = 2""",
      (s, dir) => {
        val root = ensureTxnDeleteTable(s, dir)
        graft.sources.TxnStream.readDeletes(s, root, fromExclusive = 1L, toInclusive = 2L)
          .withColumnRenamed(graft.sources.TxnStream.CommitVersionCol, "commit_version")
      }),
    // DV-density compaction (X-A45): files past 50% dead rewritten
    // clean as one transaction; the head equals the pure predicate
    // (vectors compacted in), and time travel UNDER the compaction
    // still applies the original vectors — same oracle, different
    // physical path
    QuerySpec("tx_compact_read",
      // identical SQL for both: the compacted head and the
      // pre-compaction snapshot must be content-equal — the compaction
      // moved bytes, never changed them
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1
           AND NOT (o_orderkey % 5 = 2
                    OR o_orderkey <= (SELECT max(o_orderkey) // 3 FROM orders))""",
      (s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnCompactTable(s, dir))),
    QuerySpec("tx_compact_travel",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1
           AND NOT (o_orderkey % 5 = 2
                    OR o_orderkey <= (SELECT max(o_orderkey) // 3 FROM orders))""",
      (s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnCompactTable(s, dir), version = 3L)),
    // TYPED stats pruning (X-A44): string equality, string prefix
    // and timestamp range — each plans through table()'s
    // TxnLogFileIndex against typed per-file (min, max) stats; the
    // predicates are pure SQL over orders for the oracle, and
    // PlanShapeSpec pins that the filters actually reach the
    // log-backed scan
    QuerySpec("tx_str_prune",
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderpriority = '1-URGENT'""",
      (s, dir) => {
        val root = ensureTxnTypedTable(s, dir)
        graft.sources.TxnLog.table(s, root)
          .createOrReplaceTempView(s"txn_typed_${dirTag(dir)}")
        s.sql(s"""SELECT o_orderkey, o_orderpriority
                  FROM txn_typed_${dirTag(dir)}
                  WHERE o_orderpriority = '1-URGENT'""")
      }),
    QuerySpec("tx_prefix_prune",
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderpriority LIKE '2-%'""",
      (s, dir) => {
        val root = ensureTxnTypedTable(s, dir)
        graft.sources.TxnLog.table(s, root)
          .createOrReplaceTempView(s"txn_typed_${dirTag(dir)}")
        s.sql(s"""SELECT o_orderkey, o_orderpriority
                  FROM txn_typed_${dirTag(dir)}
                  WHERE o_orderpriority LIKE '2-%'""")
      }),
    QuerySpec("tx_ts_prune",
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey % 3 <= 1
           AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'""",
      (s, dir) => {
        val root = ensureTxnTypedTable(s, dir)
        graft.sources.TxnLog.table(s, root)
          .createOrReplaceTempView(s"txn_typed_${dirTag(dir)}")
        s.sql(s"""SELECT o_orderkey
                  FROM txn_typed_${dirTag(dir)}
                  WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'""")
      }),
    // the commit log AS a table (the DESCRIBE HISTORY surface):
    // version, action and the snapshot each txn read —
    // deterministic for the three-commit fixture, so the oracle is
    // a VALUES literal (timestamps/magnitudes are dropped for
    // determinism; TxnLog.history carries them)
    QuerySpec("tx_history",
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'append', CAST(0 AS BIGINT)),
           (CAST(2 AS BIGINT), 'append', CAST(1 AS BIGINT)),
           (CAST(3 AS BIGINT), 'upsert', CAST(2 AS BIGINT)))
         AS t(version, action, read_version)""",
      (s, dir) =>
        graft.sources.TxnLog.history(s, ensureTxnTable(s, dir))
          .select(col("version"), col("action"), col("read_version"))),
    // ---- SQL-native catalog surface (X-A50, GraftCatalog): the
    //      same lakehouse through `spark.sql` alone — the fixture
    //      is built ENTIRELY by SQL statements (CREATE TABLE,
    //      INSERT ×2, arithmetic DELETE), and every read here plans
    //      through the V2 connector (catalog → pushed filters →
    //      log-stats pruning → DV-filtering readers). ----
    // scan + aggregate over the DV'd snapshot (v4 = post-delete)
    QuerySpec("tx_cat_agg",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2
         GROUP BY o_orderstatus""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderstatus, count(*) AS n, sum(price_cents) AS cents
                  FROM $cat.db.ord VERSION AS OF 4 GROUP BY o_orderstatus""")
      }),
    // pushed range predicate: files outside [4000, 12000] are
    // pruned from the log stats before any open
    QuerySpec("tx_cat_filter",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2
           AND o_orderkey BETWEEN 4000 AND 12000""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderkey, price_cents FROM $cat.db.ord VERSION AS OF 4
                  WHERE o_orderkey BETWEEN 4000 AND 12000""")
      }),
    // SQL time travel: VERSION AS OF 2 = the first insert only,
    // before the second slice and the delete
    QuerySpec("tx_cat_travel",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 3 = 0""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderkey, price_cents
                  FROM $cat.db.ord VERSION AS OF 2""")
      }),
    // SQL UPDATE (v5): group-based copy-on-write — only the files
    // whose stats admit %7 keys (all of them here) were rewritten,
    // deletion vectors compacted in, one commit
    QuerySpec("tx_cat_update",
      """SELECT o_orderkey,
                CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                     + CASE WHEN o_orderkey % 7 = 0 THEN 7 ELSE 0 END AS BIGINT)
                  AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderkey, price_cents
                  FROM $cat.db.ord VERSION AS OF 5""")
      }),
    // SQL MERGE INTO (v6): matched updates + disjoint-key inserts
    // in ONE commit under read-set conflict protection
    QuerySpec("tx_cat_merge",
      """SELECT o_orderkey,
                CAST(CASE WHEN o_orderkey % 15 = 1
                            THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
                          WHEN o_orderkey % 7 = 0
                            THEN CAST(round(o_totalprice * 100) AS BIGINT) + 7
                          ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                     END AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2
         UNION ALL
         SELECT o_orderkey,
                CAST(2 * CAST(round(o_totalprice * 100) AS BIGINT) AS BIGINT)
                  AS price_cents
         FROM orders WHERE o_orderkey % 3 = 2""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.ord VERSION AS OF 6")
      }),
    // merge-on-read UPDATE (v7): the v6 snapshot plus DV bits +
    // appended post-images — zero files rewritten, and the read
    // stitches vectors and new rows back together
    QuerySpec("tx_cat_mor",
      """WITH merged AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 15 = 1
                         THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
                       WHEN o_orderkey % 7 = 0
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) + 7
                       ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                  END AS pc
           FROM orders
           WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2
           UNION ALL
           SELECT o_orderkey, 2 * CAST(round(o_totalprice * 100) AS BIGINT) AS pc
           FROM orders WHERE o_orderkey % 3 = 2)
         SELECT o_orderkey,
                CAST(pc + CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END
                     AS BIGINT) AS price_cents
         FROM merged""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.ord VERSION AS OF 7")
      }),
    // schema evolution (v8 ADD COLUMN + v9 insert = head): rows
    // from every earlier generation read NULL for `flag`; the
    // evolved generation carries values — one scan spans both
    QuerySpec("tx_cat_evolve",
      """WITH merged AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 15 = 1
                         THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
                       WHEN o_orderkey % 7 = 0
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) + 7
                       ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                  END AS pc
           FROM orders
           WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2
           UNION ALL
           SELECT o_orderkey, 2 * CAST(round(o_totalprice * 100) AS BIGINT) AS pc
           FROM orders WHERE o_orderkey % 3 = 2)
         SELECT o_orderkey,
                CAST(pc + CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END
                     AS BIGINT) AS price_cents,
                CAST(NULL AS VARCHAR) AS flag
         FROM merged
         UNION ALL
         SELECT o_orderkey + 10000000 AS o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                'x' AS flag
         FROM orders WHERE o_orderkey % 17 = 5""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents, flag FROM $cat.db.ord")
      }),
    // atomic CTAS (StagingTableCatalog): table + data + stats in
    // ONE commit; content is a pure predicate for the oracle
    QuerySpec("tx_cat_ctas",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 11 = 3""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.ctas")
      }),
    // the metadata table: DESCRIBE HISTORY as a SQL relation —
    // version/action/read_version of the 7-statement fixture are
    // fully deterministic, so the oracle is a VALUES literal
    QuerySpec("tx_cat_history",
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'create',     CAST(0 AS BIGINT)),
           (CAST(2 AS BIGINT), 'append',     CAST(0 AS BIGINT)),
           (CAST(3 AS BIGINT), 'append',     CAST(0 AS BIGINT)),
           (CAST(4 AS BIGINT), 'delete',     CAST(3 AS BIGINT)),
           (CAST(5 AS BIGINT), 'update',     CAST(4 AS BIGINT)),
           (CAST(6 AS BIGINT), 'merge',      CAST(5 AS BIGINT)),
           (CAST(7 AS BIGINT), 'mor-update', CAST(6 AS BIGINT)),
           (CAST(8 AS BIGINT), 'schema-evolve', CAST(7 AS BIGINT)),
           (CAST(9 AS BIGINT), 'append',     CAST(0 AS BIGINT)))
         AS t(version, action, read_version)""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT version, action, read_version
                  FROM $cat.db.ord.history""")
      }),
    // ---- r14 surface ----
    // PARTITIONED BY identity: the partition predicate prunes to
    // the files whose collapsed o_orderstatus range admits 'F'
    QuerySpec("tx_cat_part",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 4 = 1 AND o_orderstatus = 'F'""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderkey, price_cents FROM $cat.db.part
                  WHERE o_orderstatus = 'F'""")
      }),
    // maintenance through SQL: the table as CALL compact_deletes +
    // CALL checkpoint left it — vectors folded in, content = the
    // pure predicate
    QuerySpec("tx_cat_call",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 9 = 4 AND o_orderkey % 2 = 1""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.proc")
      }),
    // ALTER COLUMN TYPE widening: one scan spans the int/float era
    // and the bigint/double era
    QuerySpec("tx_cat_widen",
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                CAST(o_orderkey % 97 AS DOUBLE) AS f
         FROM orders WHERE o_orderkey % 19 = 2
         UNION ALL
         SELECT o_orderkey + 4000000000 AS o_orderkey,
                CAST(o_orderkey % 89 AS DOUBLE) AS f
         FROM orders WHERE o_orderkey % 23 = 3""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, f FROM $cat.db.wide")
      }),
    // writeStream.toTable: the stream-written relay equals its
    // batch source (exactly-once epoch commits)
    QuerySpec("tx_cat_stream",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 11 = 3""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.sw")
      }),
    // bucket partition transform: equality predicates prune to one
    // bucket through the derived bucket(8;k) point stats; content
    // stays a pure predicate for the oracle
    QuerySpec("tx_cat_bucket",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 6 = 5 AND o_orderkey % 10 = 5""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderkey, price_cents FROM $cat.db.bkt
                  WHERE o_orderkey % 10 = 5""")
      }),
    // storage-partitioned join: the co-bucketed pair joins with
    // ZERO shuffles on either side (KeyGroupedPartitioning over
    // bucket(8, o_orderkey) through the V2 function catalog)
    QuerySpec("tx_cat_spj",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(3 * CAST(round(o_totalprice * 100) AS BIGINT) AS BIGINT)
                  AS pc3
         FROM orders
         WHERE o_orderkey % 6 = 5 AND o_orderkey % 4 = 1""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT t1.o_orderkey, t1.price_cents, t2.pc3
                  FROM $cat.db.bkt t1 JOIN $cat.db.bkt2 t2
                  ON t1.o_orderkey = t2.o_orderkey""")
      }),
    // compatible-count storage-partitioned join (r16): bucket(8)
    // fact joins the bucket(4) dim with zero shuffles under the
    // join — the reducer folds fine buckets pairwise; pure
    // predicate logic for the oracle
    QuerySpec("tx_cat_spjc",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(5 * CAST(round(o_totalprice * 100) AS BIGINT) AS BIGINT)
                  AS pc5
         FROM orders
         WHERE o_orderkey % 6 = 5 AND o_orderkey % 3 = 2""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT t1.o_orderkey, t1.price_cents, t4.pc5
                  FROM $cat.db.bkt t1 JOIN $cat.db.bkt4 t4
                  ON t1.o_orderkey = t4.o_orderkey""")
      }),
    // complete-mode streaming write: the materialized streaming
    // aggregate equals the batch aggregate of its source (each
    // epoch was ONE stream-replace transaction)
    QuerySpec("tx_cat_complete",
      """SELECT o_orderkey % 7 AS grp,
                count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_pc
         FROM orders WHERE o_orderkey % 11 = 3
         GROUP BY 1""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT grp, n, sum_pc FROM $cat.db.swc")
      }),
    // update-mode streaming write via the mergeKey sink: each epoch
    // MERGED its changed keys, so the table equals the batch
    // aggregate (same oracle shape as tx_cat_complete — that is
    // the point)
    QuerySpec("tx_cat_upsert",
      """SELECT o_orderkey % 7 AS grp,
                count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_pc
         FROM orders WHERE o_orderkey % 11 = 3
         GROUP BY 1""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT grp, n, sum_pc FROM $cat.db.swu")
      }),
    // dynamic file pruning (r16): a fact ⋈ filtered-dim join with
    // NO static fact predicate — the dim's surviving keys reach the
    // fact scan as a runtime filter and the log's stats/blooms drop
    // inadmissible files before they are opened (receipts with
    // corrupted out-of-range files live in DynamicFilePruningSpec;
    // the driver hashes the ANSWER)
    QuerySpec("tx_cat_dfp",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 4 = 1 AND o_orderkey % 11 = 3
           AND CAST(round(o_totalprice * 100) AS BIGINT) % 10 < 3""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT /*+ BROADCAST(d) */ f.o_orderkey, f.price_cents
                  FROM $cat.db.part f JOIN $cat.db.ctas d
                  ON f.o_orderkey = d.o_orderkey
                  WHERE d.price_cents % 10 < 3""")
      }),
    // branch publish (r16): the table equals the branch's audited
    // state — forked rows, branch inserts, branch DV deletes — via
    // ONE fast-forward commit; pure predicate logic for the oracle
    QuerySpec("tx_cat_branch",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 14 = 3 AND o_orderkey % 2 = 1
         UNION ALL
         SELECT o_orderkey + 30000000,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 14 = 10 AND (o_orderkey + 30000000) % 2 = 1""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.brt")
      }),
    // the ref inventory as SQL (r16): tags pin, branches carry
    // fork + head — fully deterministic, so the oracle is a VALUES
    // literal (like tx_cat_history)
    QuerySpec("tx_cat_refs",
      """SELECT * FROM (VALUES
           ('prewap', 'tag', CAST(1 AS BIGINT), CAST(-1 AS BIGINT)),
           ('wap', 'branch', CAST(1 AS BIGINT), CAST(3 AS BIGINT)))
         t(name, kind, pinned_version, branch_head)""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT name, kind, pinned_version, branch_head FROM $cat.db.brt.refs")
      }),
    // ADD COLUMN ... DEFAULT (r16): pre-evolution rows read the
    // frozen default through the EXISTS_DEFAULT metadata — the scan
    // substitutes it for files that predate the column
    QuerySpec("tx_cat_default",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                'bronze' AS tier
         FROM orders WHERE o_orderkey % 21 = 2
         UNION ALL
         SELECT o_orderkey + 20000000,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                'gold' AS tier
         FROM orders WHERE o_orderkey % 21 = 9""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents, tier FROM $cat.db.dflt")
      }),
    // the change feed as SQL: adds of v2..v3 with their stamps
    QuerySpec("tx_cat_changes",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(2 AS BIGINT) AS commit_version
         FROM orders WHERE o_orderkey % 3 = 0
         UNION ALL
         SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(3 AS BIGINT) AS commit_version
         FROM orders WHERE o_orderkey % 3 = 1""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.read.option("startingVersion", 2).option("endingVersion", 3)
          .table(s"$cat.db.ord.changes")
          .select(col("o_orderkey"), col("price_cents"),
            col(graft.sources.TxnStream.CommitVersionCol).as("commit_version"))
      }),
    // ...and the delete half: pre-images the v4 DV commit killed
    QuerySpec("tx_cat_deletes",
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(4 AS BIGINT) AS commit_version
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 = 2""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.read.option("endingVersion", 4).table(s"$cat.db.ord.deletes")
          .select(col("o_orderkey"), col("price_cents"),
            col(graft.sources.TxnStream.CommitVersionCol).as("commit_version"))
      }),
    // MERGE with a NOT MATCHED BY SOURCE delete arm: matched rows
    // doubled, target-only rows gone — one commit
    QuerySpec("tx_cat_nmbs",
      """SELECT o_orderkey,
                CAST(2 * CAST(round(o_totalprice * 100) AS BIGINT) AS BIGINT)
                  AS price_cents
         FROM orders WHERE o_orderkey % 26 = 1""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.nmbs")
      }),
    // the SQL materialized view: CALL refresh_mv maintained db.mv
    // as an exact keyed mirror of db.nmbs (including the merge's
    // rewrite-retraction), so its content is the same pure predicate
    QuerySpec("tx_cat_mv",
      """SELECT o_orderkey,
                CAST(2 * CAST(round(o_totalprice * 100) AS BIGINT) AS BIGINT)
                  AS price_cents
         FROM orders WHERE o_orderkey % 26 = 1""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.mv")
      }),
    // NESTED columns (r17): a dotted predicate + aggregate over a
    // struct-typed table whose struct EVOLVED mid-history (v3 ADDed
    // meta.tier metadata-only; pre-evolution rows read NULL for it,
    // post-evolution rows carry 'gold'). The dotted filter prunes
    // through per-file leaf stats — NestedColumnsSpec proves the
    // pruning with corrupted out-of-range files; this row hashes
    // the VALUES against DuckDB
    QuerySpec("tx_cat_nested",
      // the nested fixture replayed flat: %8=6 rows predate the ADD
      // COLUMN (tier NULL), %8=2 rows carry 'gold'
      """WITH src AS (SELECT o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                        o_orderstatus AS status
                      FROM orders),
         base AS (SELECT cents, status, NULL AS tier FROM src
                  WHERE o_orderkey % 8 = 6
                  UNION ALL
                  SELECT cents, status, 'gold' AS tier FROM src
                  WHERE o_orderkey % 8 = 2)
         SELECT status, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(cents) AS BIGINT) AS cents,
                CAST(count(tier) AS BIGINT) AS tiered
         FROM base WHERE cents >= 1000000 GROUP BY status""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT meta.status AS status, count(*) AS n,
                         sum(meta.cents) AS cents, count(meta.tier) AS tiered
                  FROM $cat.db.nest
                  WHERE meta.cents >= 1000000
                  GROUP BY meta.status""")
      }),
    // RESTORE (r17): the table equals its pre-damage CTAS state —
    // one commit undid a DV delete AND an append, shrinking a grown
    // DV back and dropping the late files; the damaged snapshot
    // still time-travels (RestoreCloneSpec pins that side)
    QuerySpec("tx_cat_restore",
      // restore undid BOTH the %2=0 delete and the +50000000 append:
      // the table is exactly its CTAS slice again
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 17 = 4""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.rcs")
      }),
    // SHALLOW CLONE (r17): the clone diverged with its own DV
    // delete while sharing every source byte (zero copied; the
    // source row above proves rcs is untouched by the clone's DML)
    QuerySpec("tx_cat_clone",
      // the clone = the restored source minus its own %3=0 delete
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 17 = 4 AND o_orderkey % 3 <> 0""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.cln")
      }),
    // `partitions` metadata table (r17): the live partition
    // inventory folded from per-file point stats — metadata-only
    // (file counts ride the real table; rows here are the
    // DETERMINISTIC columns: value, physical rows, DV'd rows)
    QuerySpec("tx_cat_partitions",
      // db.part = the %4=1 orders slice partitioned by o_orderstatus,
      // no deletes: the inventory is one row per status with physical
      // row counts and zero DV'd rows
      """SELECT concat('o_orderstatus=', o_orderstatus) AS part,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(0 AS BIGINT) AS deleted_rows
         FROM orders
         WHERE o_orderkey % 4 = 1
         GROUP BY o_orderstatus""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT partition AS part, rows AS n_rows, deleted_rows
                  FROM $cat.db.part.partitions""")
      }),
    // COPY INTO (r17): the landing dir's three waves ingested
    // exactly once each (two full replays published nothing — the
    // fixture guard pins head at v3); content = ALL orders
    QuerySpec("tx_cat_copy_into",
      // the three %3 waves union to ALL orders — exactly once each:
      // a replayed (or doubled) ingest would double the rows
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.cpy")
      }),
    // days(ts) temporal partitioning (r17): a monthly rollup with a
    // ts range predicate — the predicate prunes day-clustered files
    // through their micros stats (TemporalPartitionSpec proves the
    // pruning with corrupted out-of-range files)
    QuerySpec("tx_cat_days",
      """SELECT date_trunc('month', o_orderdate) AS mon,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders
         WHERE o_orderkey % 9 = 7
           AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         GROUP BY date_trunc('month', o_orderdate)""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT date_trunc('month', ts) AS mon,
                         count(*) AS n, sum(price_cents) AS cents
                  FROM $cat.db.tday
                  WHERE ts >= TIMESTAMP '1995-01-01 00:00:00'
                  GROUP BY date_trunc('month', ts)""")
      }),
    // predicate-scoped overwrite (r17): the 'F' partition was
    // atomically replaced by the tripled %7 slice; every other
    // partition's rows survive untouched (ReplaceWhereSpec pins the
    // file triage — removals, DVs, never-opened disjoint files)
    QuerySpec("tx_cat_replace",
      // the %5 base minus its 'F' partition, plus the tripled %7 'F'
      // slice that atomically replaced it
      """WITH src AS (SELECT o_orderkey,
                             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                             o_orderstatus
                      FROM orders)
         SELECT o_orderkey, cents AS price_cents, o_orderstatus FROM src
         WHERE o_orderkey % 5 = 0 AND o_orderstatus <> 'F'
         UNION ALL
         SELECT o_orderkey, cents * 3 AS price_cents, o_orderstatus FROM src
         WHERE o_orderkey % 7 = 0 AND o_orderstatus = 'F'""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents, o_orderstatus FROM $cat.db.rw")
      }),
    // partition-spec evolution (r17, X-A86): a rollup + ts predicate
    // over a table whose first generation was written under
    // identity(status) and second under days(ts) — both generations
    // answer through their own stats; PartitionEvolutionSpec pins
    // the zero-data-movement + pruning receipts
    QuerySpec("tx_cat_evolve_part",
      // both generations of the evolved table hold the same logical rows
      // the source predicate selects — evolution moved zero data
      """SELECT o_orderstatus AS status,
                date_trunc('month', o_orderdate) AS mon,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders
         WHERE o_orderkey % 9 = 2
           AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
         GROUP BY o_orderstatus, date_trunc('month', o_orderdate)""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderstatus AS status, date_trunc('month', ts) AS mon,
                         count(*) AS n, sum(price_cents) AS cents
                  FROM $cat.db.pev
                  WHERE ts >= TIMESTAMP '1995-07-01 00:00:00'
                  GROUP BY o_orderstatus, date_trunc('month', ts)""")
      }),
    // generated columns (r17, X-A89): `day` was never supplied by
    // the insert — every value below is engine-computed, and the
    // day filter prunes through the generated column's own stats
    // (GeneratedColumnsSpec pins compute/verify/refuse + the DML
    // constraint gap both modes)
    QuerySpec("tx_cat_generated",
      // every day value is CAST(o_orderdate AS DATE) computed by the
      // engine — the insert never supplied the column
      """SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders
         WHERE o_orderkey % 9 = 2 AND o_orderkey % 2 = 0
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY CAST(o_orderdate AS DATE)""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT day, count(*) AS n, sum(price_cents) AS cents
                  FROM $cat.db.genc
                  WHERE day >= DATE '1996-01-01'
                  GROUP BY day""")
      }),
    // identity columns (r17, X-A90): the id VALUES hash — engine
    // allocation is deterministic (rank in column order per batch,
    // second batch offset by the first's high-water mark)
    QuerySpec("tx_cat_identity",
      // identity allocation is rank-in-column-order per batch, the
      // second batch offset by the first's high-water mark — so even
      // the minted VALUES reproduce in SQL
      """WITH src AS (SELECT o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
                      FROM orders WHERE o_orderkey % 11 = 4),
         b1 AS (SELECT CAST(row_number() OVER (ORDER BY o_orderkey, price_cents)
                        AS BIGINT) AS id, o_orderkey, price_cents
                FROM src WHERE o_orderkey % 2 = 0),
         b2 AS (SELECT CAST((SELECT count(*) FROM b1) +
                        row_number() OVER (ORDER BY o_orderkey, price_cents)
                        AS BIGINT) AS id, o_orderkey, price_cents
                FROM src WHERE o_orderkey % 2 = 1)
         SELECT id, o_orderkey, price_cents FROM b1
         UNION ALL SELECT id, o_orderkey, price_cents FROM b2""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT id, o_orderkey, price_cents FROM $cat.db.idn")
      }),
    // unified CDF feed (r17, X-A91): every row of insert + MOR
    // update (pre/post images) + MOR delete (pre-images carrying
    // the values LIVE at delete time), classified by _change_type
    QuerySpec("tx_cat_feed",
      // the feed replayed from the source: v2 inserts everything, v3's
      // MOR update emits pre AND post images of the %14 rows, v4's
      // delete pre-images carry the value LIVE at delete time (updated
      // rows deleted at their v3 post-image value)
      """WITH src AS (SELECT o_orderkey AS k,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS p
                      FROM orders WHERE o_orderkey % 7 = 0)
         SELECT CAST(2 AS BIGINT) AS v, 'insert' AS ct,
                k AS o_orderkey, p AS price_cents FROM src
         UNION ALL SELECT 3, 'update_postimage', k, p + 1 FROM src
           WHERE k % 14 = 0
         UNION ALL SELECT 3, 'update_preimage', k, p FROM src
           WHERE k % 14 = 0
         UNION ALL SELECT 4, 'delete', k,
                CASE WHEN k % 14 = 0 THEN p + 1 ELSE p END FROM src
           WHERE k % 21 = 0""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT _commit_version AS v, _change_type AS ct,
                         o_orderkey, price_cents
                  FROM $cat.db.fd.feed""")
      }),
    // exact CDC through COPY-ON-WRITE DML (r18, X-A93): the default
    // cow mode finalizes through the delta write, so the feed emits
    // exactly the changed rows (pre/post images, delete pre-images
    // at their live values) — never whole post-image files; the
    // rewritten survivors are marked row-preserving and stay silent
    QuerySpec("tx_feed_cow",
      // the COW twin: identical replay semantics — exact CDC is
      // mode-independent (v3's rewrite emits only the %10 rows' pre and
      // post images; v4's rewrite-path delete emits only the %15 rows,
      // updated ones at their v3 post-image value)
      """WITH src AS (SELECT o_orderkey AS k,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS p
                      FROM orders WHERE o_orderkey % 5 = 0)
         SELECT CAST(2 AS BIGINT) AS v, 'insert' AS ct,
                k AS o_orderkey, p AS price_cents FROM src
         UNION ALL SELECT 3, 'update_postimage', k, p + 1 FROM src
           WHERE k % 10 = 0
         UNION ALL SELECT 3, 'update_preimage', k, p FROM src
           WHERE k % 10 = 0
         UNION ALL SELECT 4, 'delete', k,
                CASE WHEN k % 10 = 0 THEN p + 1 ELSE p END FROM src
           WHERE k % 15 = 0""",
      (s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT _commit_version AS v, _change_type AS ct,
                         o_orderkey, price_cents
                  FROM $cat.db.fdc.feed""")
      })
  )
}
