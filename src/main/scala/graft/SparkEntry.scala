package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Fixtures.dirTag
import graft.operators.RelationalOps._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the scale
  * extensions) registers one entry in [[queries]]; each entry that is
  * ANSI-SQL-expressible registers matching DuckDB SQL in [[oracleSql]].
  * Column names are aliased identically on both sides (the driver's
  * compare sorts columns by name before hashing).
  *
  * Double-typed aggregates are rounded on BOTH sides so summation-order
  * differences between Spark and DuckDB (last-ulp fp noise) cannot flip
  * the hash.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  private val propsSchema = new StructType().add("k", IntegerType)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ textQueries ++ dedupQueries ++ simQueries ++
      multimodalQueries ++ corpusQueries ++ ioQueries ++ TpchQueries.queries

  def oracleSql: Map[String, String] =
    coreOracle ++ textOracle ++ dedupOracle ++ simOracle ++
      multimodalOracle ++ corpusOracle ++ ioOracle ++ TpchQueries.oracleSql

  /** Every side artifact the queries read (fixture tables, layouts,
    * indexes), one registered [[Fixtures.Fixture]] each, under this
    * JVM's fresh fixture dir. [[prepare]] builds all of them.
    */
  private[graft] val fixtures = new Fixtures(Fixtures.jvmDir)

  /** Point session catalog `cat` at the [[graft.sources.GraftCatalog]]
    * warehouse `wh`; returns `cat`. */
  private def useCatalog(s: SparkSession, cat: String, wh: String): String = {
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    cat
  }

  /** The s8 file topic for `dir` (the topic content is a deterministic
    * function of the events table). The fixture exists for bench
    * hygiene: the topic WRITE is transport setup, not the consumer-poll
    * operator `s8_latest_per_key` measures — [[prepare]] lets Bench
    * pay it before the clock starts.
    */
  private val ensureFileTopic = fixtures("topic") { (s, dir, topicDir) =>
    Tables.events(s, dir)
      .select(to_json(struct(col("event_id"), col("user_id"), col("event_type"),
          col("value"))).as("value"),
        col("event_id").as("batch_id"))
      .write.mode("overwrite").json(topicDir)
  }

  /** Serializes bucketed-table materialization: concurrent callers
    * must block until the first caller's saveAsTable completes, or
    * they would query a half-written table. */
  private val bucketLock = new Object

  /** Write customer/orders as managed tables bucketed (and sorted) on
    * the join key, once per (SESSION, dir). Bucketing is a LAYOUT
    * contract recorded in the catalog: both sides pre-hashed into the
    * same 8 buckets on the key means the recurring fact-fact join needs
    * no exchange at all — the cost that dominates every repeated join
    * at 100 TB is paid once at write time instead of per query. The
    * write itself is setup IO ([[prepare]] pays it before Bench's
    * clock).
    *
    * The "already materialized" check is `catalog.tableExists` on the
    * caller's session, run on every call as the fixture's session step
    * — NOT the JVM-wide memo: managed tables live in a per-SparkSession
    * in-memory catalog, so a second session in the same JVM must
    * re-register them, and a lock (not a lock-free set) makes
    * concurrent callers wait out the write. Its fixture root stays
    * empty.
    */
  private val ensureBucketedTables = fixtures.withSession("bucketed", (s, dir, _) =>
    bucketLock.synchronized {
      val tag = dirTag(dir)
      val (cust, ord) = (s"b_customer_$tag", s"b_orders_$tag")
      if (!s.catalog.tableExists(cust) || !s.catalog.tableExists(ord)) {
        Tables.customer(s, dir).write.mode("overwrite")
          .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(cust)
        Tables.orders(s, dir).write.mode("overwrite")
          .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ord)
      }
      (cust, ord)
    })((_, _, _) => ())

  /** Events hive-partitioned by event_type — the layout that turns a
    * partition-key predicate into directory PRUNING (the scan never
    * lists, opens, or reads non-matching partitions; at 100 TB this is
    * the difference between reading one partition and listing a
    * million files). Setup IO, paid by [[prepare]] outside Bench's
    * clock.
    */
  private val ensurePartitionedEvents = fixtures("part_events") { (s, dir, pdir) =>
    Tables.events(s, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .write.mode("overwrite").partitionBy("event_type").parquet(pdir)
  }

  /** Events as two parquet GENERATIONS under one root — gen=1
    * without the `cents` column (the "old ingest" schema), gen=2 with
    * it — the schema-evolution layout every long-lived lakehouse table
    * accumulates. Readers opt into the union schema with
    * `mergeSchema=true` (footer merge at planning; old files yield
    * nulls for the new column — no rewrite of historical data).
    * Setup IO, paid by [[prepare]].
    */
  private val ensureEvolvedEvents = fixtures("evolve") { (s, dir, root) =>
    val e = Tables.events(s, dir)
    e.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.mode("overwrite").parquet(s"$root/gen=1")
    e.filter(col("event_id") % 2 =!= 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .write.mode("overwrite").parquet(s"$root/gen=2")
  }

  /** The orders z-order layout job (shared by io_zorder /
    * io_prune_stats / io_compact_plan): per-file bounding boxes of
    * orders clustered on (custkey-bucket, order-day) via Morton
    * interleave.
    */
  private def ordersZorderStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.LayoutOps.zorderFileStats(
      Tables.orders(s, dir).select(
        pmod(col("o_custkey"), lit(65536)).as("x"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).as("y"),
        col("o_orderkey")),
      "x", "y", "o_orderkey", rowsPerFile = 1000)

  /** The orders file-stats MANIFEST (one row per 1000-row file —
    * manifest scale, not data scale).
    * io_prune_stats and io_compact_plan are metadata-only planning
    * steps — file stats in, scan set / merge plan out — but until r10
    * they recomputed the data-scale z-sort inside their timed bodies,
    * billing the sort three times per bench pass (io_zorder's
    * legitimate timing plus twice more) and making those two rows the
    * loaded-box canaries (r9 verdict #3). Setup IO, paid by
    * [[prepare]] outside Bench's clock; lazy for Verify.
    */
  private val ensureZorderStats = fixtures("zstats") { (s, dir, path) =>
    ordersZorderStats(s, dir).write.mode("overwrite").parquet(path)
  }

  /** The three-version [[graft.sources.TxnLog]] table: v1 appends the
    * o_orderkey%3==0 slice of orders (as exact cents), v2 appends the
    * %3==1 slice, v3 is a copy-on-write upsert that rewrites v1's
    * files doubling every %6==0 key's price. Every version's content
    * is a pure predicate over `orders`, which is what lets DuckDB
    * oracle snapshot reads, time travel, and the version diff without
    * seeing the log. Setup IO, paid by [[prepare]] outside Bench's
    * clock; lazy for Verify.
    */
  private val ensureTxnTable = fixtures("txn") { (s, dir, root) =>
    import graft.sources.TxnLog
    TxnLog.init(root)
    val base = Tables.orders(s, dir).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"))
    val a1 = TxnLog.stage(base.filter(col("o_orderkey") % 3 === 0), root, "v1-append")
    TxnLog.commit(root, "append", a1, Nil, readVersion = 0L, txnId = "v1-append")
    val a2 = TxnLog.stage(base.filter(col("o_orderkey") % 3 === 1), root, "v2-append")
    TxnLog.commit(root, "append", a2, Nil, readVersion = 1L, txnId = "v2-append")
    // copy-on-write upsert: rewrite exactly the files that hold the
    // affected keys (v1's), keep the untouched rows, log the
    // replaced files as removed
    val rewritten = s.read.parquet(a1: _*)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 6 === 0, col("price_cents") * 2)
          .otherwise(col("price_cents")).as("price_cents"))
    val a3 = TxnLog.stage(rewritten, root, "v3-upsert")
    TxnLog.commit(root, "upsert", a3, removed = a1, readVersion = 2L,
      txnId = "v3-upsert")
  }

  /** Corpus row counts memoized per sf dir (r18, X-V6): the
    * occupancy-adaptive ANN rows' corpus-size input. A graft-table
    * corpus reads this from per-file stats
    * ([[graft.sources.TxnLog.rowCountFromStats]] — zero tasks); the
    * driver's plain-parquet corpus has no log, so the count runs once
    * per JVM and serves from memory thereafter — the same
    * metadata-priced contract, instead of a count job per query.
    */
  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def embeddingsCount(s: SparkSession, dir: String): Long =
    corpusCounts.computeIfAbsent(s"emb:$dir",
      _ => Tables.embeddings(s, dir).count())
  private def documentsCount(s: SparkSession, dir: String): Long =
    corpusCounts.computeIfAbsent(s"doc:$dir",
      _ => Tables.documents(s, dir).count())

  /** The SQL-native lakehouse fixture ([[graft.sources.GraftCatalog]]):
    * a per-sf catalog `gcat_<tag>` whose warehouse holds one table
    * `db.ord`, built ENTIRELY through SQL — CREATE TABLE (v1), two
    * INSERT slices (v2/v3, each one atomic stats-bearing commit), one
    * arithmetic DELETE FROM (v4, deletion vectors) — so the tx_cat_*
    * rows exercise the V2 connector end to end: catalog resolution,
    * filter pushdown, log-stats file pruning, DV-filtering readers,
    * SQL time travel. Content stays a pure predicate over `orders`
    * for the DuckDB oracle. Returns the catalog name.
    */
  private val ensureCatalogTable = fixtures.withSession("cat",
      (s, dir, wh) => useCatalog(s, s"gcat_${dirTag(dir)}", wh)) { (s, dir, wh) =>
    val tag = dirTag(dir)
    val cat = s"gcat_$tag"
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        col("o_orderstatus"))
      .createOrReplaceTempView(s"cat_src_$tag")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    s.sql(s"CREATE TABLE $cat.db.ord " +                          // v1
      "(o_orderkey BIGINT, price_cents BIGINT, o_orderstatus STRING)")
    s.sql(s"INSERT INTO $cat.db.ord " +                           // v2
      s"SELECT * FROM cat_src_$tag WHERE o_orderkey % 3 = 0")
    s.sql(s"INSERT INTO $cat.db.ord " +                           // v3
      s"SELECT * FROM cat_src_$tag WHERE o_orderkey % 3 = 1")
    s.sql(s"DELETE FROM $cat.db.ord WHERE o_orderkey % 5 = 2")    // v4 (DV)
    s.sql(s"UPDATE $cat.db.ord SET price_cents = price_cents + 7 " + // v5 (COW)
      "WHERE o_orderkey % 7 = 0")
    // v6: MERGE — %15==1 keys are always in the target (k=15m+1
    // has k%3=1 and k%5=1, so the v4 delete never touched them)
    // and exercise the MATCHED arm; %3==2 keys are disjoint from
    // the target and exercise NOT MATCHED inserts
    s.sql(s"""MERGE INTO $cat.db.ord t
              USING (SELECT * FROM cat_src_$tag
                     WHERE o_orderkey % 3 = 2 OR o_orderkey % 15 = 1) s
              ON t.o_orderkey = s.o_orderkey
              WHEN MATCHED THEN UPDATE SET price_cents = 2 * s.price_cents
              WHEN NOT MATCHED THEN INSERT (o_orderkey, price_cents, o_orderstatus)
                VALUES (s.o_orderkey, 2 * s.price_cents, s.o_orderstatus)""")
    // v7: the same UPDATE primitive MERGE-ON-READ — deletion-
    // vector bits + appended post-images, zero files rewritten
    val prevMode = s.conf.getOption("spark.graft.dml.mode")
    s.conf.set("spark.graft.dml.mode", "mor")
    try s.sql(s"UPDATE $cat.db.ord SET price_cents = price_cents + 1 " +
      "WHERE o_orderkey % 13 = 0")
    finally prevMode match {
      case Some(m) => s.conf.set("spark.graft.dml.mode", m)
      case None    => s.conf.unset("spark.graft.dml.mode")
    }
    // v8: schema evolution — one metadata commit; v9: an insert
    // under the evolved schema (old rows read NULL for `flag`)
    s.sql(s"ALTER TABLE $cat.db.ord ADD COLUMN flag STRING")
    s.sql(s"INSERT INTO $cat.db.ord SELECT o_orderkey + 10000000, " +
      s"price_cents, o_orderstatus, 'x' FROM cat_src_$tag " +
      "WHERE o_orderkey % 17 = 5")
    // a second table via ATOMIC CTAS: one commit carrying create +
    // data + typed stats (StagingTableCatalog path)
    s.sql(s"CREATE TABLE $cat.db.ctas AS " +
      s"SELECT o_orderkey, price_cents FROM cat_src_$tag WHERE o_orderkey % 11 = 3")
    // PARTITIONED BY identity (r14): inserts range-cluster by the
    // partition column so its per-file ranges collapse; a
    // partition predicate then prunes through ordinary typed
    // stats (X-A38 as SQL)
    s.sql(s"CREATE TABLE $cat.db.part " +
      "(o_orderkey BIGINT, price_cents BIGINT, o_orderstatus STRING) " +
      "PARTITIONED BY (o_orderstatus)")
    s.sql(s"INSERT INTO $cat.db.part " +
      s"SELECT * FROM cat_src_$tag WHERE o_orderkey % 4 = 1")
    // BUCKET partition transform (r15): writers cluster by
    // pmod(hash(k), 8), each file records its collapsed bucket id
    // as a derived point stat, equality predicates prune to one
    // bucket (Iceberg-style bucket(n, c) through X-A38's stats)
    s.sql(s"CREATE TABLE $cat.db.bkt " +
      "(o_orderkey BIGINT, price_cents BIGINT) " +
      "PARTITIONED BY (bucket(8, o_orderkey))")
    s.sql(s"INSERT INTO $cat.db.bkt SELECT o_orderkey, price_cents " +
      s"FROM cat_src_$tag WHERE o_orderkey % 6 = 5")
    // a CO-BUCKETED sibling: joining it with db.bkt is a
    // storage-partitioned join — zero shuffles on either side
    s.sql(s"CREATE TABLE $cat.db.bkt2 " +
      "(o_orderkey BIGINT, pc3 BIGINT) " +
      "PARTITIONED BY (bucket(8, o_orderkey))")
    s.sql(s"INSERT INTO $cat.db.bkt2 SELECT o_orderkey, price_cents * 3 " +
      s"FROM cat_src_$tag WHERE o_orderkey % 4 = 1")
    // a COMPATIBLE-count sibling (r16): bucket(4) joins the
    // bucket(8) fact shuffle-free through the bucket reducer
    // (8 % 4 == 0 -> fine id % 4 == coarse id)
    s.sql(s"CREATE TABLE $cat.db.bkt4 " +
      "(o_orderkey BIGINT, pc5 BIGINT) " +
      "PARTITIONED BY (bucket(4, o_orderkey))")
    s.sql(s"INSERT INTO $cat.db.bkt4 SELECT o_orderkey, price_cents * 5 " +
      s"FROM cat_src_$tag WHERE o_orderkey % 3 = 2")
    // maintenance THROUGH SQL (r14, ProcedureCatalog): a DV delete
    // folded clean by CALL compact_deletes, then CALL checkpoint
    s.sql(s"CREATE TABLE $cat.db.proc AS SELECT o_orderkey, price_cents " +
      s"FROM cat_src_$tag WHERE o_orderkey % 9 = 4")
    s.sql(s"DELETE FROM $cat.db.proc WHERE o_orderkey % 2 = 0")
    s.sql(s"CALL $cat.system.compact_deletes(table => 'db.proc', " +
      "min_deleted_fraction => 0.1)")
    s.sql(s"CALL $cat.system.checkpoint(table => 'db.proc')")
    // ALTER COLUMN TYPE widening (r14): int->bigint, float->double
    // across two file generations; f holds integral values so the
    // float->double conversion is exact for the oracle
    s.sql(s"CREATE TABLE $cat.db.wide (o_orderkey INT, f FLOAT)")
    s.sql(s"INSERT INTO $cat.db.wide SELECT CAST(o_orderkey AS INT), " +
      s"CAST(o_orderkey % 97 AS FLOAT) FROM cat_src_$tag WHERE o_orderkey % 19 = 2")
    s.sql(s"ALTER TABLE $cat.db.wide ALTER COLUMN o_orderkey TYPE BIGINT")
    s.sql(s"ALTER TABLE $cat.db.wide ALTER COLUMN f TYPE DOUBLE")
    s.sql(s"INSERT INTO $cat.db.wide SELECT o_orderkey + 4000000000, " +
      s"CAST(o_orderkey % 89 AS DOUBLE) FROM cat_src_$tag WHERE o_orderkey % 23 = 3")
    // STREAMING WRITE (r14): db.ctas relayed into db.sw through
    // readStream.table -> writeStream.toTable — the exactly-once
    // epoch commit path, drained and stopped inside the fixture
    s.sql(s"CREATE TABLE $cat.db.sw (o_orderkey BIGINT, price_cents BIGINT)")
    val q = s.readStream.table(s"$cat.db.ctas")
      .writeStream.option("checkpointLocation", s"$wh/_ckpt_sw")
      .toTable(s"$cat.db.sw")
    try q.processAllAvailable() finally q.stop()
    // COMPLETE-MODE STREAMING WRITE (r15): a streaming aggregate
    // over db.ctas materialized into db.swc — each epoch is ONE
    // stream-replace transaction (the reference's own
    // aggregate-to-sink topology, spark_stream.py:58–84)
    s.sql(s"CREATE TABLE $cat.db.swc (grp BIGINT, n BIGINT, sum_pc BIGINT)")
    val qc = s.readStream.table(s"$cat.db.ctas")
      .groupBy((col("o_orderkey") % 7).as("grp"))
      .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_pc"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", s"$wh/_ckpt_swc")
      .toTable(s"$cat.db.swc")
    try qc.processAllAvailable() finally qc.stop()
    // UPDATE-MODE STREAMING WRITE (r16): the same aggregate in
    // update mode, materialized through the mergeKey sink — each
    // epoch's changed keys MERGE into db.swu, so the table equals
    // the batch aggregate (the reference's actual output mode,
    // spark_stream.py:73,83, as a lakehouse table)
    s.sql(s"CREATE TABLE $cat.db.swu (grp BIGINT, n BIGINT, sum_pc BIGINT)")
    val qu = s.readStream.table(s"$cat.db.ctas")
      .groupBy((col("o_orderkey") % 7).as("grp"))
      .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_pc"))
      .writeStream.outputMode("update")
      .option("mergeKey", "grp")
      .option("checkpointLocation", s"$wh/_ckpt_swu")
      .toTable(s"$cat.db.swu")
    try qu.processAllAvailable() finally qu.stop()
    // BRANCH REFS (r16): write-audit-publish — fork, branch DML
    // (insert + DV delete) invisible to main, then ONE strictly
    // fast-forward publish commit lands the audited state
    s.sql(s"CREATE TABLE $cat.db.brt AS SELECT o_orderkey, price_cents " +
      s"FROM cat_src_$tag WHERE o_orderkey % 14 = 3")
    s.sql(s"CALL $cat.system.create_branch(table => 'db.brt', branch => 'wap')")
    s.sql(s"INSERT INTO $cat.db.brt.branch_wap SELECT o_orderkey + 30000000, " +
      s"price_cents FROM cat_src_$tag WHERE o_orderkey % 14 = 10")
    s.sql(s"DELETE FROM $cat.db.brt.branch_wap WHERE o_orderkey % 2 = 0")
    s.sql(s"CALL $cat.system.publish_branch(table => 'db.brt', branch => 'wap')")
    s.sql(s"CALL $cat.system.create_tag(table => 'db.brt', " +
      "tag => 'prewap', version => 1)")
    // NOT NULL + DEFAULT contracts (r16): rows written BEFORE the
    // ADD COLUMN read the frozen default ('bronze'), rows after
    // carry their own value — zero rewrites, oracle-closed
    s.sql(s"CREATE TABLE $cat.db.dflt " +
      "(o_orderkey BIGINT NOT NULL, price_cents BIGINT)")
    s.sql(s"INSERT INTO $cat.db.dflt SELECT o_orderkey, price_cents " +
      s"FROM cat_src_$tag WHERE o_orderkey % 21 = 2")
    s.sql(s"ALTER TABLE $cat.db.dflt ADD COLUMN tier STRING DEFAULT 'bronze'")
    s.sql(s"INSERT INTO $cat.db.dflt SELECT o_orderkey + 20000000, " +
      s"price_cents, 'gold' FROM cat_src_$tag WHERE o_orderkey % 21 = 9")
    // MERGE WHEN NOT MATCHED BY SOURCE (r14): %26=1 is exactly
    // half of the %13=1 target (26 = 2*13), so matched rows
    // double and the other half deletes — fully oracle-closed
    s.sql(s"CREATE TABLE $cat.db.nmbs AS SELECT o_orderkey, price_cents " +
      s"FROM cat_src_$tag WHERE o_orderkey % 13 = 1")
    s.sql(s"""MERGE INTO $cat.db.nmbs t
              USING (SELECT o_orderkey, price_cents FROM cat_src_$tag
                     WHERE o_orderkey % 26 = 1) s
              ON t.o_orderkey = s.o_orderkey
              WHEN MATCHED THEN UPDATE SET price_cents = 2 * s.price_cents
              WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    // MATERIALIZED VIEW through SQL (r15): db.mv mirrors db.nmbs
    // via CALL refresh_mv — offsets live in the target's own
    // ledger, so a replayed refresh applies nothing twice
    s.sql(s"CREATE TABLE $cat.db.mv (o_orderkey BIGINT, price_cents BIGINT)")
    s.sql(s"CALL $cat.system.refresh_mv(source => 'db.nmbs', " +
      "target => 'db.mv', key => 'o_orderkey')")
    // NESTED/STRUCT columns (r17): writes stat struct LEAVES under
    // dotted paths (meta.cents prunes like a top-level column),
    // and one level of nesting evolves metadata-only — v3 ADDs
    // meta.tier touching zero files (old rows read NULL), v4
    // inserts carry it
    s.sql(s"CREATE TABLE $cat.db.nest " +
      "(o_orderkey BIGINT, meta STRUCT<cents: BIGINT, status: STRING>)")
    s.sql(s"INSERT INTO $cat.db.nest SELECT o_orderkey, " +
      "named_struct('cents', price_cents, 'status', o_orderstatus) " +
      s"FROM cat_src_$tag WHERE o_orderkey % 8 = 6")
    s.sql(s"ALTER TABLE $cat.db.nest ADD COLUMN meta.tier STRING")
    s.sql(s"INSERT INTO $cat.db.nest SELECT o_orderkey + 40000000, " +
      "named_struct('cents', price_cents, 'status', o_orderstatus, " +
      s"'tier', 'gold') FROM cat_src_$tag WHERE o_orderkey % 8 = 2")
    // RESTORE (r17): damage the CTAS state (a DV delete + an
    // append), then ONE restore commit snaps files, DVs and
    // schema back to v1 — history keeps all four versions
    s.sql(s"CREATE TABLE $cat.db.rcs AS SELECT o_orderkey, price_cents " +
      s"FROM cat_src_$tag WHERE o_orderkey % 17 = 4")             // v1
    s.sql(s"DELETE FROM $cat.db.rcs WHERE o_orderkey % 2 = 0")    // v2
    s.sql(s"INSERT INTO $cat.db.rcs SELECT o_orderkey + 50000000, " +
      s"price_cents FROM cat_src_$tag WHERE o_orderkey % 17 = 9") // v3
    s.sql(s"CALL $cat.system.restore(table => 'db.rcs', version => 1)") // v4
    // SHALLOW CLONE (r17): db.cln shares db.rcs's bytes (zero
    // copied; the fork version pinned on rcs against vacuum),
    // then diverges with its own DV delete — rcs unchanged
    s.sql(s"CALL $cat.system.clone(source => 'db.rcs', target => 'db.cln')")
    s.sql(s"DELETE FROM $cat.db.cln WHERE o_orderkey % 3 = 0")
    // COPY INTO (r17): a landing directory ingested in two waves
    // with a full replay after each — the replay publishes NO
    // commit (the guard pins head at v3), and a double-ingest
    // would double the rows and fail the hash
    val landing = java.nio.file.Paths.get(s"$wh/landing_cpy")
    java.nio.file.Files.createDirectories(landing)
    def landFile(name: String, m: Int): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cpy_src")
      s.sql(s"SELECT o_orderkey, price_cents FROM cat_src_$tag " +
          s"WHERE o_orderkey % 3 = $m")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val it = java.nio.file.Files.list(tmp).iterator()
      val part = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, landing.resolve(s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    s.sql(s"CREATE TABLE $cat.db.cpy " +
      "(o_orderkey BIGINT, price_cents BIGINT)")                  // v1
    landFile("w0", 0); landFile("w1", 1)
    s.sql(s"CALL $cat.system.copy_into(table => 'db.cpy', " +
      s"source => '$landing')")                                   // v2
    s.sql(s"CALL $cat.system.copy_into(table => 'db.cpy', " +
      s"source => '$landing')")                                   // replay: no-op
    landFile("w2", 2)
    s.sql(s"CALL $cat.system.copy_into(table => 'db.cpy', " +
      s"source => '$landing')")                                   // v3: the delta
    s.sql(s"CALL $cat.system.copy_into(table => 'db.cpy', " +
      s"source => '$landing')")                                   // replay: no-op
    // TEMPORAL partition transform (r17): days(ts) range-clusters
    // inserts by UTC epoch day, so each staged file spans few
    // days and ts predicates prune through the existing typed
    // micros stats (the transform needs NO new pruning domain)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate").as("ts"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .where(col("o_orderkey") % 9 === 7)
      .createOrReplaceTempView(s"cat_ts_$tag")
    s.sql(s"CREATE TABLE $cat.db.tday " +
      "(o_orderkey BIGINT, ts TIMESTAMP, price_cents BIGINT) " +
      "PARTITIONED BY (days(ts))")                                // v1
    s.sql(s"INSERT INTO $cat.db.tday SELECT * FROM cat_ts_$tag")  // v2
    // predicate-scoped overwrite (r17): INSERT OVERWRITE one
    // PARTITION = delete-matching + append in ONE commit; the
    // other partitions' rows must survive byte-identically
    s.sql(s"CREATE TABLE $cat.db.rw " +
      "(o_orderkey BIGINT, price_cents BIGINT, o_orderstatus STRING) " +
      "PARTITIONED BY (o_orderstatus)")                           // v1
    s.sql(s"INSERT INTO $cat.db.rw " +
      s"SELECT * FROM cat_src_$tag WHERE o_orderkey % 5 = 0")     // v2
    s.sql(s"INSERT OVERWRITE $cat.db.rw PARTITION (o_orderstatus = 'F') " +
      s"SELECT o_orderkey, price_cents * 3 FROM cat_src_$tag " +
      "WHERE o_orderkey % 7 = 0 AND o_orderstatus = 'F'")         // v3
    // PARTITION-SPEC EVOLUTION (r17, X-A86): one generation
    // written under identity(o_orderstatus), one metadata commit
    // re-declaring days(ts), one generation under the new spec —
    // zero data movement, both generations readable and prunable
    // through their own (sound) stats
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate").as("ts"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        col("o_orderstatus"))
      .where(col("o_orderkey") % 9 === 2)
      .createOrReplaceTempView(s"cat_pev_$tag")
    s.sql(s"CREATE TABLE $cat.db.pev " +
      "(o_orderkey BIGINT, ts TIMESTAMP, price_cents BIGINT, " +
      "o_orderstatus STRING) " +
      "PARTITIONED BY (o_orderstatus)")                           // v1
    s.sql(s"INSERT INTO $cat.db.pev " +
      s"SELECT * FROM cat_pev_$tag WHERE o_orderkey % 2 = 0")     // v2
    s.sql(s"CALL $cat.system.set_partitioning(table => 'db.pev', " +
      "spec => 'days(ts)')")                                      // v3
    s.sql(s"INSERT INTO $cat.db.pev " +
      s"SELECT * FROM cat_pev_$tag WHERE o_orderkey % 2 = 1")     // v4
    // GENERATED ALWAYS AS (r17, X-A89): `day` computes from ts on
    // insert (omitted by name), enforces via the synthetic
    // gen_day CHECK on every write path, and is an ordinary
    // stat/partition column
    s.sql(s"CREATE TABLE $cat.db.genc " +
      "(o_orderkey BIGINT, ts TIMESTAMP, price_cents BIGINT, " +
      "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
      "PARTITIONED BY (day)")                                     // v1
    s.sql(s"INSERT INTO $cat.db.genc (o_orderkey, ts, price_cents) " +
      s"SELECT o_orderkey, ts, price_cents FROM cat_pev_$tag " +
      "WHERE o_orderkey % 2 = 0")                                 // v2
    // IDENTITY columns (r17, X-A90): two batches, ids minted in
    // deterministic column order so even the VALUES are
    // oracle-checkable; the second batch continues past the
    // first's metadata-only high-water mark
    s.sql(s"CREATE TABLE $cat.db.idn " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "o_orderkey BIGINT, price_cents BIGINT)")                   // v1
    s.sql(s"INSERT INTO $cat.db.idn (o_orderkey, price_cents) " +
      s"SELECT o_orderkey, price_cents FROM cat_src_$tag " +
      "WHERE o_orderkey % 11 = 4 AND o_orderkey % 2 = 0")         // v2
    s.sql(s"INSERT INTO $cat.db.idn (o_orderkey, price_cents) " +
      s"SELECT o_orderkey, price_cents FROM cat_src_$tag " +
      "WHERE o_orderkey % 11 = 4 AND o_orderkey % 2 = 1")         // v3
    // unified CDF feed (r17, X-A91): insert + MOR update + MOR
    // delete — the feed's _change_type classification is EXACT on
    // deletion-vector DML
    s.sql(s"CREATE TABLE $cat.db.fd " +
      "(o_orderkey BIGINT, price_cents BIGINT)")                  // v1
    s.sql(s"INSERT INTO $cat.db.fd SELECT o_orderkey, price_cents " +
      s"FROM cat_src_$tag WHERE o_orderkey % 7 = 0")              // v2
    val prevFd = s.conf.getOption("spark.graft.dml.mode")
    s.conf.set("spark.graft.dml.mode", "mor")
    try {
      s.sql(s"UPDATE $cat.db.fd SET price_cents = price_cents + 1 " +
        "WHERE o_orderkey % 14 = 0")                              // v3
      s.sql(s"DELETE FROM $cat.db.fd WHERE o_orderkey % 21 = 0")  // v4
    } finally prevFd match {
      case Some(m) => s.conf.set("spark.graft.dml.mode", m)
      case None    => s.conf.unset("spark.graft.dml.mode")
    }
    // r18 (X-A93): the COW twin — default-mode (copy-on-write)
    // DML through the finalized delta write, whose commit carries
    // exact kill bitmaps + row-preserving survivor files, so the
    // feed is row-exact here too. The DELETE condition is a
    // subquery ON PURPOSE: it fails canDeleteWhere and takes the
    // row-level rewrite path (a translatable predicate would take
    // the metadata DV path, which the `fd` table already covers).
    s.sql(s"CREATE TABLE $cat.db.fdc " +
      "(o_orderkey BIGINT, price_cents BIGINT)")                  // v1
    s.sql(s"INSERT INTO $cat.db.fdc SELECT o_orderkey, price_cents " +
      s"FROM cat_src_$tag WHERE o_orderkey % 5 = 0")              // v2
    s.sql(s"UPDATE $cat.db.fdc SET price_cents = price_cents + 1 " +
      "WHERE o_orderkey % 10 = 0")                                // v3 (COW)
    s.sql(s"DELETE FROM $cat.db.fdc WHERE o_orderkey IN " +
      s"(SELECT o_orderkey FROM cat_src_$tag WHERE o_orderkey % 15 = 0)") // v4 (COW)
  }

  /** X-D17 end-to-end fixture (r19): a lakehouse `docs` table seeded
    * with the EXISTING corpus (doc_id % 10 != 0), then mutated by a
    * COW text UPDATE (doc_id % 7 = 1) and a DV DELETE (doc_id % 5 =
    * 3), with its MinHash band index CDF-MAINTAINED into a sibling
    * graft table via [[graft.sources.TxnStream.maintainIndexInto]] —
    * the index the `dd_maintained_index` row answers through, so the
    * maintenance machinery's end-to-end ANSWER (not just the spec's
    * index-equality) sits under the DuckDB oracle.
    */
  private val ensureDocIndex = fixtures.withSession("dix",
      (s, dir, wh) => { useCatalog(s, s"gdix_${dirTag(dir)}", wh); wh }) { (s, dir, wh) =>
    import graft.sources.{TxnLog, TxnStream}
    val tag = dirTag(dir)
    val cat = s"gdix_$tag"
    val src = s"$wh/db/docs"
    val idx = s"$wh/db/docsix"
    Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))
      .createOrReplaceTempView(s"dix_src_$tag")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING)") // v1
    s.sql(s"INSERT INTO $cat.db.docs SELECT * FROM dix_src_$tag")    // v2
    s.sql(s"UPDATE $cat.db.docs SET text = concat(text, ' updated twice over') " +
      "WHERE doc_id % 7 = 1")                                        // v3 (COW)
    s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 5 = 3")          // v4 (DV)
    TxnLog.init(idx)
    TxnStream.maintainIndexInto(s, src, idx, "bandix", "doc_id")(
      df => graft.operators.DedupOps.bandIndex(df, "doc_id", "text"))
  }

  /** X-S22 end-to-end fixture (r19): the vector twin of
    * [[ensureDocIndex]] — a lakehouse `vecs` table seeded with the
    * existing corpus (vec_id % 10 != 0), mutated by a COW embedding
    * UPDATE (vec_id % 7 = 1 negates, a deterministic full-vector
    * rewrite) and a DV DELETE (vec_id % 5 = 3), its LSH postings
    * CDF-maintained into a sibling table. `sim_maintained_index`
    * answers incremental ANN dedup through it.
    */
  private val ensureVecIndex = fixtures.withSession("vix",
      (s, dir, wh) => { useCatalog(s, s"gvix_${dirTag(dir)}", wh); wh }) { (s, dir, wh) =>
    import graft.sources.{TxnLog, TxnStream}
    val tag = dirTag(dir)
    val cat = s"gvix_$tag"
    val src = s"$wh/db/vecs"
    val idx = s"$wh/db/vecsix"
    Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .createOrReplaceTempView(s"vix_src_$tag")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    s.sql(s"CREATE TABLE $cat.db.vecs " +
      "(vec_id BIGINT, embedding ARRAY<FLOAT>)")                    // v1
    s.sql(s"INSERT INTO $cat.db.vecs SELECT * FROM vix_src_$tag")   // v2
    s.sql(s"UPDATE $cat.db.vecs SET embedding = " +
      "transform(embedding, x -> -x) WHERE vec_id % 7 = 1")         // v3 (COW)
    s.sql(s"DELETE FROM $cat.db.vecs WHERE vec_id % 5 = 3")         // v4 (DV)
    TxnLog.init(idx)
    TxnStream.maintainIndexInto(s, src, idx, "annix", "vec_id")(df =>
      graft.operators.VectorOps.lshIndex(df, "vec_id", "embedding")
        .withColumnRenamed("__id", "vec_id"))
  }

  /** A second [[graft.sources.TxnLog]] table for the data-skipping
    * path: ONE append of the %3<=1 orders slice, staged
    * range-clustered on o_orderkey into 8 files with per-file
    * (min, max, rows) stats inline in the commit record — so a range
    * read can prove most files irrelevant without opening them, and
    * COUNT/MIN/MAX are answerable from the log alone. `o_tag` is a
    * deterministic high-cardinality secondary key (a Knuth
    * multiplicative hash of the order key, so it is UNCORRELATED with
    * the clustering order — every file's [min,max] of it spans the
    * whole domain and range stats can never prune a tag lookup);
    * each file carries a bloom filter over it, the index that serves
    * exactly that lookup. Setup IO, paid by [[prepare]].
    */
  private val ensureTxnRangeTable = fixtures("txnr") { (s, dir, root) =>
    import graft.sources.TxnLog
    TxnLog.init(root)
    // o_part: a hive-style partition column (coarse bucket of the
    // clustering key — constant or near-constant per range file),
    // statted ALONGSIDE o_orderkey via the multi-column map, so
    // partition pruning is just stats pruning on o_part
    val base = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 3 <= 1)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        (col("o_orderkey") * lit(2654435761L) % lit(1000000007L)).as("o_tag"),
        floor(col("o_orderkey") / 2000).cast("long").as("o_part"))
      .repartitionByRange(8, col("o_orderkey"))
    val (files, _, blooms) = TxnLog.stageWithIndex(base, root, "v1-clustered",
      statsCol = "o_orderkey", bloomCol = "o_tag")
    val multi = TxnLog.statsForStaged(s, root, "v1-clustered",
      Seq("o_orderkey", "o_part"), files)
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
      txnId = "v1-clustered", blooms = blooms, bloomCol = "o_tag",
      multiStats = multi, schemaJson = TxnLog.encodeSchema(base.schema))
  }

  /** A third [[graft.sources.TxnLog]] table for the row-level-delete
    * path: v1 appends the %3<=1 orders slice (8 range-clustered
    * files), v2 marks every o_orderkey%5==2 row deleted in per-file
    * DELETION VECTORS — no file rewritten; v2's visible content is a
    * pure predicate over orders, which is what lets DuckDB oracle the
    * DV read path without seeing bitmaps.
    */
  private val ensureTxnDeleteTable = fixtures("txnd") { (s, dir, root) =>
    import graft.sources.TxnLog
    TxnLog.init(root)
    val base = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 3 <= 1)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .repartitionByRange(8, col("o_orderkey"))
    val (files, stats) = TxnLog.stageWithStats(base, root, "v1-append", "o_orderkey")
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
      txnId = "v1-append", stats = stats, statsCol = "o_orderkey")
    TxnLog.deleteWhere(s, root, col("o_orderkey") % 5 === 2, "v2-delete")
  }

  /** A fourth [[graft.sources.TxnLog]] table for the MERGE path: v1
    * appends the %3<=1 orders slice (8 range-clustered, statted
    * files), v2 MERGES the %4==1 slice with every price bumped +7 —
    * updates where the key exists, inserts where it does not, and
    * only stats-affected files rewritten. Both versions are pure
    * predicates over orders, so DuckDB oracles the merge semantics
    * without seeing the log.
    */
  private val ensureTxnMergeTable = fixtures("txnm") { (s, dir, root) =>
    import graft.sources.TxnLog
    TxnLog.init(root)
    val cents = round(col("o_totalprice") * 100).cast("long")
    val base = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 3 <= 1)
      .select(col("o_orderkey"), cents.as("price_cents"))
      .repartitionByRange(8, col("o_orderkey"))
    val (files, stats) = TxnLog.stageWithStats(base, root, "v1-append", "o_orderkey")
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
      txnId = "v1-append", stats = stats, statsCol = "o_orderkey")
    val source = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 4 === 1)
      .select(col("o_orderkey"), (cents + 7).as("price_cents"))
    TxnLog.mergeInto(s, root, source, "o_orderkey", "v2-merge")
  }

  /** A fifth [[graft.sources.TxnLog]] table for the OPTIMIZE ZORDER
    * path: v1 appends the %3<=1 orders slice in arrival order
    * (unclustered), v2 rewrites it z-ordered on (o_custkey,
    * price_cents) with multi-column stats — content identical, layout
    * transformed, both dimensions pruneable. Content is a pure
    * predicate over orders at every version, so DuckDB oracles the
    * rewrite's invariance without seeing the layout.
    */
  private val ensureTxnZorderTable = fixtures("txnz") { (s, dir, root) =>
    import graft.sources.TxnLog
    TxnLog.init(root)
    val base = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 3 <= 1)
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("cust"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .repartition(8) // arrival order: neither dim clustered
    val files = TxnLog.stage(base, root, "v1-append")
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
      txnId = "v1-append")
    TxnLog.optimizeZorder(s, root, "cust", "price_cents", nFiles = 8,
      txnId = "v2-zorder")
  }

  /** A seventh [[graft.sources.TxnLog]] table for the DV-density
    * compaction path (X-A45): v1 appends the %3<=1 orders slice
    * (8 range-clustered, statted files), v2 sparse-deletes every
    * %5==2 key, v3 dense-deletes the bottom third of the key range,
    * v4 runs `optimizeCompactDeletes(0.5)` — files past 50% dead are
    * rewritten clean (vectors compacted in and cleared), sparse
    * vectors elsewhere survive. Every version's visible content is a
    * pure predicate over orders, so DuckDB oracles both the
    * compacted head and pre-compaction time travel without seeing
    * the physical layout. The dense cut is `max(o_orderkey) / 3`
    * (integer division), derived from the data so the density
    * regime — and thus that v4 COMMITS — holds at every SF.
    */
  private val ensureTxnCompactTable = fixtures("txnc") { (s, dir, root) =>
    import graft.sources.TxnLog
    TxnLog.init(root)
    val base = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 3 <= 1)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .repartitionByRange(8, col("o_orderkey"))
    val (files, stats) = TxnLog.stageWithStats(base, root, "v1-append", "o_orderkey")
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
      txnId = "v1-append", stats = stats, statsCol = "o_orderkey")
    TxnLog.deleteWhere(s, root, col("o_orderkey") % 5 === 2, "v2-delete")
    val cut = Tables.orders(s, dir)
      .agg(max(col("o_orderkey")).cast("long")).head().getLong(0) / 3
    TxnLog.deleteWhere(s, root, col("o_orderkey") <= cut, "v3-delete")
    val c = TxnLog.optimizeCompactDeletes(s, root, 0.5, "v4-compact")
    require(c.isDefined, "the dense third must cross the 0.5 threshold")
  }

  /** A sixth [[graft.sources.TxnLog]] table for TYPED data skipping
    * (X-A44): the %3<=1 orders slice clustered by (o_orderpriority,
    * o_orderdate) with typed per-file stats on the STRING priority,
    * the TIMESTAMP order date and the long key — so string equality,
    * prefix (`LIKE 'p%'`) and timestamp-range predicates prune
    * through `table()`'s Catalyst integration, the predicate classes
    * plain long stats can never serve (and where a naive
    * cast-to-long stat silently mis-prunes: micros vs seconds).
    */
  private val ensureTxnTypedTable = fixtures("txnt") { (s, dir, root) =>
    import graft.sources.TxnLog
    TxnLog.init(root)
    val base = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 3 <= 1)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .repartitionByRange(8, col("o_orderpriority"), col("o_orderdate"))
    val files = TxnLog.stage(base, root, "v1-typed")
    val multi = TxnLog.statsForStaged(s, root, "v1-typed",
      Seq("o_orderkey", "o_orderpriority", "o_orderdate"), files)
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
      txnId = "v1-typed", multiStats = multi,
      schemaJson = TxnLog.encodeSchema(base.schema))
  }

  /** Build every registered fixture for `dir`, and run each one's
    * session step on `s`. Bench calls this before its timed loop so
    * query timings measure operators, not setup IO; Verify and ad-hoc
    * callers need not call it — each query lazily builds what it needs.
    */
  def prepare(s: SparkSession, dir: String): Unit =
    fixtures.all.foreach(_(s, dir))

  /** IO/catalog surface as driver-checked queries (SURVEY §2 A-4/A-8):
    * a catalog-DDL-backed join (external parquet tables queried by
    * name) and a JDBC round trip through embedded Derby. Table names /
    * DB paths are tagged with the sf dir so warm-up at sf0.001 cannot
    * leak a stale location into the measured run.
    */
  private def ioQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.sources.{CatalogDDL, JdbcIO}
    Map(
      "cat_external_join" -> ((s, dir) => {
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
      "io_zorder" -> ((s, dir) => ordersZorderStats(s, dir)),
      // X-A92: the same layout receipt along the HILBERT curve — the
      // jump-free curve gives consecutive-row files tighter bounding
      // boxes than Morton's (LayoutOpsSpec pins the perimeter win);
      // the oracle replays the identical 16-level xy2d fold as a
      // generated CTE chain
      "io_hilbert" -> ((s, dir) =>
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
      "io_prune_stats" -> ((s, dir) =>
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
      "io_partition_prune" -> ((s, dir) => {
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
      "io_schema_evolution" -> ((s, dir) => {
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
      "io_compact_plan" -> ((s, dir) =>
        graft.operators.LayoutOps.compactionPlan(
          s.read.parquet(ensureZorderStats(s, dir))
            .select(col("file_id"), col("n")),
          "file_id", "n", targetRows = 5000)),
      "io_jdbc_roundtrip" -> ((s, dir) => {
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
      "dim_scd2" -> ((s, dir) => {
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
      "dim_scd2_asof" -> ((s, dir) => {
        val hist = queries("dim_scd2")(s, dir)
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
      "io_upsert" -> ((s, dir) => {
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
      "io_cdc_diff" -> ((s, dir) => {
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
      "tx_snapshot" -> ((s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnTable(s, dir))),
      // time travel: the same table AT version 2 — v3's rewrite must
      // be invisible even though it is committed
      "tx_time_travel" -> ((s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnTable(s, dir), version = 2L)),
      // version-diff CDC: post-images that changed between v2 and v3
      // = exactly the doubled keys (set difference over immutable
      // snapshots; keys are unique so EXCEPT is exact)
      "tx_changes" -> ((s, dir) => {
        val root = ensureTxnTable(s, dir)
        graft.sources.TxnLog.read(s, root)
          .except(graft.sources.TxnLog.read(s, root, version = 2L))
      }),
      // stats-based data skipping: the range-clustered table's sidecar
      // (min,max) prove most files irrelevant before any open — the
      // log-native counterpart of io_prune_stats (TxnLogSpec pins the
      // file-count reduction; here the ORACLE pins the result)
      "tx_prune_read" -> ((s, dir) =>
        graft.sources.TxnLog.readRange(s, ensureTxnRangeTable(s, dir),
          "o_orderkey", lo = 1000L, hi = 3000L)),
      // metadata-only aggregation (X-A33): COUNT/MIN/MAX answered
      // from the commit records' per-file (min,max,rows) stats — the
      // fully-statted table opens ZERO data files (TxnLogSpec proves
      // it white-box by corrupting the parquet underneath); here the
      // ORACLE pins the numbers against a real scan
      "tx_stats_agg" -> ((s, dir) =>
        graft.sources.TxnLog.statsAggregate(s, ensureTxnRangeTable(s, dir),
          "o_orderkey")),
      // bloom point lookup (X-A34): o_tag is uncorrelated with the
      // o_orderkey clustering, so every file's [min,max] spans the
      // domain and range stats can never skip — the per-file bloom
      // prunes ~97% of non-containing files instead, and the residual
      // equality filter keeps the result EXACT regardless of false
      // positives. Key 1242 is in the table at every test SF
      // (1242 % 3 = 0; orderkeys are dense from 0).
      "tx_point_read" -> ((s, dir) =>
        graft.sources.TxnLog.readPoint(s, ensureTxnRangeTable(s, dir),
          "o_tag", value = 1242L * 2654435761L % 1000000007L)),
      // hive-style partition pruning as multi-column stats (X-A38):
      // o_part is a coarse bucket of the clustering key, statted
      // alongside it in the same per-file map — an equality read on
      // the partition column prunes exactly like a partition scan,
      // with no directory layout to keep consistent
      "tx_part_prune" -> ((s, dir) =>
        graft.sources.TxnLog.readRange(s, ensureTxnRangeTable(s, dir),
          "o_part", lo = 2L, hi = 2L)),
      // streaming read OF the log (X-A29): commits as change batches —
      // the feed after v1 is v2's appended slice plus v3's rewritten
      // post-images, each row stamped with its commit version, all
      // predicate-expressible over orders for the oracle
      "tx_stream_changes" -> ((s, dir) => {
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
      "tx_source_stream" -> ((s, dir) => {
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
      "tx_sql_prune" -> ((s, dir) => {
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
      "tx_zorder_read" -> ((s, dir) =>
        graft.sources.TxnLog.readRange(s, ensureTxnZorderTable(s, dir),
          "price_cents", lo = 1000000L, hi = 3000000L)),
      // stats-pruned MERGE INTO (X-A36): the %4==1 source updates
      // existing keys (+7 cents) and inserts the rest; only files
      // whose [min,max] key range can hold a source key are
      // rewritten. The head snapshot is a pure two-predicate CASE
      // for the oracle.
      "tx_merge_read" -> ((s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnMergeTable(s, dir))),
      // row-level delete via deletion vectors (X-A35): %5==2 keys are
      // marked dead in per-file bitmaps — zero files rewritten — and
      // every read applies the vector transparently; the oracle sees
      // only the surviving predicate
      "tx_delete_read" -> ((s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnDeleteTable(s, dir))),
      // ...and time travel UNDER the delete: v1 still shows every row
      "tx_delete_travel" -> ((s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnDeleteTable(s, dir), version = 1L)),
      // the DELETE half of the change feed (X-A37): pre-images of the
      // rows v2's deletion vectors killed, stamped with the deleting
      // commit's version — what a downstream mirror applies as
      // retractions
      "tx_delete_feed" -> ((s, dir) => {
        val root = ensureTxnDeleteTable(s, dir)
        graft.sources.TxnStream.readDeletes(s, root, fromExclusive = 1L, toInclusive = 2L)
          .withColumnRenamed(graft.sources.TxnStream.CommitVersionCol, "commit_version")
      }),
      // DV-density compaction (X-A45): files past 50% dead rewritten
      // clean as one transaction; the head equals the pure predicate
      // (vectors compacted in), and time travel UNDER the compaction
      // still applies the original vectors — same oracle, different
      // physical path
      "tx_compact_read" -> ((s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnCompactTable(s, dir))),
      "tx_compact_travel" -> ((s, dir) =>
        graft.sources.TxnLog.read(s, ensureTxnCompactTable(s, dir), version = 3L)),
      // TYPED stats pruning (X-A44): string equality, string prefix
      // and timestamp range — each plans through table()'s
      // TxnLogFileIndex against typed per-file (min, max) stats; the
      // predicates are pure SQL over orders for the oracle, and
      // PlanShapeSpec pins that the filters actually reach the
      // log-backed scan
      "tx_str_prune" -> ((s, dir) => {
        val root = ensureTxnTypedTable(s, dir)
        graft.sources.TxnLog.table(s, root)
          .createOrReplaceTempView(s"txn_typed_${dirTag(dir)}")
        s.sql(s"""SELECT o_orderkey, o_orderpriority
                  FROM txn_typed_${dirTag(dir)}
                  WHERE o_orderpriority = '1-URGENT'""")
      }),
      "tx_prefix_prune" -> ((s, dir) => {
        val root = ensureTxnTypedTable(s, dir)
        graft.sources.TxnLog.table(s, root)
          .createOrReplaceTempView(s"txn_typed_${dirTag(dir)}")
        s.sql(s"""SELECT o_orderkey, o_orderpriority
                  FROM txn_typed_${dirTag(dir)}
                  WHERE o_orderpriority LIKE '2-%'""")
      }),
      "tx_ts_prune" -> ((s, dir) => {
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
      "tx_history" -> ((s, dir) =>
        graft.sources.TxnLog.history(s, ensureTxnTable(s, dir))
          .select(col("version"), col("action"), col("read_version"))),
      // ---- SQL-native catalog surface (X-A50, GraftCatalog): the
      //      same lakehouse through `spark.sql` alone — the fixture
      //      is built ENTIRELY by SQL statements (CREATE TABLE,
      //      INSERT ×2, arithmetic DELETE), and every read here plans
      //      through the V2 connector (catalog → pushed filters →
      //      log-stats pruning → DV-filtering readers). ----
      // scan + aggregate over the DV'd snapshot (v4 = post-delete)
      "tx_cat_agg" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderstatus, count(*) AS n, sum(price_cents) AS cents
                  FROM $cat.db.ord VERSION AS OF 4 GROUP BY o_orderstatus""")
      }),
      // pushed range predicate: files outside [4000, 12000] are
      // pruned from the log stats before any open
      "tx_cat_filter" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderkey, price_cents FROM $cat.db.ord VERSION AS OF 4
                  WHERE o_orderkey BETWEEN 4000 AND 12000""")
      }),
      // SQL time travel: VERSION AS OF 2 = the first insert only,
      // before the second slice and the delete
      "tx_cat_travel" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderkey, price_cents
                  FROM $cat.db.ord VERSION AS OF 2""")
      }),
      // SQL UPDATE (v5): group-based copy-on-write — only the files
      // whose stats admit %7 keys (all of them here) were rewritten,
      // deletion vectors compacted in, one commit
      "tx_cat_update" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderkey, price_cents
                  FROM $cat.db.ord VERSION AS OF 5""")
      }),
      // SQL MERGE INTO (v6): matched updates + disjoint-key inserts
      // in ONE commit under read-set conflict protection
      "tx_cat_merge" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.ord VERSION AS OF 6")
      }),
      // merge-on-read UPDATE (v7): the v6 snapshot plus DV bits +
      // appended post-images — zero files rewritten, and the read
      // stitches vectors and new rows back together
      "tx_cat_mor" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.ord VERSION AS OF 7")
      }),
      // schema evolution (v8 ADD COLUMN + v9 insert = head): rows
      // from every earlier generation read NULL for `flag`; the
      // evolved generation carries values — one scan spans both
      "tx_cat_evolve" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents, flag FROM $cat.db.ord")
      }),
      // atomic CTAS (StagingTableCatalog): table + data + stats in
      // ONE commit; content is a pure predicate for the oracle
      "tx_cat_ctas" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.ctas")
      }),
      // the metadata table: DESCRIBE HISTORY as a SQL relation —
      // version/action/read_version of the 7-statement fixture are
      // fully deterministic, so the oracle is a VALUES literal
      "tx_cat_history" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT version, action, read_version
                  FROM $cat.db.ord.history""")
      }),
      // ---- r14 surface ----
      // PARTITIONED BY identity: the partition predicate prunes to
      // the files whose collapsed o_orderstatus range admits 'F'
      "tx_cat_part" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderkey, price_cents FROM $cat.db.part
                  WHERE o_orderstatus = 'F'""")
      }),
      // maintenance through SQL: the table as CALL compact_deletes +
      // CALL checkpoint left it — vectors folded in, content = the
      // pure predicate
      "tx_cat_call" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.proc")
      }),
      // ALTER COLUMN TYPE widening: one scan spans the int/float era
      // and the bigint/double era
      "tx_cat_widen" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, f FROM $cat.db.wide")
      }),
      // writeStream.toTable: the stream-written relay equals its
      // batch source (exactly-once epoch commits)
      "tx_cat_stream" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.sw")
      }),
      // bucket partition transform: equality predicates prune to one
      // bucket through the derived bucket(8;k) point stats; content
      // stays a pure predicate for the oracle
      "tx_cat_bucket" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT o_orderkey, price_cents FROM $cat.db.bkt
                  WHERE o_orderkey % 10 = 5""")
      }),
      // storage-partitioned join: the co-bucketed pair joins with
      // ZERO shuffles on either side (KeyGroupedPartitioning over
      // bucket(8, o_orderkey) through the V2 function catalog)
      "tx_cat_spj" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT t1.o_orderkey, t1.price_cents, t2.pc3
                  FROM $cat.db.bkt t1 JOIN $cat.db.bkt2 t2
                  ON t1.o_orderkey = t2.o_orderkey""")
      }),
      // compatible-count storage-partitioned join (r16): bucket(8)
      // fact joins the bucket(4) dim with zero shuffles under the
      // join — the reducer folds fine buckets pairwise; pure
      // predicate logic for the oracle
      "tx_cat_spjc" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT t1.o_orderkey, t1.price_cents, t4.pc5
                  FROM $cat.db.bkt t1 JOIN $cat.db.bkt4 t4
                  ON t1.o_orderkey = t4.o_orderkey""")
      }),
      // complete-mode streaming write: the materialized streaming
      // aggregate equals the batch aggregate of its source (each
      // epoch was ONE stream-replace transaction)
      "tx_cat_complete" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT grp, n, sum_pc FROM $cat.db.swc")
      }),
      // update-mode streaming write via the mergeKey sink: each epoch
      // MERGED its changed keys, so the table equals the batch
      // aggregate (same oracle shape as tx_cat_complete — that is
      // the point)
      "tx_cat_upsert" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT grp, n, sum_pc FROM $cat.db.swu")
      }),
      // dynamic file pruning (r16): a fact ⋈ filtered-dim join with
      // NO static fact predicate — the dim's surviving keys reach the
      // fact scan as a runtime filter and the log's stats/blooms drop
      // inadmissible files before they are opened (receipts with
      // corrupted out-of-range files live in DynamicFilePruningSpec;
      // the driver hashes the ANSWER)
      "tx_cat_dfp" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT /*+ BROADCAST(d) */ f.o_orderkey, f.price_cents
                  FROM $cat.db.part f JOIN $cat.db.ctas d
                  ON f.o_orderkey = d.o_orderkey
                  WHERE d.price_cents % 10 < 3""")
      }),
      // branch publish (r16): the table equals the branch's audited
      // state — forked rows, branch inserts, branch DV deletes — via
      // ONE fast-forward commit; pure predicate logic for the oracle
      "tx_cat_branch" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.brt")
      }),
      // the ref inventory as SQL (r16): tags pin, branches carry
      // fork + head — fully deterministic, so the oracle is a VALUES
      // literal (like tx_cat_history)
      "tx_cat_refs" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT name, kind, pinned_version, branch_head FROM $cat.db.brt.refs")
      }),
      // ADD COLUMN ... DEFAULT (r16): pre-evolution rows read the
      // frozen default through the EXISTS_DEFAULT metadata — the scan
      // substitutes it for files that predate the column
      "tx_cat_default" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents, tier FROM $cat.db.dflt")
      }),
      // the change feed as SQL: adds of v2..v3 with their stamps
      "tx_cat_changes" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.read.option("startingVersion", 2).option("endingVersion", 3)
          .table(s"$cat.db.ord.changes")
          .select(col("o_orderkey"), col("price_cents"),
            col(graft.sources.TxnStream.CommitVersionCol).as("commit_version"))
      }),
      // ...and the delete half: pre-images the v4 DV commit killed
      "tx_cat_deletes" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.read.option("endingVersion", 4).table(s"$cat.db.ord.deletes")
          .select(col("o_orderkey"), col("price_cents"),
            col(graft.sources.TxnStream.CommitVersionCol).as("commit_version"))
      }),
      // MERGE with a NOT MATCHED BY SOURCE delete arm: matched rows
      // doubled, target-only rows gone — one commit
      "tx_cat_nmbs" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.nmbs")
      }),
      // the SQL materialized view: CALL refresh_mv maintained db.mv
      // as an exact keyed mirror of db.nmbs (including the merge's
      // rewrite-retraction), so its content is the same pure predicate
      "tx_cat_mv" -> ((s, dir) => {
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
      "tx_cat_nested" -> ((s, dir) => {
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
      "tx_cat_restore" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.rcs")
      }),
      // SHALLOW CLONE (r17): the clone diverged with its own DV
      // delete while sharing every source byte (zero copied; the
      // source row above proves rcs is untouched by the clone's DML)
      "tx_cat_clone" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.cln")
      }),
      // `partitions` metadata table (r17): the live partition
      // inventory folded from per-file point stats — metadata-only
      // (file counts ride the real table; rows here are the
      // DETERMINISTIC columns: value, physical rows, DV'd rows)
      "tx_cat_partitions" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT partition AS part, rows AS n_rows, deleted_rows
                  FROM $cat.db.part.partitions""")
      }),
      // COPY INTO (r17): the landing dir's three waves ingested
      // exactly once each (two full replays published nothing — the
      // fixture guard pins head at v3); content = ALL orders
      "tx_cat_copy_into" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents FROM $cat.db.cpy")
      }),
      // days(ts) temporal partitioning (r17): a monthly rollup with a
      // ts range predicate — the predicate prunes day-clustered files
      // through their micros stats (TemporalPartitionSpec proves the
      // pruning with corrupted out-of-range files)
      "tx_cat_days" -> ((s, dir) => {
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
      "tx_cat_replace" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT o_orderkey, price_cents, o_orderstatus FROM $cat.db.rw")
      }),
      // partition-spec evolution (r17, X-A86): a rollup + ts predicate
      // over a table whose first generation was written under
      // identity(status) and second under days(ts) — both generations
      // answer through their own stats; PartitionEvolutionSpec pins
      // the zero-data-movement + pruning receipts
      "tx_cat_evolve_part" -> ((s, dir) => {
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
      "tx_cat_generated" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT day, count(*) AS n, sum(price_cents) AS cents
                  FROM $cat.db.genc
                  WHERE day >= DATE '1996-01-01'
                  GROUP BY day""")
      }),
      // identity columns (r17, X-A90): the id VALUES hash — engine
      // allocation is deterministic (rank in column order per batch,
      // second batch offset by the first's high-water mark)
      "tx_cat_identity" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"SELECT id, o_orderkey, price_cents FROM $cat.db.idn")
      }),
      // unified CDF feed (r17, X-A91): every row of insert + MOR
      // update (pre/post images) + MOR delete (pre-images carrying
      // the values LIVE at delete time), classified by _change_type
      "tx_cat_feed" -> ((s, dir) => {
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
      "tx_feed_cow" -> ((s, dir) => {
        val cat = ensureCatalogTable(s, dir)
        s.sql(s"""SELECT _commit_version AS v, _change_type AS ct,
                         o_orderkey, price_cents
                  FROM $cat.db.fdc.feed""")
      })
    )
  }

  private def ioOracle: Map[String, String] = Map(
    "cat_external_join" ->
      """SELECT r_name, count(*) AS n_nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",

    // Morton interleave written longhand over the affine-normalized
    // dims: bit i of zx lands at position 2i, bit i of zy at 2i+1 —
    // identical shifts + scaling to LayoutOps.zValue/withNormalizedDims
    "io_zorder" -> duckZorderStats,

    "io_hilbert" -> duckHilbertStats,

    // pruning decision = a pure predicate over the same per-file stats
    "io_prune_stats" ->
      s"""WITH stats AS ($duckZorderStats)
         SELECT file_id, n,
                NOT (max_x < 1000 OR min_x > 3000 OR
                     max_y < 10227 OR min_y > 10500) AS scanned
         FROM stats""",

    // greedy layout-order packing: group = starting row offset div
    // target (integer division truncates on both engines)
    "io_compact_plan" ->
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

    "io_jdbc_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "dim_scd2" ->
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

    // as of mid-1997 the 1999 changes are invisible: the point-in-time
    // read must reconstruct exactly the original dimension
    "dim_scd2_asof" ->
      "SELECT c_custkey, c_mktsegment FROM customer",

    "io_upsert" ->
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

    "io_cdc_diff" ->
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

    // TxnLog versions are pure predicates over orders (see
    // ensureTxnTable), so the oracle replays each snapshot with
    // version predicates instead of reading the log
    "tx_snapshot" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 6 = 0
                     THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
                     ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                END AS price_cents
         FROM orders WHERE o_orderkey % 3 <= 1""",

    "tx_time_travel" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 3 <= 1""",

    "tx_changes" ->
      """SELECT o_orderkey,
                2 * CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 6 = 0""",

    "tx_prune_read" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                o_orderkey * 2654435761 % 1000000007 AS o_tag,
                CAST(o_orderkey // 2000 AS BIGINT) AS o_part
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey BETWEEN 1000 AND 3000""",

    "tx_part_prune" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                o_orderkey * 2654435761 % 1000000007 AS o_tag,
                CAST(o_orderkey // 2000 AS BIGINT) AS o_part
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey // 2000 = 2""",

    // the metadata answer must equal the scan answer bit for bit
    "tx_stats_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
                CAST(min(o_orderkey) AS BIGINT) AS min_v,
                CAST(max(o_orderkey) AS BIGINT) AS max_v
         FROM orders WHERE o_orderkey % 3 <= 1""",

    "tx_point_read" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                o_orderkey * 2654435761 % 1000000007 AS o_tag,
                CAST(o_orderkey // 2000 AS BIGINT) AS o_part
         FROM orders
         WHERE o_orderkey % 3 <= 1
           AND o_orderkey * 2654435761 % 1000000007 = 1242 * 2654435761 % 1000000007""",

    // identical SQL for both: the compacted head and the
    // pre-compaction snapshot must be content-equal — the compaction
    // moved bytes, never changed them
    "tx_compact_read" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1
           AND NOT (o_orderkey % 5 = 2
                    OR o_orderkey <= (SELECT max(o_orderkey) // 3 FROM orders))""",

    "tx_compact_travel" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1
           AND NOT (o_orderkey % 5 = 2
                    OR o_orderkey <= (SELECT max(o_orderkey) // 3 FROM orders))""",

    "tx_str_prune" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderpriority = '1-URGENT'""",

    "tx_prefix_prune" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderpriority LIKE '2-%'""",

    "tx_ts_prune" ->
      """SELECT o_orderkey FROM orders
         WHERE o_orderkey % 3 <= 1
           AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'""",

    // same rows as tx_prune_read: the SQL path must agree with the
    // explicit readRange call bit for bit
    "tx_sql_prune" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                o_orderkey * 2654435761 % 1000000007 AS o_tag,
                CAST(o_orderkey // 2000 AS BIGINT) AS o_part
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey BETWEEN 1000 AND 3000""",

    "tx_zorder_read" ->
      """SELECT o_orderkey,
                CAST(o_custkey AS BIGINT) AS cust,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1
           AND round(o_totalprice * 100) BETWEEN 1000000 AND 3000000""",

    // merge semantics: %4==1 rows carry the source's bumped price
    // (update where the key pre-existed, insert where it did not);
    // everything else keeps v1's price
    "tx_merge_read" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 4 = 1
                     THEN CAST(round(o_totalprice * 100) AS BIGINT) + 7
                     ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                END AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 OR o_orderkey % 4 = 1""",

    "tx_delete_read" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2""",

    "tx_delete_travel" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 3 <= 1""",

    "tx_delete_feed" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(2 AS BIGINT) AS commit_version
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 = 2""",

    "tx_source_stream" ->
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

    "tx_stream_changes" ->
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

    "tx_history" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'append', CAST(0 AS BIGINT)),
           (CAST(2 AS BIGINT), 'append', CAST(1 AS BIGINT)),
           (CAST(3 AS BIGINT), 'upsert', CAST(2 AS BIGINT)))
         AS t(version, action, read_version)""",

    "tx_cat_agg" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2
         GROUP BY o_orderstatus""",

    "tx_cat_filter" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2
           AND o_orderkey BETWEEN 4000 AND 12000""",

    "tx_cat_travel" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 3 = 0""",

    "tx_cat_update" ->
      """SELECT o_orderkey,
                CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                     + CASE WHEN o_orderkey % 7 = 0 THEN 7 ELSE 0 END AS BIGINT)
                  AS price_cents
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 2""",

    "tx_cat_merge" ->
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

    "tx_cat_mor" ->
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

    "tx_cat_ctas" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 11 = 3""",

    "tx_cat_evolve" ->
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

    "tx_cat_history" ->
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

    "tx_cat_part" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 4 = 1 AND o_orderstatus = 'F'""",

    "tx_cat_call" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 9 = 4 AND o_orderkey % 2 = 1""",

    "tx_cat_widen" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                CAST(o_orderkey % 97 AS DOUBLE) AS f
         FROM orders WHERE o_orderkey % 19 = 2
         UNION ALL
         SELECT o_orderkey + 4000000000 AS o_orderkey,
                CAST(o_orderkey % 89 AS DOUBLE) AS f
         FROM orders WHERE o_orderkey % 23 = 3""",

    "tx_cat_stream" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 11 = 3""",

    "tx_cat_bucket" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 6 = 5 AND o_orderkey % 10 = 5""",

    "tx_cat_spj" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(3 * CAST(round(o_totalprice * 100) AS BIGINT) AS BIGINT)
                  AS pc3
         FROM orders
         WHERE o_orderkey % 6 = 5 AND o_orderkey % 4 = 1""",

    "tx_cat_spjc" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(5 * CAST(round(o_totalprice * 100) AS BIGINT) AS BIGINT)
                  AS pc5
         FROM orders
         WHERE o_orderkey % 6 = 5 AND o_orderkey % 3 = 2""",

    "tx_cat_complete" ->
      """SELECT o_orderkey % 7 AS grp,
                count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_pc
         FROM orders WHERE o_orderkey % 11 = 3
         GROUP BY 1""",

    "tx_cat_dfp" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 4 = 1 AND o_orderkey % 11 = 3
           AND CAST(round(o_totalprice * 100) AS BIGINT) % 10 < 3""",

    "tx_cat_upsert" ->
      """SELECT o_orderkey % 7 AS grp,
                count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_pc
         FROM orders WHERE o_orderkey % 11 = 3
         GROUP BY 1""",

    "tx_cat_branch" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 14 = 3 AND o_orderkey % 2 = 1
         UNION ALL
         SELECT o_orderkey + 30000000,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 14 = 10 AND (o_orderkey + 30000000) % 2 = 1""",

    "tx_cat_refs" ->
      """SELECT * FROM (VALUES
           ('prewap', 'tag', CAST(1 AS BIGINT), CAST(-1 AS BIGINT)),
           ('wap', 'branch', CAST(1 AS BIGINT), CAST(3 AS BIGINT)))
         t(name, kind, pinned_version, branch_head)""",

    "tx_cat_default" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                'bronze' AS tier
         FROM orders WHERE o_orderkey % 21 = 2
         UNION ALL
         SELECT o_orderkey + 20000000,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                'gold' AS tier
         FROM orders WHERE o_orderkey % 21 = 9""",

    "tx_cat_changes" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(2 AS BIGINT) AS commit_version
         FROM orders WHERE o_orderkey % 3 = 0
         UNION ALL
         SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(3 AS BIGINT) AS commit_version
         FROM orders WHERE o_orderkey % 3 = 1""",

    "tx_cat_deletes" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                CAST(4 AS BIGINT) AS commit_version
         FROM orders
         WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 = 2""",

    "tx_cat_nmbs" ->
      """SELECT o_orderkey,
                CAST(2 * CAST(round(o_totalprice * 100) AS BIGINT) AS BIGINT)
                  AS price_cents
         FROM orders WHERE o_orderkey % 26 = 1""",

    "tx_cat_mv" ->
      """SELECT o_orderkey,
                CAST(2 * CAST(round(o_totalprice * 100) AS BIGINT) AS BIGINT)
                  AS price_cents
         FROM orders WHERE o_orderkey % 26 = 1""",

    // the nested fixture replayed flat: %8=6 rows predate the ADD
    // COLUMN (tier NULL), %8=2 rows carry 'gold'
    "tx_cat_nested" ->
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

    // restore undid BOTH the %2=0 delete and the +50000000 append:
    // the table is exactly its CTAS slice again
    "tx_cat_restore" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 17 = 4""",

    // the clone = the restored source minus its own %3=0 delete
    "tx_cat_clone" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey % 17 = 4 AND o_orderkey % 3 <> 0""",

    // db.part = the %4=1 orders slice partitioned by o_orderstatus,
    // no deletes: the inventory is one row per status with physical
    // row counts and zero DV'd rows
    "tx_cat_partitions" ->
      """SELECT concat('o_orderstatus=', o_orderstatus) AS part,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(0 AS BIGINT) AS deleted_rows
         FROM orders
         WHERE o_orderkey % 4 = 1
         GROUP BY o_orderstatus""",

    // the three %3 waves union to ALL orders — exactly once each:
    // a replayed (or doubled) ingest would double the rows
    "tx_cat_copy_into" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders""",

    "tx_cat_days" ->
      """SELECT date_trunc('month', o_orderdate) AS mon,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders
         WHERE o_orderkey % 9 = 7
           AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         GROUP BY date_trunc('month', o_orderdate)""",

    // both generations of the evolved table hold the same logical rows
    // the source predicate selects — evolution moved zero data
    "tx_cat_evolve_part" ->
      """SELECT o_orderstatus AS status,
                date_trunc('month', o_orderdate) AS mon,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders
         WHERE o_orderkey % 9 = 2
           AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
         GROUP BY o_orderstatus, date_trunc('month', o_orderdate)""",

    // every day value is CAST(o_orderdate AS DATE) computed by the
    // engine — the insert never supplied the column
    "tx_cat_generated" ->
      """SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders
         WHERE o_orderkey % 9 = 2 AND o_orderkey % 2 = 0
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY CAST(o_orderdate AS DATE)""",

    // identity allocation is rank-in-column-order per batch, the
    // second batch offset by the first's high-water mark — so even
    // the minted VALUES reproduce in SQL
    "tx_cat_identity" ->
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

    // the feed replayed from the source: v2 inserts everything, v3's
    // MOR update emits pre AND post images of the %14 rows, v4's
    // delete pre-images carry the value LIVE at delete time (updated
    // rows deleted at their v3 post-image value)
    "tx_cat_feed" ->
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

    // the COW twin: identical replay semantics — exact CDC is
    // mode-independent (v3's rewrite emits only the %10 rows' pre and
    // post images; v4's rewrite-path delete emits only the %15 rows,
    // updated ones at their v3 post-image value)
    "tx_feed_cow" ->
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

    // the %5 base minus its 'F' partition, plus the tripled %7 'F'
    // slice that atomically replaced it
    "tx_cat_replace" ->
      """WITH src AS (SELECT o_orderkey,
                             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                             o_orderstatus
                      FROM orders)
         SELECT o_orderkey, cents AS price_cents, o_orderstatus FROM src
         WHERE o_orderkey % 5 = 0 AND o_orderstatus <> 'F'
         UNION ALL
         SELECT o_orderkey, cents * 3 AS price_cents, o_orderstatus FROM src
         WHERE o_orderkey % 7 = 0 AND o_orderstatus = 'F'"""
  )

  /** Corpus curation extensions: deterministic hash sampling, per-class
    * caps, vocabulary, TF-IDF. See [[graft.operators.CorpusOps]].
    */
  private def corpusQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.operators.CorpusOps._
    Map(
      // feature-hashed linear scorer: tokenize -> bucket -> weighted
      // sum -> threshold, all inside the scan projection (the
      // run-a-classifier-over-100TB shape; weights are literals)
      "cur_model_score" -> ((s, dir) =>
        linearScore(Tables.documents(s, dir), "doc_id", "text")),
      "samp_hash_mod" -> ((s, dir) =>
        hashModSample(Tables.documents(s, dir), col("doc_id"), pct = 10)
          .select(col("doc_id"), col("lang"), col("n_chars"))),
      "samp_per_class_cap" -> ((s, dir) =>
        perClassCap(Tables.documents(s, dir), "lang", col("doc_id"), cap = 20)
          .select(col("doc_id"), col("lang"), col("rnk"))),
      "txt_vocab_topk" -> ((s, dir) =>
        vocabTopK(Tables.documents(s, dir), "text", k = 50)),
      // X-T13: cross-document boilerplate profile (CCNet line dedup
      // adapted to unsegmented text): 10-word pseudo-paragraphs, a
      // chunk in ≥2 distinct docs is boilerplate — the planted
      // duplicate pairs in the corpus light this up
      "txt_boilerplate" -> ((s, dir) =>
        boilerplateProfile(Tables.documents(s, dir), "doc_id", "text",
          chunkWords = 10, dfThreshold = 2)),
      "txt_tfidf" -> ((s, dir) =>
        tfIdf(Tables.documents(s, dir), "doc_id", "text")),
      // X-C18: FUZZY decontamination — MinHash-estimated Jaccard >= 0.5
      // against any doc of the same 5% sample (catches paraphrased /
      // truncated leakage the exact n-gram recipes miss)
      "cur_decontaminate_fuzzy" -> ((s, dir) => {
        val docs = Tables.documents(s, dir)
        val contam = hashModSample(docs, col("doc_id"), pct = 5)
        graft.operators.DedupOps.decontaminateFuzzy(docs, contam,
          "doc_id", "text", minAgreeMicro = 500000L)
          .select(col("doc_id"), col("lang"))
      }),
      // eval-set hygiene: drop docs sharing any 3-gram with the
      // (deterministic 5%) contamination sample
      "cur_decontaminate" -> ((s, dir) => {
        val docs = Tables.documents(s, dir)
        val contam = hashModSample(docs, col("doc_id"), pct = 5)
        decontaminate(docs, contam, "doc_id", "text")
          .select(col("doc_id"), col("lang"))
      }),
      // the same decontamination through the broadcast-bloom
      // pre-filter (X-C19): the corpus is screened by a per-row
      // codegen bit probe at the scan — no join, no shuffle — and
      // only bloom survivors reach the exact confirming semi-join.
      // Output is IDENTICAL to cur_decontaminate (the semi-join
      // re-checks exactly), so it shares that oracle verbatim.
      "cur_decontaminate_bloom" -> ((s, dir) => {
        val docs = Tables.documents(s, dir)
        val contam = hashModSample(docs, col("doc_id"), pct = 5)
        decontaminateBloom(docs, contam, "doc_id", "text")
          .select(col("doc_id"), col("lang"))
      }),
      // graded decontamination: per-doc 3-gram CONTAINMENT score
      // against the same 5% sample — the tunable-threshold sibling of
      // cur_decontaminate's boolean drop
      "cur_containment" -> ((s, dir) => {
        val docs = Tables.documents(s, dir)
        val contam = hashModSample(docs, col("doc_id"), pct = 5)
        containmentScores(docs, contam, "doc_id", "text")
      }),
      // quality-decile binning per language: the curriculum/mixture
      // knob (sample rate per decile) every curation pipeline exposes.
      // Ordering on the ROUNDED score + doc_id keeps tie structure
      // engine-portable. NOTE: ntile sorts each language inside one
      // partition — this exact form is the oracle-checkable
      // correctness baseline; the 100 TB path is
      // CorpusOps.quantileBinsApprox (sketch boundaries, no per-class
      // sort), agreement pinned in CorpusOpsSpec.
      "cur_quantile_bins" -> ((s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("quality_score").desc, col("doc_id").asc)
        spread(Tables.documents(s, dir))
          .select(col("doc_id"), col("lang"),
            round(graft.functions.TextFunctions.qualityScore(col("text")), 6)
              .as("quality_score"))
          .withColumn("decile", ntile(10).over(w))
      }),
      "corp_len_histogram" -> ((s, dir) =>
        Tables.documents(s, dir)
          .groupBy(expr("n_chars div 100 * 100").as("bucket"))
          .agg(count(lit(1)).as("n_docs"))),
      "samp_split" -> ((s, dir) =>
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          assignSplit(col("doc_id"), trainPct = 80, valPct = 10).as("split"))),
      // training-batch assembly: 2048-token bins, 8 parallel shards
      "cur_pack_sequences" -> ((s, dir) =>
        packSequences(Tables.documents(s, dir), col("doc_id"),
          graft.functions.TextFunctions.nTokens(col("text")).cast("long"),
          budget = 2048, shards = 8)),
      // X-C19 (r19): the same packing on REAL token counts — the
      // trained merge-table BPE's subword count per doc drives the
      // budget instead of the whitespace estimate.
      "cur_pack_bpe" -> ((s, dir) => {
        val docs = Tables.documents(s, dir)
        val norm = graft.operators.DedupOps.normalizeText(col("text"))
        val merges = graft.operators.BpeOps.trainMerges(
          docs.select(norm.as("__nt")), col("__nt"))
        packSequences(docs, col("doc_id"),
          size(graft.operators.BpeOps.bpeTokens(norm, merges)).cast("long"),
          budget = 2048, shards = 8)
      }),
      // context-length chunking: 64-token windows, stride 48 (overlap
      // 16) — one row per window, scan-side explode
      "cur_chunk" -> ((s, dir) =>
        chunkDocuments(Tables.documents(s, dir), "doc_id", "text")),
      // quality-weighted sampling (Efraimidis–Spirakis with a
      // hash-derived uniform): weight = token count + 1, keep top 100
      "samp_weighted" -> ((s, dir) =>
        weightedSample(Tables.documents(s, dir), "doc_id",
          size(graft.functions.TextFunctions.tokens(col("text"))) + 1, n = 100)),
      // domain-mix rebalancing toward a target lang distribution:
      // en is down-sampled (natural ~41% -> target 30%), the rest are
      // at/under target and keep all rows (rate caps at 1)
      "cur_domain_mix" -> ((s, dir) =>
        domainMix(Tables.documents(s, dir), "lang", col("doc_id"),
          Map("en" -> 0.30, "zh" -> 0.20, "es" -> 0.20, "fr" -> 0.15, "de" -> 0.15))
          .select(col("doc_id"), col("lang"))),
      // RAKE keyword extraction: stopword-free phrase runs scored by
      // corpus-wide word degree/frequency micro-ratios; top-3 per doc
      "txt_rake" -> ((s, dir) =>
        rakeKeywords(Tables.documents(s, dir), "doc_id", "text")),
      // DSIR importance scoring: target domain = English docs; score =
      // sum over tokens of micro-quantized ln(p_target/p_source) over
      // 1024 hashed-unigram buckets (add-1 smoothed); keep = score > 0
      "cur_dsir" -> ((s, dir) =>
        dsirWeights(Tables.documents(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en")),
      // corpus-priced quality: per-doc average unigram -ln(p), the
      // perplexity-proxy filter signal (micro-nat integer sums keep
      // it oracle-exact)
      "txt_unigram_nll" -> ((s, dir) =>
        unigramNll(Tables.documents(s, dir), "doc_id", "text")),
      // n=2 joint surprise: catches templated/repetitive pair reuse
      // that unigram pricing cannot see
      "txt_bigram_nll" -> ((s, dir) =>
        bigramNll(Tables.documents(s, dir), "doc_id", "text")),
      // stable global sequence numbers (shard-ready contiguous ids) —
      // the scalable two-level row_number, ordered by (n_chars, doc_id)
      "cur_assign_ids" -> ((s, dir) =>
        graft.operators.RelationalOps.globalRowNumber(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").asc, col("doc_id").asc), "seq")
          .select(col("doc_id"), col("seq")))
    )
  }

  private def corpusOracle: Map[String, String] = Map(
    // same Knuth-multiplicative bucket weights; empty docs coalesce
    // to 0 (Spark's aggregate over an empty array returns the init)
    "cur_model_score" ->
      """WITH t AS (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents)
         SELECT doc_id, len(toks) AS n_toks,
                CAST(COALESCE(list_sum(list_transform(toks, tok ->
                  ((CAST('0x' || substr(md5(tok), 1, 7) AS BIGINT) % 1024)
                   * 2654435761) % 2001 - 1000)), 0) AS BIGINT) AS score_micro,
                COALESCE(list_sum(list_transform(toks, tok ->
                  ((CAST('0x' || substr(md5(tok), 1, 7) AS BIGINT) % 1024)
                   * 2654435761) % 2001 - 1000)), 0) > 0 AS keep
         FROM t""",

    "samp_hash_mod" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 10""",

    // 10-word chunk hashes (56-bit md5 prefix), document frequency via
    // a window on the (hash, doc) grain — the same three-stage shape
    // the Spark side runs; slices clamp identically on both engines
    "txt_boilerplate" ->
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         ix AS (SELECT doc_id, toks,
                  unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS i
                FROM t),
         ch AS (SELECT doc_id,
                  CAST('0x' || substr(md5(array_to_string(
                    toks[i*10+1 : i*10+10], ' ')), 1, 14) AS BIGINT) AS h,
                  CAST(len(toks[i*10+1 : i*10+10]) AS BIGINT) AS w
                FROM ix
                WHERE len(toks[i*10+1 : i*10+10]) > 0),
         pd AS (SELECT h, doc_id, count(*) AS occ, CAST(SUM(w) AS BIGINT) AS words
                FROM ch GROUP BY 1, 2),
         fl AS (SELECT *, count(*) OVER (PARTITION BY h) >= 2 AS boiler FROM pd)
         SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_chunks,
                CAST(SUM(CASE WHEN boiler THEN occ ELSE 0 END) AS BIGINT) AS n_boiler,
                CAST(SUM(CASE WHEN boiler THEN 0 ELSE words END) AS BIGINT)
                  AS n_kept_words
         FROM fl GROUP BY doc_id""",

    // domain mix: per-class keep rate = min(1, target·total/count),
    // selection by h7(doc_id) mod 1e6 under the floored micro-rate.
    // Every fractional literal is CAST to DOUBLE — DuckDB would
    // otherwise run the arithmetic in DECIMAL and disagree with
    // Spark's IEEE doubles in the last bit.
    "cur_domain_mix" ->
      """WITH n AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         t AS (SELECT sum(cnt) AS total FROM n),
         r AS (SELECT lang,
                 CAST(floor(least(CAST(1.0 AS DOUBLE),
                   (CASE lang WHEN 'en' THEN CAST(0.30 AS DOUBLE)
                              WHEN 'zh' THEN CAST(0.20 AS DOUBLE)
                              WHEN 'es' THEN CAST(0.20 AS DOUBLE)
                              WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
                              WHEN 'de' THEN CAST(0.15 AS DOUBLE)
                              ELSE CAST(0.0 AS DOUBLE) END) * t.total / n.cnt)
                   * 1000000) AS BIGINT) AS thr
               FROM n, t)
         SELECT d.doc_id, d.lang
         FROM documents d JOIN r ON d.lang = r.lang
         WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                 % 1000000 < r.thr""",

    // RAKE: running stopword count segments phrases; word score =
    // degree*1e6 // freq (exact ints); phrase = ordered word join
    "txt_rake" ->
      """WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
                        generate_subscripts(
                          list_filter(string_split(text, ' '), x -> x <> ''), 1) AS pos
                      FROM documents),
         t2 AS (SELECT doc_id, pos, w,
                  w IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it') AS is_stop
                FROM tok),
         ph AS (SELECT doc_id, pos, w, is_stop,
                  sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS pid
                FROM t2),
         pl AS (SELECT doc_id, pid, pos, w,
                  count(*) OVER (PARTITION BY doc_id, pid) AS plen
                FROM ph WHERE NOT is_stop),
         sc AS (SELECT w, (sum(plen) * 1000000) // count(*) AS ws
                FROM pl GROUP BY w),
         ps AS (SELECT pl.doc_id, pl.pid,
                  string_agg(pl.w, ' ' ORDER BY pl.pos) AS phrase,
                  CAST(sum(sc.ws) AS BIGINT) AS score_micro
                FROM pl JOIN sc USING (w) GROUP BY 1, 2),
         dd AS (SELECT DISTINCT doc_id, phrase, score_micro FROM ps)
         SELECT doc_id, phrase, score_micro, rnk FROM (
           SELECT doc_id, phrase, score_micro,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_micro DESC, phrase ASC) AS rnk
           FROM dd) WHERE rnk <= 3""",

    // DSIR importance scoring: dense 1024-bucket hashed-unigram
    // counts (target = lang 'en' vs full corpus), add-1 smoothed,
    // per-bucket ln ratio quantized to micro-nats BEFORE the per-doc
    // sum — each engine rounds each bucket exactly once, so document
    // scores are exact integer sums on both sides.
    "cur_dsir" ->
      """WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tk
                      FROM documents),
         b AS (SELECT tok.doc_id,
                 CAST('0x' || substr(md5(tk), 1, 7) AS BIGINT) % 1024 AS b,
                 (d.lang = 'en') AS t
               FROM tok JOIN documents d ON tok.doc_id = d.doc_id),
         c AS (SELECT b, count(*) AS n, count(CASE WHEN t THEN 1 END) AS nt
               FROM b GROUP BY b),
         dense AS (SELECT g.range AS b, COALESCE(c.n, 0) AS n,
                          COALESCE(c.nt, 0) AS nt
                   FROM range(0, 1024) g LEFT JOIN c ON g.range = c.b),
         tt AS (SELECT sum(n) AS na, sum(nt) AS ntt FROM dense),
         r AS (SELECT b,
                 CAST(round(-ln(CAST(n + 1 AS DOUBLE) / CAST(na + 1024 AS DOUBLE))
                            * 1000000) AS BIGINT)
               - CAST(round(-ln(CAST(nt + 1 AS DOUBLE) / CAST(ntt + 1024 AS DOUBLE))
                            * 1000000) AS BIGINT) AS w
               FROM dense, tt),
         sc AS (SELECT b.doc_id, count(*) AS n_toks, sum(r.w) AS s
                FROM b JOIN r USING (b) GROUP BY b.doc_id)
         SELECT d.doc_id,
                CAST(COALESCE(sc.n_toks, 0) AS BIGINT) AS n_toks,
                CAST(COALESCE(sc.s, 0) AS BIGINT) AS score_micro,
                COALESCE(sc.s, 0) > 0 AS keep
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",

    // unigram NLL: corpus term counts price each token; per-token
    // -ln(p) quantized to micro-nats so the doc sum is an exact
    // integer, and the average stays integer (floored micro-nats —
    // a rounded decimal average is rational-by-construction and sits
    // on exact half boundaries where rounders disagree)
    "txt_unigram_nll" ->
      """WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                      FROM documents),
         c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         m AS (SELECT tok.doc_id,
                 CAST(round(-ln(CAST(c.cnt AS DOUBLE) / t.total) * 1000000) AS BIGINT)
                   AS micro
               FROM tok JOIN c USING (term), t)
         SELECT doc_id,
                CAST((sum(micro) // count(*)) AS BIGINT) AS avg_nll_micro,
                count(*) AS n_tokens
         FROM m GROUP BY doc_id""",

    // bigrams = 2-gram shingles (whole-doc collapse under 2 tokens),
    // then the same micro-nat pricing as txt_unigram_nll
    "txt_bigram_nll" ->
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         bg AS (SELECT doc_id,
                  unnest(CASE WHEN len(toks) >= 2
                         THEN list_transform(range(1, len(toks)),
                                i -> toks[i] || ' ' || toks[i+1])
                         ELSE [coalesce(array_to_string(toks, ' '), '')] END) AS bigram
                FROM t),
         c AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram),
         tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         m AS (SELECT bg.doc_id,
                 CAST(round(-ln(CAST(c.cnt AS DOUBLE) / tt.total) * 1000000) AS BIGINT)
                   AS micro
               FROM bg JOIN c USING (bigram), tt)
         SELECT doc_id,
                CAST((sum(micro) // count(*)) AS BIGINT) AS avg_nll_micro,
                count(*) AS n_bigrams
         FROM m GROUP BY doc_id""",

    // the two-level Spark plan must equal the textbook single window
    "cur_assign_ids" ->
      """SELECT doc_id,
              row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) AS seq
         FROM documents""",

    "samp_per_class_cap" ->
      """SELECT doc_id, lang, rnk FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) ASC,
                             doc_id ASC) AS rnk
           FROM documents) WHERE rnk <= 20""",

    "txt_vocab_topk" ->
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
           FROM documents)
         GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""",

    "txt_tfidf" ->
      """WITH ex AS (SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                     FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
         idf AS (SELECT term, count(*) AS df
                 FROM (SELECT DISTINCT doc_id, term FROM ex) GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, tf.term AS term, tf,
                round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
         FROM tf JOIN idf ON tf.term = idf.term CROSS JOIN n""",

    // fuzzy: the SAME signature/banding pipeline as dd_minhash_lsh,
    // cross-joined docs × 5%-sample inside shared band buckets,
    // agreement >= 8/16 (Jaccard-estimate 0.5) drops the doc
    "cur_decontaminate_fuzzy" ->
      s"""WITH $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         cont AS (SELECT * FROM k2
                  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                             AS BIGINT) % 100 < 5),
         bad AS (SELECT DISTINCT d.doc_id
                 FROM k2 d JOIN cont c ON d.band = c.band AND d.bkey = c.bkey
                 WHERE CAST(list_sum(list_transform(range(1, 17),
                         i -> CASE WHEN d.sig[i] = c.sig[i] THEN 1 ELSE 0 END))
                       AS BIGINT) * 1000000 >= 500000 * 16)
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM bad)""",

    "cur_decontaminate" ->
      """WITH t AS (SELECT doc_id, lang,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
                FROM t),
         ds AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(list_distinct(shingles))), 1, 14)
                       AS BIGINT) AS s
                FROM sh),
         c AS (SELECT DISTINCT s FROM ds
               WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                     % 100 < 5),
         bad AS (SELECT DISTINCT doc_id FROM ds JOIN c USING (s))
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM bad)""",

    // the bloom pre-filter is invisible in the result (the exact
    // semi-join re-checks every survivor), so the oracle is the same
    // anti-join as cur_decontaminate
    "cur_decontaminate_bloom" ->
      """WITH t AS (SELECT doc_id, lang,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
                FROM t),
         ds AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(list_distinct(shingles))), 1, 14)
                       AS BIGINT) AS s
                FROM sh),
         c AS (SELECT DISTINCT s FROM ds
               WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                     % 100 < 5),
         bad AS (SELECT DISTINCT doc_id FROM ds JOIN c USING (s))
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM bad)""",

    // same shingle/hash CTEs as cur_decontaminate, but a LEFT join +
    // per-doc aggregate instead of the anti-join: containment =
    // hits / distinct shingles
    "cur_containment" ->
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
                FROM t),
         ds AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(list_distinct(shingles))), 1, 14)
                       AS BIGINT) AS s
                FROM sh),
         c AS (SELECT DISTINCT s FROM ds
               WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                     % 100 < 5)
         SELECT ds.doc_id, count(*) AS n_shingles,
                CAST(sum(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hit,
                round(CAST(sum(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END)
                           AS BIGINT) / count(*), 6) AS containment
         FROM ds LEFT JOIN c ON ds.s = c.s
         GROUP BY ds.doc_id""",

    // txt_quality's score CTE + NTILE over (lang, score desc, doc_id)
    "cur_quantile_bins" ->
      """WITH t AS (
           SELECT doc_id, lang, text,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks,
                  length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
                    AS n_punct
           FROM documents),
         m AS (
           SELECT doc_id, lang,
             CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(toks, x -> list_contains(
                 ['the','a','and','of','to','in','is','it'], x))) AS DOUBLE)
               / len(toks) END AS sr,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(n_punct AS DOUBLE) / length(text) END AS pr,
             least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS lenscore
           FROM t),
         q AS (
           SELECT doc_id, lang,
                  round(lenscore * 0.4 + greatest(0.0, 1.0 - pr * 5) * 0.3
                        + least(sr * 4, 1.0) * 0.3, 6) AS quality_score
           FROM m)
         SELECT doc_id, lang, quality_score,
                ntile(10) OVER (PARTITION BY lang
                                ORDER BY quality_score DESC, doc_id) AS decile
         FROM q""",

    "corp_len_histogram" ->
      """SELECT n_chars // 100 * 100 AS bucket, count(*) AS n_docs
         FROM documents GROUP BY 1""",

    "samp_split" ->
      """SELECT doc_id, lang,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                   % 100 < 80 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                   % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
         FROM documents""",

    // chunking: starts at multiples of 48 while < n_tokens (empty and
    // short docs yield one chunk); idx = start / stride
    "cur_chunk" ->
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         s AS (SELECT doc_id, toks,
                 unnest(range(0, greatest(len(toks), 1), 48)) AS chunk_start
               FROM t)
         SELECT doc_id, CAST(chunk_start // 48 AS INT) AS chunk_idx,
                CAST(chunk_start AS INT) AS chunk_start,
                CAST(least(64, len(toks) - chunk_start) AS INT) AS n_tokens,
                array_to_string(list_slice(toks, chunk_start + 1, chunk_start + 64), ' ')
                  AS chunk_text
         FROM s""",

    // weighted sampling: u = (h7(id)+1)/(2^28+1), key = u^(1/w),
    // top 100 by key
    "samp_weighted" ->
      """WITH t AS (SELECT doc_id,
                      len(list_filter(string_split(text, ' '), x -> x <> '')) + 1 AS w,
                      (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                       + 1) / 268435457.0 AS u
                    FROM documents)
         SELECT doc_id, round(pow(u, 1.0 / w), 6) AS score
         FROM t ORDER BY pow(u, 1.0 / w) DESC, doc_id ASC LIMIT 100""",

    // sharded hash-order packing: bin = exclusive running token sum
    // integer-divided by the budget, per shard
    "cur_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
                      CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                           AS BIGINT) AS n_tokens,
                      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                           AS BIGINT) AS h
                    FROM documents),
         s AS (SELECT doc_id, n_tokens, h, h % 8 AS shard FROM t),
         c AS (SELECT doc_id, n_tokens, shard,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM s)
         SELECT doc_id, shard, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
                n_tokens
         FROM c""",

    // Packing on trained-BPE counts: the duckBpeCtes pipeline supplies
    // per-doc subword counts, then the identical shard/cumsum/bin fold.
    "cur_pack_bpe" ->
      s"""WITH RECURSIVE ${duckBpeCtes(16, 2048)},
         cnts AS (SELECT n.doc_id,
                    CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_tokens,
                    CAST('0x' || substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 7)
                         AS BIGINT) AS h
                  FROM norm n LEFT JOIN (
                    SELECT d.doc_id,
                           sum(length(f.wstr) - length(replace(f.wstr, '{', '')))
                             AS n_bpe
                    FROM dw d JOIN fin f USING (word) GROUP BY d.doc_id)
                    a USING (doc_id)),
         s AS (SELECT doc_id, n_tokens, h, h % 8 AS shard FROM cnts),
         c AS (SELECT doc_id, n_tokens, shard,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM s)
         SELECT doc_id, shard, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
                n_tokens
         FROM c"""
  )

  /** Multimodal-column extensions: binary assets + typed metadata with
    * a stubbed (deterministic, md5-derived) decode — the Spark
    * plumbing (binary columns, per-partition decoder amortization,
    * narrow typed transforms, frame fan-out) is real and oracle-
    * checked; only the codec math is fake. See
    * [[graft.multimodal.MultimodalOps]].
    */
  private def multimodalQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.multimodal._
    Map(
      // r8: REAL decode — synthesize actual PNGs (pixel values from a
      // closed form over (x, y, id)), parse them with javax.imageio,
      // and emit statistics of the DECODED raster; the oracle
      // recomputes the closed form, so a mis-decode hash-mismatches.
      "mm_decode_features" -> ((s, dir) =>
        MultimodalOps.decodeImageFeatures(
          MultimodalOps.syntheticPngAssets(Tables.documents(s, dir))
        ).toDF()),
      "mm_frame_sample" -> ((s, dir) => {
        import s.implicits._
        MultimodalOps.sampleFrames(
          MultimodalOps.documentsAsAssets(Tables.documents(s, dir)).as[RawAsset]
        ).toDF()
      }),
      // r20 (X-M3): image-level near-dup pairs by perceptual hash —
      // REAL decodes (base PNGs + genuinely re-encoded brightness
      // variants), 56-bit dHash from each decoded raster, then the
      // COMPLETE Hamming-banded pigeonhole pair generator (one
      // (band, chunk) shuffle of (id, fingerprint) rows — the scan
      // and decode never reshuffle). The oracle replays the dHash
      // over the synthesis closed form pixel for pixel, so a decoder
      // or grid bug hash-mismatches.
      "mm_phash_pairs" -> ((s, dir) => {
        graft.operators.DedupOps.fingerprintPairs(
          MultimodalOps.perceptualFeatures(mmAssets(s, dir)).toDF()
            .select(col("asset_id"), col("dhash")),
          "asset_id", "dhash", maxHamming = 3, bits = 56)
          .select(col("d1").as("a1"), col("d2").as("a2"), col("hamming"))
      }),
      // r20 (X-M4): the embedding-space twin — 16-dim centered
      // block-mean vectors from the SAME decode pass, routed through
      // the engine's standard capped+adaptive ANN stack
      // (annCosinePairsCapped at dim 16) and the connected-components
      // keep-one election: the cross-modal analog of cur_embed_prune,
      // one machinery for text, vectors and images. The synthetic
      // image manifold is dense in near-dups (the closed form aliases
      // translations), so the election collapses large components —
      // the full (asset, kept_id, is_kept) decision is the result.
      "mm_embed_prune" -> ((s, dir) => {
        import graft.operators.VectorOps.annCosinePairsCapped
        // r21: materialize the 16-dim embeddings ONCE before the ANN
        // stack — the capped self-join consumes its input subtree
        // twice and the decode is the expensive part (profiled: two
        // 8 s-CPU decode stages; with the checkpoint, one). At scale
        // this is the standard shape: embeddings are materialized
        // (bytes-per-row tiny) and the heavy decode never re-runs.
        val emb = MultimodalOps.perceptualFeatures(mmAssets(s, dir)).toDF()
          .select(col("asset_id"), col("embedding"))
          .localCheckpoint()
        val n = documentsCount(s, dir)
        graft.operators.GraphOps.dedupClusters(
          annCosinePairsCapped(emb, "asset_id", "embedding",
            minCosine = 0.9, bucketCap = 32, dim = 16,
            targetOccupancy = 16, knownCount = n + (n + 4) / 5),
          "v1", "v2")
          .select(col("doc_id").as("asset_id"), col("kept_id"), col("is_kept"))
      }),
      // r20 (X-M5): the end-to-end image near-dup PRUNE — the dHash
      // pigeonhole pairs (X-M3) fed through the connected-components
      // keep-one election, so the perceptual-hash path produces
      // keep/drop decisions, not just candidate pairs: the exact
      // multimodal twin of cur_neardup_prune. Pairs are COMPLETE at
      // hamming ≤ 3 (pigeonhole over 4 bands), so the election sees
      // every true near-dup edge; min-id keep-one matches the text
      // and embedding prunes' survivor rule.
      "mm_neardup_prune" -> ((s, dir) => {
        val pairs = graft.operators.DedupOps.fingerprintPairs(
          MultimodalOps.perceptualFeatures(mmAssets(s, dir)).toDF()
            .select(col("asset_id"), col("dhash")),
          "asset_id", "dhash", maxHamming = 3, bits = 56)
        graft.operators.GraphOps.dedupClusters(pairs)
          .select(col("doc_id").as("asset_id"), col("kept_id"), col("is_kept"))
      }),
      // r20 (X-M6): the AUDIO modality — real RIFF/WAVE synthesis per
      // document, a REAL javax.sound.sampled decode (header parse +
      // PCM frame read), and integer-exact waveform features (energy,
      // peak, zero crossings) computed from the DECODED samples. The
      // oracle replays the sawtooth closed form sample for sample, so
      // a header, endianness or sample-layout bug hash-mismatches.
      "mm_audio_features" -> ((s, dir) =>
        MultimodalOps.decodeAudioFeatures(
          MultimodalOps.syntheticWavAssets(Tables.documents(s, dir))
        ).toDF()),
      // r20 (X-M7): REAL multi-frame video decode — animated GIF89a
      // synthesized per document (planted mid-sequence scene cut),
      // decoded frame by frame through javax.imageio, per-frame pixel
      // sums and exact inter-frame |Δ| sums from the DECODED rasters.
      "mm_video_frames" -> ((s, dir) =>
        MultimodalOps.decodeVideoFrames(
          MultimodalOps.syntheticGifAssets(Tables.documents(s, dir))
        ).toDF()),
      // r20 (X-M7): scene-cut detection over the decoded frame diffs —
      // threshold the per-frame |Δ| sum at 60·w·h (smooth frames sit
      // near 11/px + wrap noise, the planted cut near 125/px). The
      // detector must land on EXACTLY the planted middle frame per
      // asset or the hash diverges.
      "mm_scene_cuts" -> ((s, dir) =>
        MultimodalOps.decodeVideoFrames(
          MultimodalOps.syntheticGifAssets(Tables.documents(s, dir))
        ).toDF()
          .filter(col("frame_idx") > 0 &&
            col("diff_sum") > lit(60L) * col("width") * col("height"))
          .select(col("asset_id"), col("frame_idx").as("cut_frame"))),
      // r20 (X-M8): loudness-invariant audio dedup — ×2 re-masters
      // (genuinely different PCM bytes) fingerprint identically to
      // their base because positive gain never flips a sample's sign;
      // exact-match election is ONE hash exchange (window min over
      // the fingerprint), no pair generation — the right spelling for
      // hamming-0 dedup at 100 TB. The oracle replays the sign bitmap
      // from the gain-FREE closed form (s < 0 ⇔ 2j < p−1): if the
      // decoder's signs depended on amplitude at all, every variant
      // row would hash-mismatch.
      "mm_audio_dedup" -> ((s, dir) => {
        val docs = Tables.documents(s, dir)
        val fps = MultimodalOps.audioFingerprints(
          MultimodalOps.syntheticWavAssets(docs).unionByName(
            MultimodalOps.gainVariants(docs, every = 4, gain = 2,
              idOffset = 100000000L))).toDF()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fingerprint"))
        fps.withColumn("kept_id", min(col("asset_id")).over(w))
          .select(col("asset_id"), col("kept_id"),
            (col("asset_id") === col("kept_id")).as("is_kept"))
      }),
      // r20 (X-C20): CROSS-MODAL corpus curation — one decision table
      // over the documents from all three modality prunes at once:
      // text (star-capped LSH → CC election), image (dHash pigeonhole
      // pairs over each doc's own PNG → CC election), audio (sign-
      // bitmap exact-match election). A multimodal training pipeline's
      // first gate is exactly this conjunction; every stage is the
      // already-proven bounded machinery, composed. Losers frames are
      // component non-minima — tiny next to the corpus — so the three
      // left joins are broadcast-scale; the full frame is emitted
      // (keep flags per modality + the conjunction) so the oracle
      // checks every decision, not just the survivor list.
      "cur_multimodal_prune" -> ((s, dir) => {
        import graft.operators.{DedupOps, GraphOps}
        val docs = Tables.documents(s, dir)
        // r21 (guide §2.6): the three modality pipelines are mutually
        // independent jobs that were running SEQUENTIALLY — each one's
        // stage tails and CC driver round trips left the other two's
        // work waiting (profiled: 24 serial jobs, 2.4 s stage wall +
        // 0.9 s driver gap, with three ~8–10 s-CPU decode stages that
        // never overlapped). Submitting them from driver futures lets
        // the scheduler backfill idle cores across pipelines; each
        // future materializes its loser frame (the CC paths already
        // materialize eagerly inside dedupClusters; the audio window
        // is pinned with a localCheckpoint so its synth+decode runs
        // inside the overlap window too). Results are unchanged —
        // same three frames, same conjunction.
        val aW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fingerprint"))
        val Seq(imgLosers, audLosers, txtLosers) =
          runConcurrently(s, "cur_multimodal_prune")(
            () => GraphOps.dedupClusters(
              DedupOps.fingerprintPairs(
                MultimodalOps.perceptualFeatures(
                  MultimodalOps.syntheticPngAssets(docs)).toDF()
                  .select(col("asset_id"), col("dhash")),
                "asset_id", "dhash", maxHamming = 3, bits = 56))
              .filter(!col("is_kept")).select(col("doc_id")),
            () => MultimodalOps.audioFingerprints(
                MultimodalOps.syntheticWavAssets(docs)).toDF()
              .withColumn("__kept", min(col("asset_id")).over(aW))
              .filter(col("asset_id") =!= col("__kept"))
              .select(col("asset_id").as("doc_id"))
              .localCheckpoint(),
            () => GraphOps.dedupClusters(
                DedupOps.lshCandidatePairsCappedStar(docs, "doc_id", "text",
                  bucketCap = 32))
              .filter(!col("is_kept")).select(col("doc_id")))
        docs.select(col("doc_id"))
          .join(imgLosers.withColumn("__li", lit(true)), Seq("doc_id"), "left")
          .join(audLosers.withColumn("__la", lit(true)), Seq("doc_id"), "left")
          .join(txtLosers.withColumn("__lt", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("__li").isNull.as("keep_image"),
            col("__la").isNull.as("keep_audio"),
            col("__lt").isNull.as("keep_text"),
            (col("__li").isNull && col("__la").isNull && col("__lt").isNull)
              .as("keep"))
      })
    )
  }

  /** Run `pipelines` at once on driver futures, each in its own Spark
    * job group, and return their results in order. On the first
    * failure the siblings' groups are cancelled — again until each
    * sibling settles, since a cancel reaches only jobs already
    * submitted — and that failure's exception is rethrown as is.
    */
  private def runConcurrently[T](s: SparkSession, label: String)(
      pipelines: (() => T)*): Seq[T] = {
    import scala.concurrent.{Await, Future, Promise}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = s.sparkContext
    val groups = pipelines.indices.map(i => s"$label-$i-${java.util.UUID.randomUUID()}")
    val futures = pipelines.zip(groups).map { case (p, g) =>
      Future {
        sc.setJobGroup(g, label, interruptOnCancel = true)
        try p() finally sc.clearJobGroup()
      }
    }
    val outcome = Promise[Seq[T]]()
    futures.foreach(_.failed.foreach(outcome.tryFailure))
    Future.sequence(futures).foreach(outcome.trySuccess)
    Await.ready(outcome.future, Duration.Inf)
    outcome.future.value.get match {
      case scala.util.Success(results) => results
      case scala.util.Failure(cause) =>
        futures.zip(groups).foreach { case (f, g) =>
          while (!f.isCompleted) {
            sc.cancelJobGroup(g)
            scala.util.Try(Await.ready(f, 100.millis))
          }
        }
        throw cause
    }
  }

  /** The image-dedup asset frame: every document's synthesized PNG
    * plus a clamped +24 brightness variant for each doc_id % 5 == 0
    * (ids offset by 1e8) — planted near-duplicates with genuinely
    * different bytes. Shared by `mm_phash_pairs` / `mm_embed_prune`.
    */
  private def mmAssets(s: SparkSession, dir: String)
    : org.apache.spark.sql.Dataset[graft.multimodal.RawAsset] = {
    import graft.multimodal.MultimodalOps
    val docs = Tables.documents(s, dir)
    MultimodalOps.syntheticPngAssets(docs).unionByName(
      MultimodalOps.brightnessVariants(docs, every = 5, delta = 24,
        idOffset = 100000000L))
  }

  private def multimodalOracle: Map[String, String] = Map(
    // The oracle recomputes the PNG synthesis closed form per pixel
    // (r = (7x+13y+id) mod 256, g/b offset +85/+170) and aggregates the
    // same statistics the Spark side derives from the DECODED raster —
    // if javax.imageio mis-parsed dims, band order, or samples, the
    // hashes diverge. Integer division truncates on both engines.
    "mm_decode_features" ->
      """WITH dims AS (SELECT doc_id AS asset_id,
                         CAST(16 + doc_id % 16 AS INT) AS width,
                         CAST(16 + (doc_id // 16) % 16 AS INT) AS height
                       FROM documents),
         u1 AS (SELECT asset_id, width, height,
                       unnest(range(0, width)) AS x FROM dims),
         u2 AS (SELECT asset_id, width, height, x,
                       unnest(range(0, height)) AS y FROM u1),
         s AS (SELECT asset_id, width, height,
                      SUM((x*7 + y*13 + asset_id) % 256
                        + (x*7 + y*13 + asset_id + 85) % 256
                        + (x*7 + y*13 + asset_id + 170) % 256) AS pixel_sum
               FROM u2 GROUP BY 1, 2, 3)
         SELECT asset_id, width, height, CAST(3 AS INT) AS channels,
                CAST(pixel_sum AS BIGINT) AS pixel_sum,
                CAST(pixel_sum * 1000 // (width * height * 3) AS BIGINT)
                  AS mean_milli
         FROM s""",

    "mm_frame_sample" ->
      """WITH a AS (SELECT doc_id AS asset_id,
                      octet_length(encode(text)) AS n_bytes,
                      CAST('0x' || substr(md5(text), 1, 7) AS BIGINT) AS h
                    FROM documents),
         f AS (SELECT asset_id, n_bytes, h, 1 + h % 8 AS n_frames FROM a),
         u AS (SELECT asset_id, n_bytes, h, n_frames,
                      unnest(range(0, n_frames)) AS frame_idx FROM f)
         SELECT asset_id, frame_idx,
                frame_idx * (n_bytes // n_frames) AS byte_offset,
                (h * 31 + frame_idx) % 2147483647 AS frame_hash
         FROM u""",

    // r20: replay the synthesis closed form (base + clamped +24
    // brightness variants), integer BT.601 luma, 9×7 block means via
    // the pixel-assignment mapping (cx = x·9 // w), adjacent-column
    // sign bits packed at cy·8 + cx, then ALL pairs within Hamming 3
    // by brute force — the banding side must be complete, so the
    // textbook cross-join is the oracle.
    "mm_phash_pairs" ->
      s"""WITH $mmLumaCtes,
         cells AS (SELECT asset_id,
                          CAST(x * 9 // w AS INT) AS cx,
                          CAST(y * 7 // h AS INT) AS cy,
                          SUM(l) // COUNT(*) AS m
                   FROM lum GROUP BY 1, 2, 3),
         bits AS (SELECT a.asset_id,
                         CASE WHEN a.m < b.m
                              THEN 1::BIGINT << (a.cy * 8 + a.cx)
                              ELSE 0 END AS bit
                  FROM cells a JOIN cells b
                    ON a.asset_id = b.asset_id AND a.cy = b.cy
                       AND b.cx = a.cx + 1),
         fp AS (SELECT asset_id, SUM(bit)::BIGINT AS fp FROM bits GROUP BY 1)
         SELECT a.asset_id AS a1, b.asset_id AS a2,
                bit_count(xor(a.fp, b.fp)) AS hamming
         FROM fp a JOIN fp b ON a.asset_id < b.asset_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 3""",

    // r20: same pixel replay down to 4×4 centered block means, the
    // 16-dim twin of the cur_embed_prune oracle (md5 hyperplanes,
    // occupancy-adaptive band width over the ASSET count, cap 32 per
    // (table, bucket), exact cosine ≥ 0.9, recursive-CTE reachability
    // min-id election).
    "mm_embed_prune" ->
      s"""WITH RECURSIVE
         nb AS (SELECT count(*) + (count(*) + 4) // 5 AS n FROM documents),
         bt AS (SELECT COALESCE(MIN(CAST(r.b AS INT)), 24) AS bits
                FROM range(4, 25) r(b), nb
                WHERE (nb.n >> CAST(r.b AS INT)) <= 16),
         $mmLumaCtes,
         cells AS (SELECT asset_id,
                          CAST(y * 4 // h AS INT) * 4 + CAST(x * 4 // w AS INT) AS k,
                          SUM(l) // COUNT(*) AS m
                   FROM lum GROUP BY 1, 2),
         emb0 AS (SELECT asset_id, list(m ORDER BY k) AS ml, SUM(m) AS tot
                  FROM cells GROUP BY 1),
         p AS (SELECT asset_id,
                      list_transform(ml, x -> CAST(16 * x - tot AS DOUBLE)) AS e
               FROM emb0),
         pn AS (SELECT asset_id, e,
                  sqrt(list_sum(list_transform(range(1, 17), i -> e[i] * e[i]))) AS nrm,
                  list_transform(range(0, 4), t ->
                    list_aggregate(list_transform(range(0, bt.bits), b ->
                      CASE WHEN list_sum(list_transform(range(1, 17),
                        i -> e[i] * (CASE WHEN CAST('0x' || substr(md5(
                                  CAST(t AS VARCHAR) || '_' || CAST(b AS VARCHAR)
                                  || '_' || CAST(i - 1 AS VARCHAR)), 1, 7)
                              AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END))) >= 0
                      THEN '1' ELSE '0' END), 'string_agg', '')) AS buckets
                FROM p, bt),
         ex AS (SELECT asset_id, e, nrm, unnest(buckets) AS bucket,
                       unnest(range(0, 4)) AS tbl FROM pn),
         ek AS (SELECT asset_id, e, nrm, bucket, tbl FROM (
                  SELECT *, row_number() OVER (PARTITION BY tbl, bucket
                    ORDER BY CAST('0x' || substr(md5(CAST(asset_id AS VARCHAR)), 1, 7)
                                  AS BIGINT) ASC, asset_id ASC) AS rnk
                  FROM ex) WHERE rnk <= 32),
         pairs AS (SELECT DISTINCT a.asset_id AS v1, b.asset_id AS v2
                   FROM ek a JOIN ek b
                     ON a.tbl = b.tbl AND a.bucket = b.bucket
                        AND a.asset_id < b.asset_id
                   WHERE round(list_sum(list_transform(range(1, 17),
                               i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) >= 0.9),
         edges AS (SELECT v1 AS a, v2 AS b FROM pairs
                   UNION SELECT v2, v1 FROM pairs),
         nodes AS (SELECT DISTINCT a AS node FROM edges),
         reach(node, r) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e2.a, reach.r FROM edges e2 JOIN reach ON e2.b = reach.node)
         SELECT node AS asset_id, min(r) AS kept_id, (node = min(r)) AS is_kept
         FROM reach GROUP BY node""",

    // r20 (X-M5): the dHash pair replay (same 9×7 luma-grid CTEs as
    // mm_phash_pairs) feeding the recursive-CTE reachability min-id
    // election (same as mm_embed_prune) — pairs at hamming ≤ 3 ARE
    // the edge set, so Spark's pigeonhole banding must be complete or
    // the component structure (and hash) diverges.
    "mm_neardup_prune" ->
      s"""WITH RECURSIVE $mmLumaCtes,
         cells AS (SELECT asset_id,
                          CAST(x * 9 // w AS INT) AS cx,
                          CAST(y * 7 // h AS INT) AS cy,
                          SUM(l) // COUNT(*) AS m
                   FROM lum GROUP BY 1, 2, 3),
         bits AS (SELECT a.asset_id,
                         CASE WHEN a.m < b.m
                              THEN 1::BIGINT << (a.cy * 8 + a.cx)
                              ELSE 0 END AS bit
                  FROM cells a JOIN cells b
                    ON a.asset_id = b.asset_id AND a.cy = b.cy
                       AND b.cx = a.cx + 1),
         fp AS (SELECT asset_id, SUM(bit)::BIGINT AS fp FROM bits GROUP BY 1),
         pairs AS (SELECT a.asset_id AS a1, b.asset_id AS a2
                   FROM fp a JOIN fp b ON a.asset_id < b.asset_id
                   WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         edges AS (SELECT a1 AS a, a2 AS b FROM pairs
                   UNION SELECT a2, a1 FROM pairs),
         nodes AS (SELECT DISTINCT a AS node FROM edges),
         reach(node, r) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e2.a, reach.r FROM edges e2 JOIN reach ON e2.b = reach.node)
         SELECT node AS asset_id, min(r) AS kept_id, (node = min(r)) AS is_kept
         FROM reach GROUP BY node""",

    // r20 (X-M6): sample-for-sample replay of the WAV synthesis
    // closed form — the integer sawtooth s(i) = (2·A·j)//(p−1) − A,
    // j = (i + id) mod p — then the same aggregate features the
    // decoder computes from parsed PCM frames. Integer division on
    // non-negative operands, so DuckDB's // and the JVM's / agree.
    "mm_audio_features" ->
      """WITH par AS (SELECT doc_id,
                           16 + doc_id % 48 AS p,
                           4000 + (doc_id % 9) * 1000 AS a,
                           1600 + (doc_id % 8) * 100 AS n
                    FROM documents),
         s AS (SELECT doc_id, t.i,
                      ((2 * a * ((t.i + doc_id) % p)) // (p - 1)) - a AS s
               FROM par CROSS JOIN range(0, 2300) t(i) WHERE t.i < par.n),
         c AS (SELECT doc_id, s,
                      CASE WHEN (s < 0) <>
                                (lag(s) OVER (PARTITION BY doc_id
                                              ORDER BY i) < 0)
                           THEN 1 ELSE 0 END AS cr
               FROM s)
         SELECT doc_id AS asset_id, CAST(8000 AS INT) AS sample_rate,
                count(*) AS n_samples,
                CAST(sum(s * s) AS BIGINT) AS energy,
                CAST(max(abs(s)) AS BIGINT) AS peak,
                CAST(sum(cr) AS BIGINT) AS crossings
         FROM c GROUP BY doc_id""",

    // r20 (X-M7): pixel-for-pixel replay of the GIF frame synthesis —
    // g(x,y,f) = (3x + 5y + 11f + id + cut) mod 256, cut = 97 from the
    // middle frame — then the same per-frame aggregates the decoder
    // computes from decoded rasters, diffs via a self-join on the
    // previous frame's pixel grid.
    "mm_video_frames" -> s"$mmVideoFrameCtes\n$mmVideoFrameSelect",

    // r20 (X-M7): the detector replay — frames whose decoded |Δ| sum
    // clears 60·w·h. On the synthesis closed form that is exactly the
    // planted middle frame of every asset.
    "mm_scene_cuts" ->
      s"""$mmVideoFrameCtes,
         vf AS ($mmVideoFrameSelect)
         SELECT asset_id, frame_idx AS cut_frame FROM vf
         WHERE frame_idx > 0 AND diff_sum > 60 * width * height""",

    // r20 (X-M8): the sign bitmap replayed from the gain-free
    // inequality — s(i) < 0 ⇔ 2·((i + src) mod p) < p − 1, amplitude
    // cancels under floor division — so base docs AND their ×2
    // re-masters derive the identical fingerprint the decoder reads
    // from actual PCM signs; exact-match min-id election per bitmap.
    "mm_audio_dedup" ->
      """WITH par AS (SELECT doc_id AS asset_id, doc_id AS src,
                           16 + doc_id % 48 AS p
                    FROM documents
                    UNION ALL
                    SELECT doc_id + 100000000, doc_id, 16 + doc_id % 48
                    FROM documents WHERE doc_id % 4 = 0),
         b AS (SELECT asset_id,
                      CASE WHEN 2 * ((t.i + src) % p) < p - 1
                           THEN 1::BIGINT << CAST(t.i AS INT)
                           ELSE 0 END AS bit
               FROM par CROSS JOIN range(0, 56) t(i)),
         f AS (SELECT asset_id, SUM(bit)::BIGINT AS fp FROM b GROUP BY 1)
         SELECT asset_id,
                min(asset_id) OVER (PARTITION BY fp) AS kept_id,
                asset_id = min(asset_id) OVER (PARTITION BY fp) AS is_kept
         FROM f""",

    // r20 (X-C20): the cross-modal conjunction — replays all three
    // modality elections (text minhash star-capped banding, image
    // dHash over each doc's own PNG, audio sign bitmap) against the
    // same documents and emits the full per-doc decision table. Two
    // recursive reachability CTEs (text and image components) live in
    // one WITH RECURSIVE; the image fingerprint frame is restricted
    // to the base assets (no planted variants — the curation question
    // is which DOCUMENTS survive).
    "cur_multimodal_prune" ->
      s"""WITH RECURSIVE $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         kr AS (SELECT doc_id, band, bkey,
                  row_number() OVER (PARTITION BY band, bkey
                    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                                  AS BIGINT) ASC,
                             doc_id ASC) AS rnk
                FROM k2),
         tpairs AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
                           greatest(a.doc_id, b.doc_id) AS d2
                    FROM kr a JOIN kr b
                      ON a.band = b.band AND a.bkey = b.bkey
                     AND ((a.rnk <= 32 AND b.rnk <= 32 AND a.doc_id < b.doc_id)
                          OR (a.rnk > 32 AND b.rnk = 1))),
         tedges AS (SELECT d1 AS a, d2 AS b FROM tpairs
                    UNION SELECT d2, d1 FROM tpairs),
         tnodes AS (SELECT DISTINCT a AS node FROM tedges),
         treach(node, r) AS (
           SELECT node, node FROM tnodes
           UNION
           SELECT e.a, treach.r FROM tedges e JOIN treach ON e.b = treach.node),
         tlosers AS (SELECT node AS doc_id FROM treach
                     GROUP BY node HAVING node <> min(r)),
         $mmLumaCtes,
         cells AS (SELECT asset_id,
                          CAST(x * 9 // w AS INT) AS cx,
                          CAST(y * 7 // h AS INT) AS cy,
                          SUM(l) // COUNT(*) AS m
                   FROM lum GROUP BY 1, 2, 3),
         dbits AS (SELECT a.asset_id,
                          CASE WHEN a.m < b.m
                               THEN 1::BIGINT << (a.cy * 8 + a.cx)
                               ELSE 0 END AS bit
                   FROM cells a JOIN cells b
                     ON a.asset_id = b.asset_id AND a.cy = b.cy
                        AND b.cx = a.cx + 1),
         dfp AS (SELECT asset_id, SUM(bit)::BIGINT AS fp FROM dbits
                 WHERE asset_id < 100000000 GROUP BY 1),
         ipairs AS (SELECT a.asset_id AS d1, b.asset_id AS d2
                    FROM dfp a JOIN dfp b ON a.asset_id < b.asset_id
                    WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         iedges AS (SELECT d1 AS a, d2 AS b FROM ipairs
                    UNION SELECT d2, d1 FROM ipairs),
         inodes AS (SELECT DISTINCT a AS node FROM iedges),
         ireach(node, r) AS (
           SELECT node, node FROM inodes
           UNION
           SELECT e.a, ireach.r FROM iedges e JOIN ireach ON e.b = ireach.node),
         ilosers AS (SELECT node AS doc_id FROM ireach
                     GROUP BY node HAVING node <> min(r)),
         apar AS (SELECT doc_id, 16 + doc_id % 48 AS p FROM documents),
         ab AS (SELECT doc_id,
                       CASE WHEN 2 * ((ti.i + doc_id) % p) < p - 1
                            THEN 1::BIGINT << CAST(ti.i AS INT)
                            ELSE 0 END AS bit
                FROM apar CROSS JOIN range(0, 56) ti(i)),
         af AS (SELECT doc_id, SUM(bit)::BIGINT AS fp FROM ab GROUP BY 1),
         alosers AS (SELECT doc_id FROM (
                       SELECT doc_id,
                              min(doc_id) OVER (PARTITION BY fp) AS k
                       FROM af) WHERE doc_id <> k)
         SELECT d.doc_id,
                d.doc_id NOT IN (SELECT doc_id FROM ilosers) AS keep_image,
                d.doc_id NOT IN (SELECT doc_id FROM alosers) AS keep_audio,
                d.doc_id NOT IN (SELECT doc_id FROM tlosers) AS keep_text,
                (d.doc_id NOT IN (SELECT doc_id FROM ilosers)
                 AND d.doc_id NOT IN (SELECT doc_id FROM alosers)
                 AND d.doc_id NOT IN (SELECT doc_id FROM tlosers)) AS keep
         FROM documents d"""
  )

  /** Shared oracle CTEs for the video rows: the GIF synthesis closed
    * form per (asset, frame, x, y), per-frame pixel sums, and exact
    * inter-frame absolute-difference sums via a previous-frame
    * self-join — one definition so the frame table and the scene-cut
    * detector replay identical pixels.
    */
  private val mmVideoFrameCtes: String =
    """WITH par AS (SELECT doc_id,
                        CAST(12 + doc_id % 8 AS INT) AS w,
                        CAST(12 + (doc_id // 8) % 8 AS INT) AS h,
                        4 + doc_id % 5 AS nf
                 FROM documents),
       px AS (SELECT doc_id, w, h, nf, f.f, x.x, y.y,
                     (3 * x.x + 5 * y.y + 11 * f.f + doc_id
                      + CASE WHEN f.f >= nf // 2 THEN 97 ELSE 0 END)
                       % 256 AS g
              FROM par
              CROSS JOIN range(0, 9) f(f)
              CROSS JOIN range(0, 20) x(x)
              CROSS JOIN range(0, 20) y(y)
              WHERE f.f < par.nf AND x.x < par.w AND y.y < par.h),
       fr AS (SELECT doc_id, f, min(w) AS w, min(h) AS h,
                     SUM(g) AS pixel_sum
              FROM px GROUP BY 1, 2),
       df AS (SELECT a.doc_id, a.f, SUM(abs(a.g - b.g)) AS diff_sum
              FROM px a JOIN px b
                ON a.doc_id = b.doc_id AND a.x = b.x AND a.y = b.y
                   AND b.f = a.f - 1
              GROUP BY 1, 2)"""

  private val mmVideoFrameSelect: String =
    """SELECT fr.doc_id AS asset_id, CAST(fr.f AS INT) AS frame_idx,
              fr.w AS width, fr.h AS height,
              CAST(fr.pixel_sum AS BIGINT) AS pixel_sum,
              CAST(COALESCE(df.diff_sum, 0) AS BIGINT) AS diff_sum
       FROM fr LEFT JOIN df ON fr.doc_id = df.doc_id AND fr.f = df.f"""

  /** Shared oracle CTEs for the image-dedup rows: the asset frame
    * (every doc's PNG + the doc_id % 5 brightness variants at id
    * offset 1e8), the synthesis dimensions, the per-pixel grid and
    * integer BT.601 luma with saturating `+delta` — one definition so
    * the hash and embedding oracles replay identical pixels.
    */
  private val mmLumaCtes: String =
    """base AS (SELECT doc_id AS asset_id, doc_id AS img_id, 0 AS delta
               FROM documents),
       variants AS (SELECT doc_id + 100000000 AS asset_id, doc_id AS img_id,
                           24 AS delta
                    FROM documents WHERE doc_id % 5 = 0),
       assets AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
       dims AS (SELECT asset_id, img_id, delta,
                       CAST(16 + img_id % 16 AS BIGINT) AS w,
                       CAST(16 + (img_id // 16) % 16 AS BIGINT) AS h
                FROM assets),
       u1 AS (SELECT *, unnest(range(0, w)) AS x FROM dims),
       px AS (SELECT asset_id, w, h, x, unnest(range(0, h)) AS y,
                     img_id, delta FROM u1),
       lum AS (SELECT asset_id, w, h, x, y,
                 (299 * LEAST(255, (x*7 + y*13 + img_id) % 256 + delta)
                + 587 * LEAST(255, (x*7 + y*13 + img_id + 85) % 256 + delta)
                + 114 * LEAST(255, (x*7 + y*13 + img_id + 170) % 256 + delta))
                // 1000 AS l
               FROM px)"""

  /** Similarity-search extensions over `embeddings` (north star):
    * brute-force cosine pairs and top-k (correctness baseline), and
    * the LSH-bucketed ANN scale path. Even the approximate operator is
    * exactly oracle-checked: hyperplanes derive from md5 so DuckDB
    * reproduces the same buckets. See [[graft.operators.VectorOps]].
    */
  private def simQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.operators.VectorOps._
    Map(
      "sim_cosine_pairs" -> ((s, dir) =>
        cosinePairsBruteForce(Tables.embeddings(s, dir), "vec_id", "embedding", 0.45)),
      "sim_topk" -> ((s, dir) =>
        topKNeighbors(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10)),
      // ANN-routed top-k retrieval: same contract as sim_topk, but each
      // probe meets only the corpus vectors sharing one of its LSH
      // buckets — the production retrieval path (sim_topk stays as the
      // brute-force correctness baseline).
      "sim_topk_ann" -> ((s, dir) =>
        topKNeighborsAnn(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10)),
      // IVF-routed top-k: corpus in exactly one cell, probes fan out
      // to nprobe cells — the cell-partitioned retrieval sibling
      "sim_topk_ivf" -> ((s, dir) =>
        topKNeighborsIvf(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10)),
      // two-stage retrieval: LSH candidates -> int8 coarse scores ->
      // exact float rerank of the 40-row shortlist per probe
      "sim_rerank" -> ((s, dir) =>
        topKNeighborsRerank(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10)),
      // X-S20: 1-bit (sign) quantization — Hamming-distance shortlist
      // over two packed 32-bit words per vector, exact float rerank;
      // same (qid, vec_id, cosine, rnk) contract as sim_topk
      "sim_binary_topk" -> ((s, dir) =>
        topKNeighborsBinary(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10, shortlist = 40)),
      // X-S21: ColBERT MaxSim late interaction — docs are bags of 4
      // token vectors (doc = vec_id div 4); score(q,d) = Σ_qv max_dv
      // cos, in exact integer micro units
      // probe set BOUNDED (doc < 2500): a retrieval benchmark serves a
      // fixed query batch against a GROWING corpus — an unbounded %25
      // probe set made the benched work quadratic in corpus size by
      // fixture design (sf10 receipt: 70x wall for 10x data); the cap
      // keeps it linear while leaving the sf0.01 gate rows identical
      "sim_maxsim" -> ((s, dir) =>
        maxSimTopK(Tables.embeddings(s, dir).withColumn("doc", expr("vec_id div 4")),
          "doc", "vec_id", "embedding",
          col("doc") % 25 === 0 && col("doc") < 2500, k = 3)),
      // IVFADC (Jégou 2011): coarse cells route candidates, 8×4-bit
      // product-quantization codes + integer micro-unit ADC tables
      // rank them, exact cosine reranks the 40-row shortlist
      "sim_pq_topk" -> ((s, dir) =>
        topKNeighborsPq(Tables.embeddings(s, dir), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 10)),
      // full-width LSH, occupancy-adaptive band bits (r17): the scale
      // path's default spelling must itself scale — the sf10 receipt
      // caught the fixed-bits geometry (via cur_embed_prune) at 83×
      // wall for 10× data
      "sim_ann_lsh" -> ((s, dir) =>
        annCosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, targetOccupancy = 16,
          knownCount = embeddingsCount(s, dir))),
      // project 64→8 dims first, band in projected space, exact cosine
      // in the original space — index artifacts shrink 8×, precision
      // stays exact (projection costs recall only). Band bits are
      // OCCUPANCY-ADAPTIVE (derived from the corpus count, constant
      // expected bucket occupancy): the r16 sf1 receipt measured the
      // fixed-bits spelling at 11× wall for 10× data — a fixed 2^bits
      // bucket space makes candidate pairs grow ~quadratically.
      "sim_ann_projected" -> ((s, dir) =>
        annCosinePairsProjected(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, targetOccupancy = 16,
          knownCount = embeddingsCount(s, dir))),
      // coarse projected buckets + the hash-order cap: the dup-heavy
      // guard the r6 probe showed projected banding needs. The cap
      // COMPOSES with the adaptive bits (r17): occupancy-adaptive
      // banding keeps UNIFORM growth linear, the cap bounds the
      // dup-heavy buckets adaptivity cannot thin (identical vectors
      // share every band at any width)
      "sim_ann_proj_capped" -> ((s, dir) =>
        annCosinePairsProjected(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, bucketCap = 32, targetOccupancy = 16,
          knownCount = embeddingsCount(s, dir))),
      // bucketCap sized to the bucket geometry: 4 sign bits = 16
      // buckets/table, so 32 keeps typical buckets whole and only
      // truncates pathological (dup-heavy) ones.
      "sim_ann_capped" -> ((s, dir) =>
        annCosinePairsCapped(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, bucketCap = 32)),
      "sim_ivf_pairs" -> ((s, dir) =>
        ivfCosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4)),
      // trained codebook: 2 deterministic Lloyd rounds (micro-unit
      // centroids) over a 25% hash-mod training sample — the 100 TB
      // shape (train on a slice, assign the full corpus) — before the
      // multi-probe assignment
      "sim_ivf_trained" -> ((s, dir) =>
        ivfCosinePairsTrained(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, trainPct = 25)),
      // quantize-then-search: the whole ANN pipeline (bucketing AND
      // exact-cosine verify) runs on the int8-quantized coordinates —
      // band bits occupancy-adaptive like the float spellings
      "sim_ann_int8" -> ((s, dir) =>
        annCosinePairsInt8(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4, targetOccupancy = 16,
          knownCount = embeddingsCount(s, dir))),
      // incremental ingest dedup: the new-vector batch (every 10th id)
      // bands itself and probes the EXISTING corpus's persisted
      // postings index; dup_of = min existing id with cosine >= 0.45
      // in a shared bucket (the embedding twin of dd_incremental)
      "sim_incremental" -> ((s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        val ex = vecs.filter(col("vec_id") % 10 =!= 0)
        val nw = vecs.filter(col("vec_id") % 10 === 0)
        incrementalAnnDedup(lshIndex(ex, "vec_id", "embedding"), ex, nw,
          "vec_id", "embedding", minCosine = 0.45)
      }),
      // X-S22 end to end (r19): the same incremental-ANN answer, but
      // the postings index is the CDF-MAINTAINED lakehouse table after
      // an insert, a COW embedding update (negation) and a DV delete
      // on the source corpus — the vector twin of dd_maintained_index.
      "sim_maintained_index" -> ((s, dir) => {
        val wh = ensureVecIndex(s, dir)
        val index = graft.sources.TxnLog.read(s, s"$wh/db/vecsix")
          .withColumnRenamed("vec_id", "__id")
        val corpus = graft.sources.TxnLog.read(s, s"$wh/db/vecs")
        incrementalAnnDedup(index, corpus,
          Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 0)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", minCosine = 0.45)
      }),
      // per-label centroids: the shuffle carries (label, dim) partial
      // means, never the vectors
      "vec_centroids" -> ((s, dir) =>
        groupCentroids(Tables.embeddings(s, dir), "label", "embedding")),
      // embedding-cosine near-dup prune: ANN candidate pairs ->
      // connected components -> keep the min-id survivor per group
      // (the embedding-space twin of cur_neardup_prune's text LSH).
      // r18: the candidate stage composes the occupancy-adaptive band
      // width WITH the deterministic bucket cap — adaptivity keeps
      // uniform growth linear, the cap bounds dup-heavy buckets that
      // band width cannot thin (a replicated corpus's identical
      // vectors share every band at any width; the r18 sf1/sf10
      // receipt measured the uncapped spelling superlinear on exactly
      // that load). Cap truncation only drops pairs inside over-full
      // near-identical buckets, where surviving edges still merge the
      // component.
      "cur_embed_prune" -> ((s, dir) => {
        val vecs = Tables.embeddings(s, dir)
        val losers = graft.operators.GraphOps.dedupClusters(
          annCosinePairsCapped(vecs, "vec_id", "embedding", minCosine = 0.45,
            bucketCap = 32, targetOccupancy = 16,
            knownCount = embeddingsCount(s, dir)),
          "v1", "v2")
          .filter(!col("is_kept")).select(col("doc_id").as("vec_id"))
        vecs.join(losers, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("label"))
      }),
      // qvec is serialized to a CSV string for the driver comparison:
      // array-typed result columns are not portable across result
      // comparators (the p11_collect_array rule — the r3 driver died
      // sorting a raw array<int> column).
      "vec_quantize" -> ((s, dir) => {
        val (scale, q) = quantizeInt8(col("embedding"))
        Tables.embeddings(s, dir).select(
          col("vec_id"), round(scale, 6).as("scale"),
          array_join(transform(q, _.cast("string")), ",").as("qvec"))
      }),

      // ---- Deterministic ±1 random projection 64 → 8 dims (the
      //      dimensionality-reduction stage ahead of ANN indexing /
      //      clustering at 100 TB: 8× less data rides every downstream
      //      shuffle). No stored matrix — executors regenerate sign
      //      columns from (seed, j, i) md5 arithmetic, which is also
      //      what makes the op oracle-checkable. Output is exploded to
      //      (vec_id, j, comp) scalar rows so the compare stays on
      //      scalar doubles. ----
      "vec_project" -> ((s, dir) =>
        graft.operators.VectorOps.randomProject(
            Tables.embeddings(s, dir), "vec_id", "embedding", rdim = 8)
          .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "comp")))
          .select(col("vec_id"), col("j").cast("long").as("j"), col("comp"))),

      // ---- Per-dimension z-score standardization: global μ/σ from
      //      one map-side-combined stats pass (collected as a 64-entry
      //      driver artifact, the IVF-codebook pattern), then a
      //      scan-fused shuffle-free transform. Micro-unit moments +
      //      integer z output keep it engine-portable. ----
      "vec_standardize" -> ((s, dir) =>
        standardize(Tables.embeddings(s, dir), "vec_id", "embedding")),

      // ---- K-means clustering (assignment view): deterministic Lloyd
      //      training on the 25% hash-mod slice (the sim_ivf_trained
      //      codebook machinery), rank-1 cell per vector + cosine to
      //      its centroid — embedding-space corpus stratification. ----
      "vec_kmeans_assign" -> ((s, dir) =>
        kmeansAssign(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 16, lloydIters = 2, trainPct = 25)),

      // ---- Top principal direction by distributed power iteration
      //      (3 rounds of y = Xᵀ(Xv), Gram-matrix-free): per-row
      //      scalar against the iterate as a literal, one (dim, Σ)
      //      map-side-combined aggregate per round, micro-int state
      //      so the iterative float algorithm stays oracle-exact. ----
      "vec_power_iter" -> ((s, dir) =>
        powerIteration(Tables.embeddings(s, dir), "embedding"))
    )
  }

  /** DuckDB fragments mirroring VectorOps's double-precision,
    * index-ordered vector arithmetic. */
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

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

  /** Shared trained-codebook CTEs (p, pt, cb0, two Lloyd rounds →
    * cb2): hash-ordered init from the 25% training slice, rank-1
    * assignment, per-(cell, dim) micro-unit means, empty cells carry
    * forward — the SQL mirror of `VectorOps.trainCodebook`, used by
    * both `sim_ivf_trained` and `vec_kmeans_assign`.
    */
  private def duckTrainedCbCtes: String = {
    def lloydRound(prev: String, i: Int): String =
      s"""a$i AS (SELECT vec_id, embedding, cell FROM (
            SELECT p.vec_id, p.embedding, k.cell,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${duckDot("p.embedding", "k.cv")} / (p.nrm * k.cnrm)
                                DESC,
                              k.cell ASC) AS rnk
            FROM pt p, $prev k) WHERE rnk = 1),
         m$i AS (SELECT cell, pos,
                   round(avg(CAST(v AS DOUBLE)) * 1000000) / 1000000 AS mv
                 FROM (SELECT cell, unnest(embedding) AS v,
                              generate_subscripts(embedding, 1) AS pos FROM a$i)
                 GROUP BY cell, pos),
         g$i AS (SELECT cell, list(mv ORDER BY pos) AS cv FROM m$i GROUP BY cell),
         cb$i AS (SELECT cell, cv, sqrt(${duckDot("cv", "cv")}) AS cnrm FROM (
                   SELECT c.cell, coalesce(g.cv, c.cv) AS cv
                   FROM $prev c LEFT JOIN g$i g ON c.cell = g.cell))"""
    s"""p AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm,
          CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
        FROM embeddings),
       pt AS (SELECT * FROM p WHERE h % 100 < 25),
       cb0 AS (SELECT row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS cell,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
                 nrm AS cnrm
               FROM (SELECT * FROM pt ORDER BY h ASC, vec_id ASC LIMIT 16)),
       ${lloydRound("cb0", 1)},
       ${lloydRound("cb1", 2)}"""
  }

  private def duckPlaneDot(t: Int, b: Int): String =
    s"""list_sum(list_transform(range(1, 65),
        i -> CAST(embedding[i] AS DOUBLE) *
             (CASE WHEN CAST('0x' || substr(md5('${t}_${b}_' || CAST(i - 1 AS VARCHAR)), 1, 7)
                        AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END)))"""

  private def simOracle: Map[String, String] = {
    val pairCos = s"round(${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6)"
    val buckets = (0 until 4).map { t =>
      (0 until 4).map { b =>
        s"(CASE WHEN ${duckPlaneDot(t, b)} >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
    }.mkString("[", ", ", "]")
    // occupancy-adaptive CTEs shared by the full-width adaptive rows:
    // bits = smallest b in [4, 24] with (n >> b) <= 16, the exact
    // integer ladder of VectorOps.adaptiveBits
    val adaptiveBitsCtes =
      """nb AS (SELECT count(*) AS n FROM embeddings),
         bt AS (SELECT COALESCE(MIN(CAST(r.b AS INT)), 24) AS bits
                FROM range(4, 25) r(b), nb
                WHERE (nb.n >> CAST(r.b AS INT)) <= 16)"""
    // table t's FULL-WIDTH (64-dim) bucket string with DYNAMIC band
    // width — the b-dynamic twin of duckPlaneDot's literal planes
    def bucketAdaptive(t: Int): String =
      s"""list_aggregate(list_transform(range(0, bt.bits), b ->
            CASE WHEN list_sum(list_transform(range(1, 65),
              i -> CAST(embedding[i] AS DOUBLE) *
                   (CASE WHEN CAST('0x' || substr(md5(
                             '${t}_' || CAST(b AS VARCHAR) || '_' ||
                             CAST(i - 1 AS VARCHAR)), 1, 7)
                         AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END))) >= 0
            THEN '1' ELSE '0' END), 'string_agg', '')"""
    val bucketsAdaptive =
      s"[${(0 until 4).map(bucketAdaptive).mkString(", ")}]"
    // the 64→8 ±1 projection (seed 101) and the 8-dim bucket planes —
    // mirrors VectorOps.annCosinePairsProjected's two md5 domains
    val projList =
      """list_transform(range(0, 8), j ->
           round(list_sum(list_transform(range(1, 65),
             i -> CAST(embedding[i] AS DOUBLE) *
                  (CASE WHEN CAST('0x' || substr(md5(
                            '101_' || CAST(j AS VARCHAR) || '_' ||
                            CAST(i - 1 AS VARCHAR)), 1, 7)
                        AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END))), 6))"""
    def projPlaneDot(t: Int, b: Int): String =
      s"""list_sum(list_transform(range(1, 9),
          i -> proj[i] *
               (CASE WHEN CAST('0x' || substr(md5('${t}_${b}_' || CAST(i - 1 AS VARCHAR)), 1, 7)
                          AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END)))"""
    val projBuckets = (0 until 4).map { t =>
      (0 until 4).map { b =>
        s"(CASE WHEN ${projPlaneDot(t, b)} >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
    }.mkString("[", ", ", "]")
    // table t's bucket string with DYNAMIC band width: one sign char
    // per b in [0, bits) — bits from the `bt` CTE (occupancy ladder)
    def projBucketAdaptive(t: Int): String =
      s"""list_aggregate(list_transform(range(0, bt.bits), b ->
            CASE WHEN list_sum(list_transform(range(1, 9),
              i -> proj[i] *
                   (CASE WHEN CAST('0x' || substr(md5(
                             '${t}_' || CAST(b AS VARCHAR) || '_' ||
                             CAST(i - 1 AS VARCHAR)), 1, 7)
                         AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END))) >= 0
            THEN '1' ELSE '0' END), 'string_agg', '')"""
    Map(
      "sim_cosine_pairs" ->
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings)
           SELECT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
           FROM p a JOIN p b ON a.vec_id < b.vec_id
           WHERE $pairCos >= 0.45""",

      "sim_topk" ->
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
           q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm FROM p
                 WHERE vec_id % 100 = 0),
           s AS (SELECT qid, vec_id,
                   round(${duckDot("qe", "embedding")} / (qnrm * nrm), 6) AS cosine
                 FROM q, p WHERE vec_id <> qid)
           SELECT qid, vec_id, cosine, rnk FROM (
             SELECT qid, vec_id, cosine,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, vec_id ASC) AS rnk
             FROM s) WHERE rnk <= 10""",

      // sign-bit packing into two 32-bit words (2**i stays exactly
      // representable), Hamming shortlist of 40, exact float rerank —
      // the identical three-stage trace as the Spark side
      "sim_binary_topk" ->
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              CAST(list_sum(list_transform(range(0, 32),
                i -> CASE WHEN embedding[i+1] > 0 THEN 2**i ELSE 0 END))
                AS BIGINT) AS lo,
              CAST(list_sum(list_transform(range(0, 32),
                i -> CASE WHEN embedding[i+33] > 0 THEN 2**i ELSE 0 END))
                AS BIGINT) AS hi
            FROM embeddings),
           c AS (SELECT q.vec_id AS qid, p.vec_id AS vid,
                   bit_count(xor(p.lo, q.lo)) + bit_count(xor(p.hi, q.hi)) AS hd
                 FROM p, (SELECT * FROM p WHERE vec_id % 100 = 0) q
                 WHERE p.vec_id <> q.vec_id),
           sh AS (SELECT qid, vid FROM (
                    SELECT qid, vid, row_number() OVER (PARTITION BY qid
                             ORDER BY hd ASC, vid ASC) AS r
                    FROM c) WHERE r <= 40),
           s AS (SELECT sh.qid, sh.vid AS vec_id,
                   round(${duckDot("pq.embedding", "pv.embedding")} /
                         (pq.nrm * pv.nrm), 6) AS cosine
                 FROM sh
                 JOIN p pq ON sh.qid = pq.vec_id
                 JOIN p pv ON sh.vid = pv.vec_id)
           SELECT qid, vec_id, cosine, rnk FROM (
             SELECT qid, vec_id, cosine,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, vec_id ASC) AS rnk
             FROM s) WHERE rnk <= 10""",

      // MaxSim: per-(qtoken, doc) max of micro-rounded cosines, summed
      // per (qdoc, doc) as exact longs — no float summation order
      "sim_maxsim" ->
        s"""WITH p AS (SELECT vec_id, vec_id // 4 AS doc, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
           q AS (SELECT vec_id AS qid, doc AS qdoc, embedding AS qe, nrm AS qnrm
                 FROM p WHERE doc % 25 = 0 AND doc < 2500),
           s AS (SELECT q.qdoc, q.qid, p.doc,
                   CAST(round(${duckDot("qe", "p.embedding")} / (qnrm * p.nrm)
                              * 1000000) AS BIGINT) AS cm
                 FROM q, p WHERE p.doc <> q.qdoc),
           m AS (SELECT qdoc, qid, doc, max(cm) AS mx FROM s GROUP BY 1, 2, 3),
           d AS (SELECT qdoc, doc, CAST(SUM(mx) AS BIGINT) AS score_micro
                 FROM m GROUP BY 1, 2)
           SELECT qdoc, doc, score_micro, rnk FROM (
             SELECT qdoc, doc, score_micro,
                    row_number() OVER (PARTITION BY qdoc
                                       ORDER BY score_micro DESC, doc ASC) AS rnk
             FROM d) WHERE rnk <= 3""",

      // ANN top-k: candidates = corpus vectors sharing any of the
      // probe's (table, bucket) LSH keys; exact cosine + rank over the
      // candidate set only.
      "sim_topk_ann" ->
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              $buckets AS buckets
            FROM embeddings),
           e AS (SELECT vec_id, unnest(buckets) AS bucket,
                   unnest(range(0, 4)) AS tbl FROM p),
           qe AS (SELECT vec_id AS qid, bucket, tbl FROM e
                  WHERE vec_id % 100 = 0),
           cand AS (SELECT DISTINCT qe.qid, e.vec_id
                    FROM qe JOIN e ON qe.tbl = e.tbl AND qe.bucket = e.bucket
                    WHERE e.vec_id <> qe.qid),
           s AS (SELECT c.qid, c.vec_id,
                   round(${duckDot("pq.embedding", "pv.embedding")} /
                         (pq.nrm * pv.nrm), 6) AS cosine
                 FROM cand c
                 JOIN p pq ON c.qid = pq.vec_id
                 JOIN p pv ON c.vec_id = pv.vec_id)
           SELECT qid, vec_id, cosine, rnk FROM (
             SELECT qid, vec_id, cosine,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, vec_id ASC) AS rnk
             FROM s) WHERE rnk <= 10""",

      // IVF top-k: corpus rows take their rank-1 cell, probes their 3
      // nearest cells; exact cosine + rank over cell-mates only.
      "sim_topk_ivf" ->
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
            FROM embeddings),
           c AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm,
                   row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS cell
                 FROM (SELECT * FROM p ORDER BY h ASC, vec_id ASC LIMIT 16)),
           s AS (SELECT p.vec_id, p.embedding, p.nrm, c.cell,
                   ${duckDot("p.embedding", "c.cv")} / (p.nrm * c.cnrm) AS sim
                 FROM p, c),
           corp AS (SELECT vec_id, embedding, nrm, cell FROM (
                     SELECT vec_id, embedding, nrm, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cell ASC) AS rnk
                     FROM s) WHERE rnk = 1),
           probe AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm, cell FROM (
                     SELECT vec_id, embedding, nrm, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cell ASC) AS rnk
                     FROM s WHERE vec_id % 100 = 0) WHERE rnk <= 3),
           sc AS (SELECT q.qid, t.vec_id,
                    round(${duckDot("q.qe", "t.embedding")} / (q.qnrm * t.nrm), 6) AS cosine
                  FROM probe q JOIN corp t ON q.cell = t.cell AND t.vec_id <> q.qid)
           SELECT qid, vec_id, cosine, rnk FROM (
             SELECT qid, vec_id, cosine,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, vec_id ASC) AS rnk
             FROM sc) WHERE rnk <= 10""",

      // IVFADC: the oracle re-derives both codebooks relationally
      // (hash-ordered 16-row sample; sub-centroid (seg, j) = segment
      // seg of sample j), encodes the corpus via the same
      // |c|² − 2·v_s·c argmin with (score, j) tie-break, builds each
      // query's micro-unit ADC table, sums longs over the 8 codes, and
      // reranks the 40-row shortlist with exact cosines — mirroring
      // topKNeighborsPq stage for stage.
      "sim_pq_topk" -> {
        // dot of vector `v`'s segment `seg` (8 elems, 1-based) with an
        // 8-elem double list `cv`, index-ordered like graft_dot
        def segDot(v: String, seg: String, cv: String): String =
          s"list_sum(list_transform(range(1, 9), i -> CAST($v[$seg * 8 + i] AS DOUBLE) * $cv[i]))"
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
            FROM embeddings),
           sam AS (SELECT row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS j,
                     embedding, nrm
                   FROM (SELECT * FROM p ORDER BY h ASC, vec_id ASC LIMIT 16)),
           cb AS (SELECT j AS cell, embedding AS cv, nrm AS cnrm FROM sam),
           pqcb AS (SELECT segs.seg, sam.j,
                      list_transform(list_slice(sam.embedding, segs.seg * 8 + 1,
                                                segs.seg * 8 + 8),
                                     x -> CAST(x AS DOUBLE)) AS cv
                    FROM sam, (SELECT unnest(range(0, 8)) AS seg) segs),
           pq2 AS (SELECT seg, j, cv,
                     list_sum(list_transform(range(1, 9),
                       i -> cv[i] * cv[i])) AS c2 FROM pqcb),
           enc AS (SELECT vec_id, seg, j AS code FROM (
                     SELECT p.vec_id, q.seg, q.j,
                       row_number() OVER (PARTITION BY p.vec_id, q.seg
                         ORDER BY q.c2 - 2 * ${segDot("p.embedding", "q.seg", "q.cv")} ASC,
                                  q.j ASC) AS rnk
                     FROM p, pq2 q) WHERE rnk = 1),
           cs AS (SELECT p.vec_id, c.cell,
                    ${duckDot("p.embedding", "c.cv")} / (p.nrm * c.cnrm) AS sim
                  FROM p, cb c),
           corp AS (SELECT vec_id, cell FROM (
                      SELECT vec_id, cell,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cell ASC) AS rnk
                      FROM cs) WHERE rnk = 1),
           qs AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm FROM p
                  WHERE vec_id % 100 = 0),
           pr AS (SELECT qid, cell FROM (
                    SELECT vec_id AS qid, cell,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cell ASC) AS rnk
                    FROM cs WHERE vec_id % 100 = 0) WHERE rnk <= 2),
           qt AS (SELECT q.qid, pq.seg, pq.j,
                    CAST(round(${segDot("q.qe", "pq.seg", "pq.cv")} * 1000000) AS BIGINT) AS w
                  FROM qs q, pq2 pq),
           cand AS (SELECT pr.qid, corp.vec_id
                    FROM pr JOIN corp ON pr.cell = corp.cell
                    WHERE corp.vec_id <> pr.qid),
           adc AS (SELECT c.qid, c.vec_id, sum(qt.w) AS score
                   FROM cand c
                   JOIN enc e ON e.vec_id = c.vec_id
                   JOIN qt ON qt.qid = c.qid AND qt.seg = e.seg AND qt.j = e.code
                   GROUP BY c.qid, c.vec_id),
           short AS (SELECT qid, vec_id FROM (
                       SELECT qid, vec_id,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY score DESC, vec_id ASC) AS rnk
                       FROM adc) WHERE rnk <= 40),
           sc AS (SELECT s.qid, s.vec_id,
                    round(${duckDot("q.qe", "t.embedding")} / (q.qnrm * t.nrm), 6) AS cosine
                  FROM short s
                  JOIN qs q ON q.qid = s.qid
                  JOIN p t ON t.vec_id = s.vec_id)
           SELECT qid, vec_id, cosine, rnk FROM (
             SELECT qid, vec_id, cosine,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, vec_id ASC) AS rnk
             FROM sc) WHERE rnk <= 10"""
      },

      // two-stage rerank: LSH candidates, int8 coarse scores (exact
      // integer dots in double), 40-row shortlist per probe, exact
      // float rerank. Coarse score8 is deliberately UNROUNDED — it is
      // bit-identical across engines, and only its ORDER matters.
      "sim_rerank" ->
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              $buckets AS buckets
            FROM embeddings),
           e AS (SELECT vec_id, unnest(buckets) AS bucket,
                   unnest(range(0, 4)) AS tbl FROM p),
           qe AS (SELECT vec_id AS qid, bucket, tbl FROM e
                  WHERE vec_id % 100 = 0),
           cand AS (SELECT DISTINCT qe.qid, e.vec_id
                    FROM qe JOIN e ON qe.tbl = e.tbl AND qe.bucket = e.bucket
                    WHERE e.vec_id <> qe.qid),
           q0 AS (SELECT vec_id, embedding AS raw,
                    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
                  FROM embeddings),
           qq AS (SELECT vec_id,
                    list_transform(raw, x -> CAST(least(greatest(
                        round(CAST(x AS DOUBLE) *
                              (CASE WHEN amax = 0 THEN 1.0 ELSE 127.0 / amax END)),
                        -127.0), 127.0) AS INT)) AS q8
                  FROM q0),
           n8 AS (SELECT vec_id, q8, sqrt(${duckDot("q8", "q8")}) AS n8 FROM qq),
           coarse AS (SELECT c.qid, c.vec_id,
                        ${duckDot("a.q8", "b.q8")} / (a.n8 * b.n8) AS score8
                      FROM cand c JOIN n8 a ON c.qid = a.vec_id
                                  JOIN n8 b ON c.vec_id = b.vec_id),
           short AS (SELECT qid, vec_id FROM (
                       SELECT qid, vec_id,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY score8 DESC, vec_id ASC) AS crnk
                       FROM coarse) WHERE crnk <= 40),
           ex AS (SELECT s.qid, s.vec_id,
                    round(${duckDot("pq.embedding", "pv.embedding")} /
                          (pq.nrm * pv.nrm), 6) AS cosine
                  FROM short s JOIN p pq ON s.qid = pq.vec_id
                               JOIN p pv ON s.vec_id = pv.vec_id)
           SELECT qid, vec_id, cosine, rnk FROM (
             SELECT qid, vec_id, cosine,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, vec_id ASC) AS rnk
             FROM ex) WHERE rnk <= 10""",

      "sim_ann_lsh" ->
        s"""WITH $adaptiveBitsCtes,
           p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              $bucketsAdaptive AS buckets
            FROM embeddings, bt),
           e AS (SELECT vec_id, embedding, nrm,
                   unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p)
           SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
           FROM e a JOIN e b
             ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           WHERE $pairCos >= 0.4""",

      // occupancy-adaptive band bits: the smallest b in [4, 24] with
      // (n >> b) <= 16 — the exact integer ladder of
      // VectorOps.adaptiveBits, so bits (and buckets) match Spark's
      // at every corpus size
      "sim_ann_projected" ->
        s"""WITH nb AS (SELECT count(*) AS n FROM embeddings),
           bt AS (SELECT COALESCE(MIN(CAST(r.b AS INT)), 24) AS bits
                  FROM range(4, 25) r(b), nb
                  WHERE (nb.n >> CAST(r.b AS INT)) <= 16),
           p0 AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              $projList AS proj
            FROM embeddings),
           p AS (SELECT vec_id, embedding, nrm,
                   [${(0 until 4).map(projBucketAdaptive).mkString(", ")}]
                     AS buckets
                 FROM p0, bt),
           e AS (SELECT vec_id, embedding, nrm,
                   unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p)
           SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
           FROM e a JOIN e b
             ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           WHERE $pairCos >= 0.4""",

      "sim_ann_proj_capped" ->
        s"""WITH nb AS (SELECT count(*) AS n FROM embeddings),
           bt AS (SELECT COALESCE(MIN(CAST(r.b AS INT)), 24) AS bits
                  FROM range(4, 25) r(b), nb
                  WHERE (nb.n >> CAST(r.b AS INT)) <= 16),
           p0 AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              $projList AS proj
            FROM embeddings),
           p AS (SELECT vec_id, embedding, nrm,
                   [${(0 until 4).map(projBucketAdaptive).mkString(", ")}]
                     AS buckets
                 FROM p0, bt),
           e AS (SELECT vec_id, embedding, nrm,
                   unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p),
           ek AS (SELECT vec_id, embedding, nrm, bucket, tbl FROM (
                    SELECT vec_id, embedding, nrm, bucket, tbl,
                           row_number() OVER (PARTITION BY tbl, bucket
                             ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7)
                                           AS BIGINT) ASC,
                                      vec_id ASC) AS rnk
                    FROM e) WHERE rnk <= 32)
           SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
           FROM ek a JOIN ek b
             ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           WHERE $pairCos >= 0.4""",

      // Capped variant: each (table, bucket) keeps only its 32 lowest-
      // ranked members under the portable md5-hash-of-id order.
      "sim_ann_capped" ->
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              $buckets AS buckets
            FROM embeddings),
           e AS (SELECT vec_id, embedding, nrm,
                   unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p),
           ek AS (SELECT vec_id, embedding, nrm, bucket, tbl FROM (
                    SELECT vec_id, embedding, nrm, bucket, tbl,
                           row_number() OVER (PARTITION BY tbl, bucket
                             ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7)
                                           AS BIGINT) ASC,
                                      vec_id ASC) AS rnk
                    FROM e) WHERE rnk <= 32)
           SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
           FROM ek a JOIN ek b
             ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           WHERE $pairCos >= 0.4""",

      // IVF: codebook = 16 smallest-id-hash vectors; each vector joins
      // its 2 nearest cells; candidates share a cell.
      "sim_ivf_pairs" ->
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
            FROM embeddings),
           c AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm,
                   row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS cell
                 FROM (SELECT * FROM p ORDER BY h ASC, vec_id ASC LIMIT 16)),
           s AS (SELECT p.vec_id, p.embedding, p.nrm, c.cell,
                   ${duckDot("p.embedding", "c.cv")} / (p.nrm * c.cnrm) AS sim
                 FROM p, c),
           asn AS (SELECT vec_id, embedding, nrm, cell FROM (
                     SELECT vec_id, embedding, nrm, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cell ASC) AS rnk
                     FROM s) WHERE rnk <= 2)
           SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
           FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE $pairCos >= 0.4""",

      // trained IVF: 2 unrolled Lloyd rounds — rank-1 assignment
      // against the previous codebook, per-(cell, dim) mean quantized
      // to integer micro-units (exact on both engines), empty cells
      // carry forward — then the untrained query's multi-probe tail.
      // Training (init + Lloyd) reads only the 25% hash-mod sample
      // `pt`; the final assignment covers the full corpus `p`.
      "sim_ivf_trained" ->
        s"""WITH $duckTrainedCbCtes,
           s AS (SELECT p.vec_id, p.embedding, p.nrm, k.cell,
                   ${duckDot("p.embedding", "k.cv")} / (p.nrm * k.cnrm) AS sim
                 FROM p, cb2 k),
           asn AS (SELECT vec_id, embedding, nrm, cell FROM (
                     SELECT vec_id, embedding, nrm, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cell ASC) AS rnk
                     FROM s) WHERE rnk <= 2)
           SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
           FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE $pairCos >= 0.4""",

      // k-means cluster assignment: identical training CTEs, rank-1
      // cell + cosine to the assigned centroid
      "vec_kmeans_assign" ->
        s"""WITH $duckTrainedCbCtes,
           s AS (SELECT p.vec_id, k.cell,
                   ${duckDot("p.embedding", "k.cv")} / (p.nrm * k.cnrm) AS sim
                 FROM p, cb2 k)
           SELECT vec_id, cell, round(sim, 6) AS sim FROM (
             SELECT vec_id, cell, sim,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY sim DESC, cell ASC) AS rnk
             FROM s) WHERE rnk = 1""",

      // int8 ANN: quantize exactly as vec_quantize does, then run the
      // sim_ann_lsh pipeline over the quantized ints (the bucket/pairCos
      // fragments reference a column named `embedding`, which the qq
      // CTE provides). Int dots are exact in double, so the hash check
      // is bit-for-bit like the float path.
      "sim_ann_int8" ->
        s"""WITH $adaptiveBitsCtes,
           q0 AS (SELECT vec_id, embedding AS raw,
              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
            FROM embeddings),
           qq AS (SELECT vec_id,
              list_transform(raw, x -> CAST(least(greatest(
                  round(CAST(x AS DOUBLE) *
                        (CASE WHEN amax = 0 THEN 1.0 ELSE 127.0 / amax END)),
                  -127.0), 127.0) AS INT)) AS embedding
            FROM q0),
           p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              $bucketsAdaptive AS buckets
            FROM qq, bt),
           e AS (SELECT vec_id, embedding, nrm,
                   unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p)
           SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2, $pairCos AS cosine
           FROM e a JOIN e b
             ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           WHERE $pairCos >= 0.4""",

      // power iteration: three unrolled y = Xᵀ(Xv) rounds. Per-row
      // contributions quantize to micro BEFORE the cross-row sum (the
      // only sums crossing rows are integer), the dot runs in list
      // index order, and renormalization is fixed IEEE ops on exact
      // longs — bit-exact per round, so three rounds stay bit-exact.
      "vec_power_iter" -> {
        def rnd(i: Int, prevV: String): String =
          s"""s$i AS (SELECT e.vec_id,
                   list_sum(list_transform(range(1, 65),
                     k -> CAST(e.embedding[k] AS DOUBLE) * ($prevV.vm[k] / 1000000.0))) AS s
                 FROM embeddings e, $prevV),
             y$i AS (SELECT ex.pos,
                   CAST(sum(CAST(round((CAST(ex.x AS DOUBLE) * s$i.s) * 1000000)
                        AS BIGINT)) AS BIGINT) AS y
                 FROM ex JOIN s$i USING (vec_id) GROUP BY ex.pos),
             m$i AS (SELECT max(abs(y)) AS m FROM y$i),
             v$i AS (SELECT list(CAST(CASE WHEN m$i.m = 0 THEN 0
                          ELSE round(CAST(y AS DOUBLE) / m$i.m * 1000000) END
                        AS BIGINT) ORDER BY pos) AS vm FROM y$i, m$i)"""
        s"""WITH ex AS (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) - 1 AS pos
                        FROM embeddings),
           v0 AS (SELECT list_transform(range(0, 64),
                    i -> CAST(1000000 AS BIGINT)) AS vm),
           ${rnd(1, "v0")},
           ${rnd(2, "v1")},
           ${rnd(3, "v2")}
           SELECT pos, y AS y_micro,
                  CAST(CASE WHEN m3.m = 0 THEN 0
                       ELSE round(CAST(y AS DOUBLE) / m3.m * 1000000) END
                    AS BIGINT) AS v_micro
           FROM y3, m3"""
      },

      // centroids: same distribute-over-dimensions aggregation; CSV of
      // integer micro-units sidesteps double→string format divergence
      "vec_centroids" ->
        """WITH ex AS (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS pos
                       FROM embeddings),
           c AS (SELECT label, pos, avg(CAST(v AS DOUBLE)) AS cv, count(*) AS n
                 FROM ex GROUP BY 1, 2)
           SELECT label, min(n) AS n_vecs,
                  array_to_string(list(CAST(round(cv * 1000000) AS BIGINT)
                                       ORDER BY pos), ',') AS centroid
           FROM c GROUP BY label""",

      // embedding-space near-dup prune: LSH candidate pairs at 0.45,
      // recursive reachability for components, min-id survivor
      "cur_embed_prune" ->
        s"""WITH RECURSIVE $adaptiveBitsCtes,
           p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              $bucketsAdaptive AS buckets
            FROM embeddings, bt),
           e AS (SELECT vec_id, embedding, nrm,
                   unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p),
           ek AS (SELECT vec_id, embedding, nrm, bucket, tbl FROM (
                    SELECT vec_id, embedding, nrm, bucket, tbl,
                           row_number() OVER (PARTITION BY tbl, bucket
                             ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7)
                                           AS BIGINT) ASC,
                                      vec_id ASC) AS rnk
                    FROM e) WHERE rnk <= 32),
           pairs AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
                     FROM ek a JOIN ek b
                       ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
                     WHERE $pairCos >= 0.45),
           edges AS (SELECT v1 AS a, v2 AS b FROM pairs
                     UNION SELECT v2, v1 FROM pairs),
           nodes AS (SELECT DISTINCT a AS node FROM edges),
           reach(node, r) AS (
             SELECT node, node FROM nodes
             UNION
             SELECT e2.a, reach.r FROM edges e2 JOIN reach ON e2.b = reach.node),
           losers AS (SELECT node FROM reach GROUP BY node HAVING node <> min(r))
           SELECT vec_id, label FROM embeddings
           WHERE vec_id NOT IN (SELECT node FROM losers)""",

      // incremental ANN dedup: candidates only where a new (%10=0)
      // vector shares a (table, bucket) with an existing one; exact
      // cosine gates; dup_of = min qualifying existing id
      "sim_incremental" ->
        s"""WITH p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              $buckets AS buckets
            FROM embeddings),
           e AS (SELECT vec_id, nrm,
                   unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p),
           cand AS (SELECT DISTINCT n.vec_id AS nid, x.vec_id AS xid
                    FROM e n JOIN e x ON n.tbl = x.tbl AND n.bucket = x.bucket
                    WHERE n.vec_id % 10 = 0 AND x.vec_id % 10 <> 0),
           sc AS (SELECT c.nid, c.xid
                  FROM cand c
                  JOIN p a ON a.vec_id = c.nid
                  JOIN p b ON b.vec_id = c.xid
                  WHERE round(${duckDot("a.embedding", "b.embedding")}
                              / (a.nrm * b.nrm), 6) >= 0.45),
           m AS (SELECT nid, min(xid) AS dup_of FROM sc GROUP BY nid)
           SELECT v.vec_id, m.dup_of, (m.dup_of IS NULL) AS is_kept
           FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) v
           LEFT JOIN m ON v.vec_id = m.nid""",

      // Maintained-postings ANN: the oracle replays the SOURCE
      // MUTATIONS (negate embeddings of corpus vec_id % 7 = 1, drop
      // % 5 = 3), then the sim_incremental structure over that state.
      "sim_maintained_index" ->
        s"""WITH base AS (SELECT vec_id,
              CASE WHEN vec_id % 10 <> 0 AND vec_id % 7 = 1
                   THEN list_transform(embedding, x -> -x)
                   ELSE embedding END AS embedding
            FROM embeddings
            WHERE vec_id % 10 = 0 OR vec_id % 5 <> 3),
           p AS (SELECT vec_id, embedding,
              sqrt(${duckDot("embedding", "embedding")}) AS nrm,
              $buckets AS buckets
            FROM base),
           e AS (SELECT vec_id, nrm,
                   unnest(buckets) AS bucket, unnest(range(0, 4)) AS tbl FROM p),
           cand AS (SELECT DISTINCT n.vec_id AS nid, x.vec_id AS xid
                    FROM e n JOIN e x ON n.tbl = x.tbl AND n.bucket = x.bucket
                    WHERE n.vec_id % 10 = 0 AND x.vec_id % 10 <> 0),
           sc AS (SELECT c.nid, c.xid
                  FROM cand c
                  JOIN p a ON a.vec_id = c.nid
                  JOIN p b ON b.vec_id = c.xid
                  WHERE round(${duckDot("a.embedding", "b.embedding")}
                              / (a.nrm * b.nrm), 6) >= 0.45),
           m AS (SELECT nid, min(xid) AS dup_of FROM sc GROUP BY nid)
           SELECT v.vec_id, m.dup_of, (m.dup_of IS NULL) AS is_kept
           FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) v
           LEFT JOIN m ON v.vec_id = m.nid""",

      // int8 quantization: scale rounded for display only; the
      // quantized values use the unrounded scale on both engines.
      // qvec is CSV-serialized on both sides (portable-comparator rule).
      "vec_quantize" ->
        """WITH a AS (SELECT vec_id, embedding,
              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
            FROM embeddings),
           s AS (SELECT vec_id, embedding,
              CASE WHEN amax = 0 THEN 1.0 ELSE 127.0 / amax END AS sc FROM a)
           SELECT vec_id, round(sc, 6) AS scale,
              array_to_string(list_transform(embedding,
                x -> CAST(least(greatest(round(CAST(x AS DOUBLE) * sc), -127.0), 127.0)
                          AS INT)), ',') AS qvec
           FROM s""",

      // ±1 random projection: the sign matrix regenerates from
      // (seed=101, j, i) md5 parity — same arithmetic as planeSign
      "vec_project" ->
        """SELECT vec_id, j,
             round(list_sum(list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE) *
                    (CASE WHEN CAST('0x' || substr(md5(
                              '101_' || CAST(j AS VARCHAR) || '_' ||
                              CAST(i - 1 AS VARCHAR)), 1, 7)
                          AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END))), 6) AS comp
           FROM embeddings, (SELECT unnest(range(0, 8)) AS j)""",

      // z-score standardization: micro-unit moments (round(avg·1e6))
      // make μ/σ integer-derived on both engines; σ=0 dims emit z=0
      // via the σ→1 substitution; z itself ships as round(z·1e4) ints
      "vec_standardize" ->
        """WITH ex AS (SELECT vec_id, CAST(v AS DOUBLE) AS x, pos
                       FROM (SELECT vec_id, unnest(embedding) AS v,
                               generate_subscripts(embedding, 1) AS pos
                             FROM embeddings)),
           st AS (SELECT pos,
                    CAST(round(avg(x) * 1000000) AS BIGINT) AS mu6,
                    CAST(round(avg(x * x) * 1000000) AS BIGINT) AS m26
                  FROM ex GROUP BY pos),
           sg AS (SELECT pos, mu6 / 1000000.0 AS mu,
                    CASE WHEN sqrt(greatest(
                             m26 / 1000000.0
                             - (mu6 / 1000000.0) * (mu6 / 1000000.0), 0)) = 0
                         THEN 1.0
                         ELSE sqrt(greatest(
                             m26 / 1000000.0
                             - (mu6 / 1000000.0) * (mu6 / 1000000.0), 0)) END AS sigma
                  FROM st)
           SELECT ex.vec_id,
                  array_to_string(list(
                    CAST(CAST(round((ex.x - sg.mu) / sg.sigma * 10000) AS BIGINT)
                         AS VARCHAR) ORDER BY ex.pos), ',') AS zvec
           FROM ex JOIN sg USING (pos) GROUP BY ex.vec_id"""
    )
  }

  /** Dedup extensions over `documents` (north star): exact normalized
    * content dedup, MinHash+LSH near-dup candidates, SimHash
    * fingerprints, exact n-gram Jaccard pairs. See
    * [[graft.operators.DedupOps]] for the scale rationale.
    */
  private def dedupQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.operators.DedupOps._
    Map(
      "dd_exact" -> ((s, dir) =>
        exactDedupSummary(Tables.documents(s, dir), "doc_id", "text")),
      "dd_minhash_lsh" -> ((s, dir) =>
        lshCandidatePairs(Tables.documents(s, dir), "doc_id", "text")),
      // Capped twin (X-D18, r19): per-(band, key) deterministic rank
      // cap bounds a k-dup bucket at cap² candidates — the scale
      // spelling a boilerplate-heavy crawl composes (the text twin of
      // sim_ann_capped's guard)
      "dd_lsh_capped" -> ((s, dir) =>
        lshCandidatePairsCapped(Tables.documents(s, dir), "doc_id", "text",
          bucketCap = 32)),
      // Star twin (r19): cap + one edge from every over-cap member to
      // its bucket's rank-1 member — bounded like the cap (cap²/2 +
      // k−cap per bucket), but the keep-one election collapses the
      // WHOLE dup group; output always ⊆ the uncapped candidates.
      "dd_lsh_star" -> ((s, dir) =>
        lshCandidatePairsCappedStar(Tables.documents(s, dir), "doc_id", "text",
          bucketCap = 32)),
      "dd_simhash" -> ((s, dir) =>
        spread(Tables.documents(s, dir))
          .select(col("doc_id"), simhash(col("text")).as("simhash"))),
      // Hamming-banded simhash pairs: EXACT near-dup detection at
      // hamming <= 3 (pigeonhole over 4 chunks of 7 bits — complete
      // candidates, no recall loss)
      "dd_simhash_pairs" -> ((s, dir) =>
        simhashPairs(Tables.documents(s, dir), "doc_id", "text")),
      "dd_ngram_jaccard" -> ((s, dir) =>
        ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.5)),
      "dd_ngram_capped" -> ((s, dir) =>
        ngramJaccardPairsCapped(Tables.documents(s, dir), "doc_id", "text",
          minJaccard = 0.5, dfCap = 25)),
      // Incremental corpus-delta dedup: docs with doc_id % 10 = 0 play
      // the incoming ingest batch, the rest the existing corpus; each
      // incoming doc is kept iff it shares no MinHash band key with the
      // corpus's band index (the production path persists that index).
      "dd_incremental" -> ((s, dir) => {
        val docs = Tables.documents(s, dir)
        val isNew = col("doc_id") % 10 === 0
        incrementalDedup(
          bandIndex(docs.filter(!isNew), "doc_id", "text"),
          docs.filter(isNew), "doc_id", "text")
      }),
      // Substring-level duplicate-span profile (Lee et al. ACL'22):
      // per doc, how many of its distinct 8-token windows occur in
      // >= 2 documents corpus-wide. Span df is a window count on the
      // span hash's own exchange — no pair join, no k^2 fan-out.
      "dd_span_dups" -> ((s, dir) =>
        dupSpans(Tables.documents(s, dir), "doc_id", "text",
          window = 8, minDocs = 2)),
      // X-D17 end to end (r19): same incremental-dedup ANSWER, but the
      // index is the CDF-MAINTAINED lakehouse table after an insert, a
      // COW text update and a DV delete on the source corpus — the
      // production loop (ingest mutates the corpus, maintainIndexInto
      // keeps the index fresh, dedup answers through it) under the
      // DuckDB oracle.
      "dd_maintained_index" -> ((s, dir) => {
        val wh = ensureDocIndex(s, dir)
        val index = graft.sources.TxnLog.read(s, s"$wh/db/docsix")
        incrementalDedup(index,
          Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
          "doc_id", "text")
      }),
      // X-D19 (r19): the REMOVAL half of Lee et al. — rewrite every
      // doc dropping the tokens covered by any cross-corpus duplicated
      // 8-token window (adjacent windows merge into maximal spans via
      // the native linear-sweep graft_drop_spans). Same no-pair-join
      // shape as the profile; the rewrite rides the doc-id join.
      "dd_span_rewrite" -> ((s, dir) =>
        dropDupSpans(Tables.documents(s, dir), "doc_id", "text",
          window = 8, minDocs = 2)),
      // Span-profile for an ingest batch against the persisted span
      // index (docs with doc_id % 10 = 0 play the batch): duplication
      // vs the EXISTING corpus only, cost independent of corpus size.
      "dd_span_incremental" -> ((s, dir) => {
        val docs = Tables.documents(s, dir)
        val isNew = col("doc_id") % 10 === 0
        incrementalSpanProfile(
          spanIndex(docs.filter(!isNew), "doc_id", "text"),
          docs.filter(isNew), "doc_id", "text")
      }),
      // Fuzzy dedup's last mile: candidate pairs -> connected
      // components -> min-id survivor election (GraphOps).
      "dd_cluster_keep_first" -> ((s, dir) =>
        graft.operators.GraphOps.dedupClusters(
          lshCandidatePairs(Tables.documents(s, dir), "doc_id", "text"))),
      // PageRank over the customer -> order -> supplier link graph
      // (node ids prefix-spaced by role), 3 unrolled power-iteration
      // rounds in integer micro-units — the crawl-prioritization /
      // quality-weighting kernel of web-scale curation (GraphOps).
      "gr_pagerank" -> ((s, dir) => {
        val edges = Tables.orders(s, dir)
          .select((col("o_custkey") * 3).as("src"),
            (col("o_orderkey") * 3 + 1).as("dst"))
          .unionByName(Tables.lineitem(s, dir)
            .select((col("l_orderkey") * 3 + 1).as("src"),
              (col("l_suppkey") * 3 + 2).as("dst")))
        graft.operators.GraphOps.pageRank(edges, "src", "dst")
      }),
      // End-to-end curation composition: quality-score -> language +
      // quality filter -> exact-dedup keep-first -> deterministic
      // hash-mod sample. One declarative plan; Catalyst fuses the
      // scalar stages into the scan projection.
      "cur_pipeline" -> ((s, dir) => {
        import graft.functions.TextFunctions.qualityScore
        val scored = spread(Tables.documents(s, dir)).select(
          col("doc_id"), col("lang"), col("text"),
          round(qualityScore(col("text")), 6).as("quality"))
        val filtered = scored.filter(col("lang") === "en" && col("quality") >= 0.4)
        val deduped = dedupFirst(
          filtered.withColumn("content_key", md5(normalizeText(col("text")))),
          Seq("content_key"), Seq(col("doc_id").asc))
        graft.operators.CorpusOps.hashModSample(deduped, col("doc_id"), pct = 50)
          .select(col("doc_id"), col("lang"), col("quality"))
      }),
      // Full fuzzy-dedup prune: CAPPED LSH candidates -> components ->
      // drop every non-survivor; docs with no near-dup pass through.
      // r19: composes lshCandidatePairsCapped (per-(band,key) rank cap
      // 32) — the uncapped stage is k² per dup group on a boilerplate-
      // heavy crawl (the r18 sf100 vector receipt measured 52×/decade
      // for that shape); recall loss is confined to over-full buckets,
      // whose members are near-dups of each other, and the component
      // merge reunites survivors.
      "cur_neardup_prune" -> ((s, dir) => {
        val docs = Tables.documents(s, dir)
        // r19 (cont.): the STAR spelling — cap 32 bounds bucket work,
        // the star edges keep the election COMPLETE (over-cap dup-
        // group members still merge the component instead of escaping
        // the prune); candidates remain ⊆ the uncapped spelling's
        val losers = graft.operators.GraphOps.dedupClusters(
          lshCandidatePairsCappedStar(docs, "doc_id", "text", bucketCap = 32))
          .filter(!col("is_kept")).select(col("doc_id"))
        docs.join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"))
      })
    )
  }

  /** Shared DuckDB CTE fragments mirroring DedupOps's portable hash
    * pipeline: tokens → shingles (whole-doc fallback under 3 tokens) →
    * 28-bit md5-prefix hashes → 16 affine-permutation minima.
    */
  private val duckShingleCtes =
    """t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             FROM documents),
       sh AS (SELECT doc_id,
                CASE WHEN len(toks) >= 3
                     THEN list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                     ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
              FROM t),
       hs AS (SELECT doc_id,
                list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 7) AS BIGINT)) AS hs
              FROM sh),
       sig AS (SELECT doc_id,
                 list_transform(range(0, 16),
                   j -> list_min(list_transform(hs,
                          h -> ((1000003 + j*7919) * h + 12345 + j*104729) % 2147483647))) AS sig
               FROM hs)"""

  private def dedupOracle: Map[String, String] = Map(
    "dd_exact" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                        ' +', ' ', 'g'))) AS content_key,
         min(doc_id) AS kept_id, count(*) AS n_copies
         FROM documents GROUP BY 1""",

    "dd_minhash_lsh" ->
      s"""WITH $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys)
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           round(CAST(list_sum(list_transform(range(1, 17),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16, 4)
             AS sig_agree
         FROM k2 a JOIN k2 b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""",

    // Capped twin: each (band, bkey) bucket keeps only its 32 lowest-
    // ranked members under the portable md5-hash-of-id order (the
    // sim_ann_capped replay, on the text banding).
    "dd_lsh_capped" ->
      s"""WITH $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         k3 AS (SELECT doc_id, sig, band, bkey FROM (
                  SELECT doc_id, sig, band, bkey,
                         row_number() OVER (PARTITION BY band, bkey
                           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                                         AS BIGINT) ASC,
                                    doc_id ASC) AS rnk
                  FROM k2) WHERE rnk <= 32)
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           round(CAST(list_sum(list_transform(range(1, 17),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16, 4)
             AS sig_agree
         FROM k3 a JOIN k3 b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""",

    // Star twin: in-cap all-pairs UNION one pair per over-cap member
    // to its bucket's rank-1 member (least/greatest normalizes order).
    "dd_lsh_star" ->
      s"""WITH $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         kr AS (SELECT doc_id, sig, band, bkey,
                  row_number() OVER (PARTITION BY band, bkey
                    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                                  AS BIGINT) ASC,
                             doc_id ASC) AS rnk
                FROM k2),
         agr AS (SELECT least(a.doc_id, b.doc_id) AS d1,
                        greatest(a.doc_id, b.doc_id) AS d2,
                        round(CAST(list_sum(list_transform(range(1, 17),
                          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                          AS DOUBLE) / 16, 4) AS sig_agree
                 FROM kr a JOIN kr b
                   ON a.band = b.band AND a.bkey = b.bkey
                  AND ((a.rnk <= 32 AND b.rnk <= 32 AND a.doc_id < b.doc_id)
                       OR (a.rnk > 32 AND b.rnk = 1)))
         SELECT DISTINCT d1, d2, sig_agree FROM agr""",

    // Incremental dedup: same banding as dd_minhash_lsh; incoming =
    // doc_id % 10 = 0, existing = the rest; dup_of = min colliding
    // existing id (NULL → kept).
    "dd_incremental" ->
      s"""WITH $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         inc AS (SELECT doc_id, band, bkey FROM k2 WHERE doc_id % 10 = 0),
         ex AS (SELECT doc_id, band, bkey FROM k2 WHERE doc_id % 10 <> 0)
         SELECT i.doc_id, min(e.doc_id) AS dup_of,
                (min(e.doc_id) IS NULL) AS is_kept
         FROM inc i LEFT JOIN ex e ON i.band = e.band AND i.bkey = e.bkey
         GROUP BY i.doc_id""",

    "dd_simhash" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         h AS (SELECT doc_id,
                 list_transform(toks, tk -> CAST('0x' || substr(md5(tk), 1, 7) AS BIGINT)) AS hs
               FROM t)
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 28),
             b -> CASE WHEN list_sum(list_transform(hs, x -> ((x >> b) & 1) * 2 - 1)) > 0
                       THEN 1 << b ELSE 0 END)) AS BIGINT) AS simhash
         FROM h""",

    // same fingerprint CTE, then 4×7-bit chunk banding + hamming <= 3
    "dd_simhash_pairs" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         h AS (SELECT doc_id,
                 list_transform(toks, tk -> CAST('0x' || substr(md5(tk), 1, 7) AS BIGINT)) AS hs
               FROM t),
         f AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(0, 28),
                   b -> CASE WHEN list_sum(list_transform(hs, x -> ((x >> b) & 1) * 2 - 1)) > 0
                             THEN 1 << b ELSE 0 END)) AS BIGINT) AS sh
               FROM h),
         k AS (SELECT doc_id, sh, unnest(range(0, 4)) AS band FROM f),
         k2 AS (SELECT doc_id, sh, band, (sh >> (band * 7)) & 127 AS chunk FROM k)
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         FROM k2 a JOIN k2 b
           ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3""",

    "dd_ngram_jaccard" ->
      s"""WITH $duckShingleCtes,
         ds AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh),
         cnt AS (SELECT doc_id, len(sh) AS n FROM ds),
         ex AS (SELECT doc_id, unnest(sh) AS s FROM ds),
         common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT d1, d2, round(CAST(c AS DOUBLE) / (n1.n + n2.n - c), 6) AS jaccard
         FROM common
         JOIN cnt n1 ON d1 = n1.doc_id
         JOIN cnt n2 ON d2 = n2.doc_id
         WHERE round(CAST(c AS DOUBLE) / (n1.n + n2.n - c), 6) >= 0.5""",

    // Capped variant: shingles with document frequency above 25 are
    // dropped BEFORE the pair join (df = 1 shingles too — they cannot
    // form a pair); set sizes n still count full shingle sets. Join
    // key is the portable 56-bit md5 prefix of the shingle (fixed-
    // width longs through every shuffle/sort).
    "dd_ngram_capped" ->
      s"""WITH $duckShingleCtes,
         ds AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh),
         cnt AS (SELECT doc_id, len(sh) AS n FROM ds),
         ex AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(sh)), 1, 14) AS BIGINT) AS s
                FROM ds),
         exk AS (SELECT doc_id, s FROM (
                   SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM ex)
                 WHERE df BETWEEN 2 AND 25),
         common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                    FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT d1, d2, round(CAST(c AS DOUBLE) / (n1.n + n2.n - c), 6) AS jaccard
         FROM common
         JOIN cnt n1 ON d1 = n1.doc_id
         JOIN cnt n2 ON d2 = n2.doc_id
         WHERE round(CAST(c AS DOUBLE) / (n1.n + n2.n - c), 6) >= 0.5""",

    // Duplicate-span profile: distinct 8-token windows per doc, span
    // document-frequency as a window count over the 56-bit span hash,
    // per-doc rollup with the duplicated fraction in floored micro.
    "dd_span_dups" ->
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sp AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 8
                       THEN list_transform(range(1, len(toks) - 6),
                              i -> array_to_string(list_slice(toks, i, i + 7), ' '))
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS spans
                FROM t),
         ds AS (SELECT doc_id, unnest(list_distinct(spans)) AS s FROM sp),
         h AS (SELECT doc_id,
                 CAST('0x' || substr(md5(s), 1, 14) AS BIGINT) AS hs
               FROM ds),
         d AS (SELECT doc_id, count(*) OVER (PARTITION BY hs) AS df FROM h)
         SELECT doc_id, count(*) AS n_spans,
                count(CASE WHEN df >= 2 THEN 1 END) AS n_dup_spans,
                (count(CASE WHEN df >= 2 THEN 1 END) * 1000000) // count(*)
                  AS dup_micro
         FROM d GROUP BY doc_id""",

    // Maintained-index dedup: the oracle replays the SOURCE MUTATIONS
    // (COW text update on doc_id % 7 = 1, delete of % 5 = 3) on the
    // existing corpus, then the standard banding — the maintained
    // index must serve exactly that corpus state.
    "dd_maintained_index" ->
      """WITH uni AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 7 = 1 THEN text || ' updated twice over'
                       ELSE text END AS text,
                  0 AS inc
           FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 5 <> 3
           UNION ALL
           SELECT doc_id, text, 1 AS inc FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id, inc,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM uni),
         sh AS (SELECT doc_id, inc,
                  CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
                FROM t),
         hs AS (SELECT doc_id, inc,
                  list_transform(shingles,
                    s -> CAST('0x' || substr(md5(s), 1, 7) AS BIGINT)) AS hs
                FROM sh),
         sig AS (SELECT doc_id, inc,
                   list_transform(range(0, 16),
                     j -> list_min(list_transform(hs,
                            h -> ((1000003 + j*7919) * h + 12345 + j*104729)
                                 % 2147483647))) AS sig
                 FROM hs),
         keys AS (SELECT doc_id, inc, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, inc, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         i AS (SELECT doc_id, band, bkey FROM k2 WHERE inc = 1),
         e AS (SELECT doc_id, band, bkey FROM k2 WHERE inc = 0)
         SELECT i.doc_id, min(e.doc_id) AS dup_of,
                (min(e.doc_id) IS NULL) AS is_kept
         FROM i LEFT JOIN e ON i.band = e.band AND i.bkey = e.bkey
         GROUP BY i.doc_id""",

    // Exact-substring rewrite: positions keep every occurrence (an
    // intra-doc repeat of a cross-doc span is covered at BOTH
    // positions), df counts per-doc-distinct spans, and the kept
    // tokens are the complement of the merged [p, p+8) covers.
    "dd_span_rewrite" ->
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sp AS (SELECT doc_id, toks,
                  CASE WHEN len(toks) >= 8
                       THEN list_transform(range(1, len(toks) - 6),
                              i -> array_to_string(list_slice(toks, i, i + 7), ' '))
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS spans
                FROM t),
         pos AS (SELECT doc_id, unnest(spans) AS s,
                   generate_subscripts(spans, 1) - 1 AS p
                 FROM sp),
         h AS (SELECT doc_id, p,
                 CAST('0x' || substr(md5(s), 1, 14) AS BIGINT) AS hs
               FROM pos),
         df AS (SELECT hs, count(*) AS df FROM (
                  SELECT DISTINCT doc_id, hs FROM h) GROUP BY hs),
         dup AS (SELECT doc_id, list(p ORDER BY p) AS starts
                 FROM h JOIN df USING (hs) WHERE df.df >= 2
                 GROUP BY doc_id),
         r AS (SELECT t.doc_id, t.toks,
                 coalesce(d.starts, []) AS starts
               FROM t LEFT JOIN dup d USING (doc_id)),
         k AS (SELECT doc_id, toks,
                 list_filter(range(1, len(toks) + 1),
                   i -> len(list_filter(starts,
                          p -> p <= i - 1 AND i - 1 < p + 8)) = 0) AS keep
               FROM r)
         SELECT doc_id,
                coalesce(array_to_string(list_transform(keep, i -> toks[i]), ' '), '')
                  AS text_clean,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(toks) - len(keep) AS BIGINT) AS n_dropped
         FROM k""",

    // Incremental span profile: corpus spans (doc_id % 10 <> 0) build
    // the df index; batch docs (doc_id % 10 = 0) count a span dup iff
    // corpus df + 1 (self) reaches the threshold.
    "dd_span_incremental" ->
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         sp AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 8
                       THEN list_transform(range(1, len(toks) - 6),
                              i -> array_to_string(list_slice(toks, i, i + 7), ' '))
                       ELSE [coalesce(array_to_string(toks, ' '), '')] END AS spans
                FROM t),
         ds AS (SELECT doc_id,
                  CAST('0x' || substr(md5(unnest(list_distinct(spans))), 1, 14)
                       AS BIGINT) AS hs
                FROM sp),
         idx AS (SELECT hs, count(*) AS df FROM ds
                 WHERE doc_id % 10 <> 0 GROUP BY hs),
         inc AS (SELECT ds.doc_id, COALESCE(idx.df, 0) AS df
                 FROM ds LEFT JOIN idx USING (hs)
                 WHERE ds.doc_id % 10 = 0)
         SELECT doc_id, count(*) AS n_spans,
                count(CASE WHEN df + 1 >= 2 THEN 1 END) AS n_dup_spans,
                (count(CASE WHEN df + 1 >= 2 THEN 1 END) * 1000000) // count(*)
                  AS dup_micro
         FROM inc GROUP BY doc_id""",

    // Three PageRank power-iteration rounds unrolled as CTEs — integer
    // micro-unit ranks, truncating // division, identical to the Spark
    // unrolled-join formulation contribution for contribution.
    "gr_pagerank" ->
      """WITH e AS (SELECT o_custkey * 3 AS src, o_orderkey * 3 + 1 AS dst
                    FROM orders
                    UNION ALL
                    SELECT l_orderkey * 3 + 1, l_suppkey * 3 + 2
                    FROM lineitem),
         n AS (SELECT DISTINCT id
               FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
         i1 AS (SELECT n.id,
                  CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
                FROM n LEFT JOIN (
                  SELECT e.dst AS id, SUM(r0.r // d.deg) AS s
                  FROM e JOIN r0 ON e.src = r0.id JOIN d ON e.src = d.src
                  GROUP BY e.dst) c ON n.id = c.id),
         i2 AS (SELECT n.id,
                  CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
                FROM n LEFT JOIN (
                  SELECT e.dst AS id, SUM(i1.r // d.deg) AS s
                  FROM e JOIN i1 ON e.src = i1.id JOIN d ON e.src = d.src
                  GROUP BY e.dst) c ON n.id = c.id),
         i3 AS (SELECT n.id,
                  CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
                FROM n LEFT JOIN (
                  SELECT e.dst AS id, SUM(i2.r // d.deg) AS s
                  FROM e JOIN i2 ON e.src = i2.id JOIN d ON e.src = d.src
                  GROUP BY e.dst) c ON n.id = c.id)
         SELECT id, r AS rank_micro FROM i3""",

    // Connected components over the LSH candidate pairs via a
    // recursive reachability CTE; min reachable id = component.
    "dd_cluster_keep_first" ->
      s"""WITH RECURSIVE $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                   FROM k2 a JOIN k2 b
                     ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION SELECT d2, d1 FROM pairs),
         nodes AS (SELECT DISTINCT a AS node FROM edges),
         reach(node, r) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node)
         SELECT node AS doc_id, min(r) AS kept_id,
                (node = min(r)) AS is_kept
         FROM reach GROUP BY node""",

    // Near-dup prune: keep docs that are either untouched by any
    // candidate pair or the min-id survivor of their component.
    // r19: candidates come from the CAPPED banding (rank cap 32 per
    // (band, bkey) under the portable md5-of-id order) PLUS star
    // edges (over-cap member ↔ the bucket's rank-1 member) — the
    // oracle replays both exactly like the Spark composition.
    "cur_neardup_prune" ->
      s"""WITH RECURSIVE $duckShingleCtes,
         keys AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig),
         k2 AS (SELECT doc_id, sig, band,
                  array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bkey
                FROM keys),
         kr AS (SELECT doc_id, band, bkey,
                  row_number() OVER (PARTITION BY band, bkey
                    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                                  AS BIGINT) ASC,
                             doc_id ASC) AS rnk
                FROM k2),
         pairs AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
                          greatest(a.doc_id, b.doc_id) AS d2
                   FROM kr a JOIN kr b
                     ON a.band = b.band AND a.bkey = b.bkey
                    AND ((a.rnk <= 32 AND b.rnk <= 32 AND a.doc_id < b.doc_id)
                         OR (a.rnk > 32 AND b.rnk = 1))),
         edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION SELECT d2, d1 FROM pairs),
         nodes AS (SELECT DISTINCT a AS node FROM edges),
         reach(node, r) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
         losers AS (SELECT node AS doc_id FROM reach
                    GROUP BY node HAVING node <> min(r))
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM losers)""",

    // Curation pipeline: the quality formula mirrors txt_quality's
    // oracle; filter on the ROUNDED score keeps both engines'
    // threshold decisions identical.
    "cur_pipeline" ->
      """WITH t AS (
           SELECT doc_id, lang, text,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks,
                  length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct
           FROM documents),
         q AS (
           SELECT doc_id, lang, text,
             round(
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
               greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(n_punct AS DOUBLE) / length(text) END) * 5) * 0.3 +
               least((CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE CAST(len(list_filter(toks,
                   x -> list_contains(['the','a','and','of','to','in','is','it'], x))) AS DOUBLE)
                   / len(toks) END) * 4, 1.0) * 0.3,
             6) AS quality
           FROM t),
         f AS (SELECT * FROM q WHERE lang = 'en' AND quality >= 0.4),
         d AS (SELECT doc_id, lang, quality,
                 row_number() OVER (
                   PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                   ORDER BY doc_id ASC) AS rn
               FROM f)
         SELECT doc_id, lang, quality FROM d
         WHERE rn = 1
           AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 50"""
  )

  /** Text-analysis extensions over `documents` (north star): token
    * stats, quality scoring, language-ID heuristic, fingerprinting.
    * All per-row codegen'd expressions — no shuffle, embarrassingly
    * parallel at any scale.
    */
  private def textQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.functions.TextFunctions._
    Map(
      "txt_token_stats" -> ((s, dir) => {
        spread(Tables.documents(s, dir)).select(
          col("doc_id"),
          nTokens(col("text")).as("n_tokens"),
          nBpeTokens(col("text")).as("n_bpe_tokens"),
          length(col("text")).as("n_chars_calc"))
      }),
      // X-T14 (r19): REAL merge-table BPE — 16 Sennrich merges trained
      // driver-side on the corpus's own top-2048 weighted vocabulary
      // (a bounded artifact, like the IVF codebooks), then every doc
      // tokenized by the native graft_bpe expression (merges ride the
      // codegen references table). The oracle replays training AND
      // encoding in SQL, so the table and every subword are
      // hash-checked end to end.
      "txt_bpe_tokens" -> ((s, dir) => {
        val docs = Tables.documents(s, dir)
        val norm = graft.operators.DedupOps.normalizeText(col("text"))
        val merges = graft.operators.BpeOps.trainMerges(
          docs.select(norm.as("__nt")), col("__nt"))
        val toks = graft.operators.BpeOps.bpeTokens(norm, merges)
        spread(docs).select(col("doc_id"),
          array_join(toks, "|").as("bpe_tokens"),
          size(toks).cast("long").as("n_bpe"))
      }),
      // PII scrub: the corpus text itself is synthetic, so the query
      // splices a deterministic email + phone per doc into it — the
      // redactor must strip exactly those (plus any phone-ish digit
      // run already present), identically to the oracle's RE2 pass.
      "txt_redact" -> ((s, dir) => {
        val enriched = concat(col("text"), lit(" contact voter"),
          col("doc_id").cast("string"), lit("@example.com or +44-7700-900"),
          (col("doc_id") % 1000).cast("string"))
        spread(Tables.documents(s, dir)).select(
          col("doc_id"),
          piiCount(enriched).as("n_pii"),
          redactPii(enriched).as("clean_text"))
      }),
      "txt_quality" -> ((s, dir) => {
        spread(Tables.documents(s, dir)).select(
          col("doc_id"),
          round(stopwordRatio(col("text")), 6).as("stopword_ratio"),
          round(avgTokenLen(col("text")), 6).as("avg_token_len"),
          round(punctRatio(col("text")), 6).as("punct_ratio"),
          round(qualityScore(col("text")), 6).as("quality_score"))
      }),
      "txt_langid" -> ((s, dir) => {
        spread(Tables.documents(s, dir)).select(
          col("doc_id"), langId(col("text")).as("lang_pred"))
      }),
      // r20 (X-T15): Coleman–Liau readability (Coleman & Liau 1975:
      // CLI = 0.0588·L − 0.296·S − 15.8 over letters/sentences per
      // 100 words) in EXACT milli-integer arithmetic — every division
      // is a floor div on non-negative operands, so Spark and DuckDB
      // agree bit for bit with no float rounding to paper over.
      // Readability bands are a standard pretraining curation filter.
      "txt_reading_level" -> ((s, dir) =>
        spread(Tables.documents(s, dir)).select(
          col("doc_id"),
          length(regexp_replace(col("text"), "[^A-Za-z]", ""))
            .cast("long").as("letters"),
          size(filter(split(col("text"), " "), x => x =!= lit("")))
            .cast("long").as("words"),
          greatest(length(regexp_replace(col("text"), "[^.!?]", ""))
            .cast("long"), lit(1L)).as("sentences"))
          .withColumn("__w", greatest(col("words"), lit(1L)))
          .select(col("doc_id"), col("letters"), col("words"),
            col("sentences"),
            (expr("588 * (letters * 100000 div __w) div 10000")
              - expr("2960 * (sentences * 100000 div __w) div 10000")
              - lit(15800L)).as("cli_milli"))),
      "txt_repetition" -> ((s, dir) => {
        spread(Tables.documents(s, dir)).select(
          col("doc_id"),
          round(repetitionRatio(col("text"), 2), 6).as("rep2"),
          round(repetitionRatio(col("text"), 3), 6).as("rep3"))
      }),
      "txt_fingerprint" -> ((s, dir) => {
        spread(Tables.documents(s, dir)).select(
          col("doc_id"), fingerprint(col("text")).as("fingerprint"))
      }),
      // character entropy (bits/char): gibberish/binary-junk detector;
      // sorted-distinct fold keeps the double bit-identical cross-engine
      "txt_entropy" -> ((s, dir) =>
        spread(Tables.documents(s, dir)).select(
          col("doc_id"), round(charEntropy(col("text")), 6).as("char_entropy")))
    )
  }

  /** Shared BPE CTEs (X-T14, r19): `numMerges` Sennrich training
    * rounds unrolled over the top-`vocabSize` weighted vocabulary of
    * normalized text, then a recursive-CTE encode of every distinct
    * word under the trained `merges` table — the SQL mirror of
    * [[graft.operators.BpeOps.trainMerges]] +
    * [[graft.functions.BpeTokens]], exact to the byte via the shared
    * `{sym}` representation (replace() has identical left-to-right
    * non-overlapping semantics in the JVM and DuckDB). Ends with:
    * `norm` (doc_id, nt), `dw` (doc_id, ord, word), `merges`
    * (rank, a, b), `fin` (word, final wstr).
    */
  private def duckBpeCtes(numMerges: Int, vocabSize: Int): String = {
    def round(r: Int): String = {
      val prev = s"v${r - 1}"
      s"""p$r AS (SELECT a, b, sum(cnt) AS c FROM (
            SELECT cnt,
                   unnest(list_slice(syms, 1, len(syms) - 1)) AS a,
                   unnest(list_slice(syms, 2, len(syms))) AS b
            FROM (SELECT cnt,
                    string_split(substr(wstr, 2, length(wstr) - 2), '}{') AS syms
                  FROM $prev)) GROUP BY 1, 2),
         b$r AS MATERIALIZED (SELECT a, b FROM p$r ORDER BY c DESC, a ASC, b ASC LIMIT 1),
         v$r AS MATERIALIZED (SELECT word, cnt,
                   replace(wstr,
                     coalesce((SELECT '{' || a || '}{' || b || '}' FROM b$r), '~~'),
                     coalesce((SELECT '{' || a || b || '}' FROM b$r), '~~'))
                     AS wstr
                 FROM $prev)"""
    }
    val merges = (1 to numMerges)
      .map(r => s"SELECT $r AS rank, a, b FROM b$r")
      .mkString("merges AS MATERIALIZED (", " UNION ALL ", ")")
    s"""norm AS MATERIALIZED (SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                              ' +', ' ', 'g')) AS nt
        FROM documents),
       dw AS MATERIALIZED (SELECT doc_id,
                unnest(list_filter(string_split(nt, ' '), x -> x <> '')) AS word,
                generate_subscripts(list_filter(string_split(nt, ' '), x -> x <> ''), 1)
                  AS ord
              FROM norm),
       vocab AS MATERIALIZED (SELECT word, count(*) AS cnt FROM dw GROUP BY word
                 ORDER BY cnt DESC, word ASC LIMIT $vocabSize),
       v0 AS MATERIALIZED (SELECT word, cnt,
                '{' || array_to_string(list_transform(range(1, length(word) + 1),
                         i -> substr(word, CAST(i AS INT), 1)), '}{') || '}' AS wstr
              FROM vocab),
       ${(1 to numMerges).map(round).mkString(",\n")},
       $merges,
       wd0 AS (SELECT DISTINCT word FROM dw),
       wr0 AS (SELECT word,
                 '{' || array_to_string(list_transform(range(1, length(word) + 1),
                          i -> substr(word, CAST(i AS INT), 1)), '}{') || '}' AS wstr
               FROM wd0),
       enc AS (SELECT word, wstr FROM wr0
               UNION ALL
               SELECT e.word,
                      replace(e.wstr, '{' || m.a || '}{' || m.b || '}',
                              '{' || m.a || m.b || '}')
               FROM enc e JOIN merges m ON m.rank = (
                 SELECT min(mm.rank) FROM merges mm
                 WHERE contains(e.wstr, '{' || mm.a || '}{' || mm.b || '}'))),
       fin AS MATERIALIZED (SELECT word, wstr FROM enc e WHERE NOT EXISTS (
                 SELECT 1 FROM merges mm
                 WHERE contains(e.wstr, '{' || mm.a || '}{' || mm.b || '}')))"""
  }

  private def textOracle: Map[String, String] = Map(
    // Merge-table BPE (X-T14): training + encode replayed end to end
    // (the duckBpeCtes doc explains the unroll); tokens re-render as a
    // '|'-joined stream, counts come off the brace count.
    "txt_bpe_tokens" ->
      s"""WITH RECURSIVE ${duckBpeCtes(16, 2048)}
         SELECT n.doc_id,
                coalesce(a.bpe_tokens, '') AS bpe_tokens,
                CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_bpe
         FROM norm n LEFT JOIN (
           SELECT d.doc_id,
                  string_agg(replace(substr(f.wstr, 2, length(f.wstr) - 2),
                                     '}{', '|'), '|' ORDER BY d.ord) AS bpe_tokens,
                  sum(length(f.wstr) - length(replace(f.wstr, '{', ''))) AS n_bpe
           FROM dw d JOIN fin f USING (word) GROUP BY d.doc_id) a USING (doc_id)""",

    // same email/phone automata (Java regex ∩ RE2 dialect), same
    // order: emails first, then phones; n_pii counted pre-redaction
    "txt_redact" ->
      """WITH t AS (SELECT doc_id,
             text || ' contact voter' || CAST(doc_id AS VARCHAR) ||
             '@example.com or +44-7700-900' || CAST(doc_id % 1000 AS VARCHAR) AS et
           FROM documents),
         r AS (SELECT doc_id, et,
                 regexp_replace(et, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                                '<EMAIL>', 'g') AS no_email
               FROM t)
         SELECT doc_id,
                len(regexp_extract_all(et, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                + len(regexp_extract_all(no_email, '\+?[0-9][0-9-]{7,}[0-9]')) AS n_pii,
                regexp_replace(no_email, '\+?[0-9][0-9-]{7,}[0-9]', '<PHONE>', 'g')
                  AS clean_text
         FROM r""",

    "txt_token_stats" ->
      """SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
         length(text) AS n_chars_calc
         FROM documents""",

    "txt_quality" ->
      """WITH t AS (
           SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks,
                  length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct
           FROM documents),
         m AS (
           SELECT doc_id,
             CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks) END AS sr,
             CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END AS atl,
             CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / length(text) END AS pr,
             least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS lenscore
           FROM t)
         SELECT doc_id, round(sr, 6) AS stopword_ratio, round(atl, 6) AS avg_token_len,
                round(pr, 6) AS punct_ratio,
                round(lenscore * 0.4 + greatest(0.0, 1.0 - pr * 5) * 0.3 + least(sr * 4, 1.0) * 0.3, 6) AS quality_score
         FROM m""",

    // r20 (X-T15): the same milli-integer Coleman–Liau — floor
    // division on non-negative operands matches Spark's `div` exactly
    "txt_reading_level" ->
      """WITH b AS (SELECT doc_id,
                CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS letters,
                CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS words,
                CAST(greatest(length(regexp_replace(text, '[^.!?]', '', 'g')), 1) AS BIGINT) AS sentences
              FROM documents),
         c AS (SELECT *, greatest(words, 1) AS w FROM b)
         SELECT doc_id, letters, words, sentences,
                CAST(588 * (letters * 100000 // w) // 10000
                     - 2960 * (sentences * 100000 // w) // 10000
                     - 15800 AS BIGINT) AS cli_milli
         FROM c""",

    "txt_langid" ->
      """SELECT doc_id, CASE
           WHEN ' ' || lower(text) || ' ' LIKE '% der %' OR ' ' || lower(text) || ' ' LIKE '% und %' OR ' ' || lower(text) || ' ' LIKE '% nicht %' THEN 'de'
           WHEN ' ' || lower(text) || ' ' LIKE '% el %' OR ' ' || lower(text) || ' ' LIKE '% los %' OR ' ' || lower(text) || ' ' LIKE '% una %' THEN 'es'
           WHEN ' ' || lower(text) || ' ' LIKE '% le %' OR ' ' || lower(text) || ' ' LIKE '% et %' OR ' ' || lower(text) || ' ' LIKE '% les %' THEN 'fr'
           WHEN ' ' || lower(text) || ' ' LIKE '% the %' OR ' ' || lower(text) || ' ' LIKE '% and %' THEN 'en'
           ELSE 'unknown' END AS lang_pred
         FROM documents""",

    "txt_repetition" ->
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM documents),
         g AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) >= 2
                      THEN list_transform(range(1, len(toks)),
                             i -> toks[i] || ' ' || toks[i+1])
                      ELSE [coalesce(array_to_string(toks, ' '), '')] END AS g2,
                 CASE WHEN len(toks) >= 3
                      THEN list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                      ELSE [coalesce(array_to_string(toks, ' '), '')] END AS g3
               FROM t)
         SELECT doc_id,
           round(CASE WHEN len(toks) < 2 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END, 6) AS rep2,
           round(CASE WHEN len(toks) < 3 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END, 6) AS rep3
         FROM g""",

    // LEFT JOIN + COALESCE so zero-token docs yield fingerprint 0,
    // matching Spark's aggregate-over-empty-array semantics (ADVICE r1).
    "txt_fingerprint" ->
      """SELECT d.doc_id, COALESCE(f.fp, 0) AS fingerprint
         FROM documents d LEFT JOIN (
           SELECT doc_id, CAST(sum(i * h) AS BIGINT) AS fp FROM (
             SELECT doc_id,
                    generate_subscripts(toks, 1) AS i,
                    CAST('0x' || substr(md5(unnest(toks)), 1, 7) AS BIGINT) AS h
             FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
                   FROM documents))
           GROUP BY doc_id) f ON d.doc_id = f.doc_id""",

    // entropy terms fold over SORTED distinct chars on both engines,
    // so the double sum is bit-identical before the round
    "txt_entropy" ->
      """WITH t AS (SELECT doc_id, coalesce(text, '') AS text FROM documents)
         SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0.0 ELSE
             round(-list_sum(list_transform(
                 list_sort(list_distinct(string_split(text, ''))),
                 c -> (CAST(len(list_filter(string_split(text, ''), x -> x = c))
                            AS DOUBLE) / length(text))
                      * ln(CAST(len(list_filter(string_split(text, ''), x -> x = c))
                                AS DOUBLE) / length(text))))
               / ln(2), 6) END AS char_entropy
         FROM t"""
  )

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Flagship: TPC-H-style pricing summary (G-1 batch shape at scale) ----
    "q1_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // ---- P-1..P-3: cast + from_json + struct flatten (spark_stream.py:50–52) ----
    "p2_json_parse" -> ((s, dir) => {
      parseJson(Tables.events(s, dir), "props", propsSchema, keep = Seq("event_id"))
    }),

    // ---- P-5: to_json(struct(...)) encode (spark_stream.py:67,77) ----
    "p5_json_encode" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), encodeJson(Seq(col("event_id"), col("event_type"))).as("js"))
    }),

    // ---- P-14: 3-level nested extraction (main.py:100–107: the
    // randomuser payload's name.first / location.street.number paths).
    // Builds the nested JSON, parses it with an explicit 3-level
    // schema, and extracts leaves BOTH ways Spark offers — struct
    // dotted paths (typed, Catalyst-pruned) and get_json_object
    // (string JSONPath) — while the oracle computes the expected leaf
    // values directly from the base columns, checking the whole
    // build→parse→extract chain end-to-end. ----
    "p14_nested_extract" -> ((s, dir) => {
      val n = Tables.nation(s, dir)
      val js = to_json(struct(
        struct(col("c_name").as("full")).as("name"),
        struct(
          struct((col("c_custkey") % 1000).as("number"),
            col("c_mktsegment").as("name")).as("street"),
          col("n_name").as("city")).as("location")))
      val nestedSchema = new StructType()
        .add("name", new StructType().add("full", StringType))
        .add("location", new StructType()
          .add("street", new StructType()
            .add("number", LongType).add("name", StringType))
          .add("city", StringType))
      Tables.customer(s, dir)
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), js.as("json_str"))
        .select(col("c_custkey"),
          from_json(col("json_str"), nestedSchema).as("u"), col("json_str"))
        .select(
          col("c_custkey"),
          col("u.location.street.number").as("street_number"),
          col("u.location.street.name").as("street_name"),
          col("u.location.city").as("city"),
          get_json_object(col("json_str"), "$.name.full").as("full_name"),
          get_json_object(col("json_str"), "$.location.street.number")
            .cast("long").as("street_number_json"))
    }),

    // ---- P-2 robustness: malformed-record quarantine. Real ingest
    //      ALWAYS carries corrupt lines; from_json's PERMISSIVE mode
    //      nulls them instead of failing the job, and the pipeline
    //      routes them to a quarantine count. Corruption here is
    //      deterministic (every event_id % 10 = 0 line gets a
    //      non-JSON prefix) so the oracle can replay the split. ----
    "p15_corrupt_quarantine" -> ((s, dir) => {
      val raw = Tables.events(s, dir).select(col("event_id"),
        to_json(struct(col("event_id"), col("user_id"), col("value"))).as("line"))
      val wire = raw.select(
        when(col("event_id") % 10 === 0, concat(lit("!corrupt!"), col("line")))
          .otherwise(col("line")).as("line"))
      val schema = new StructType()
        .add("event_id", LongType).add("user_id", StringType)
        .add("value", DoubleType)
      wire.select(from_json(col("line"), schema).as("data"))
        .select(when(col("data").isNull || col("data.event_id").isNull,
          "quarantined").otherwise("ok").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }),

    // ---- G-1: grouped SUM w/ carried dims (spark_stream.py:58–59) ----
    "g1_votes_per_type" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(round(sum(col("value")), 4).as("total_value"),
             count(lit(1)).as("total_votes"))
    }),

    // ---- G-2: grouped COUNT + rename over a broadcast dim join (spark_stream.py:62–64) ----
    "g2_turnout_by_nation" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      groupedCount(
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey")),
        Seq("n_name"), "total_voters")
    }),

    // ---- G-3: scalar COUNT(*) (streamlit-app.py:27–32) ----
    "g3_scalar_count" -> ((s, dir) => scalarCount(Tables.events(s, dir), "n")),

    // ---- G-4: argmax / leading candidate (streamlit-app.py:96) ----
    "g4_leading_type" -> ((s, dir) => {
      val agg = Tables.events(s, dir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("total_votes"))
      argmax(agg, "total_votes", "event_type")
    }),

    // ---- G-6: share-of-total via unpartitioned window (streamlit-app.py:57–64) ----
    "g6_share_of_total" -> ((s, dir) => {
      val agg = Tables.events(s, dir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("total_votes"))
      shareOfTotal(agg, "total_votes", "share")
        .withColumn("share", round(col("share"), 6))
    }),

    // ---- J-1: broadcast enrichment join on a synthesized key (voting.py:68–74) ----
    "j1_enrichment_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val n = Tables.nation(s, dir)
      enrichmentJoin(e, n, e("user_id") % 25, n("n_nationkey"))
        .select(col("event_id"), col("user_id"), col("n_name").as("assigned_nation"))
    }),

    // ---- S-6: keyed dedup, first-write-wins (main.py:77; voting.py:78–96) ----
    "s6_dedup_first" -> ((s, dir) => {
      dedupFirst(Tables.events(s, dir), Seq("user_id", "event_type"),
                 Seq(col("ts").asc, col("event_id").asc))
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    }),

    // ---- O-1: global sort, rank-observable (streamlit-app.py:72–74).
    //      TakeOrderedAndProject bounds the rank window to k rows. ----
    "o1_ranked_sort" -> ((s, dir) => {
      topKRanked(Tables.events(s, dir).select(col("event_id"), col("value")),
                 Seq(col("value").desc, col("event_id").asc), 1000, "rank")
    }),

    // ---- O-2: LIMIT/OFFSET pagination (streamlit-app.py:75–77) ----
    "o2_pagination" -> ((s, dir) => {
      paginate(Tables.events(s, dir).select(col("event_id"), col("value")),
               Seq(col("value").desc, col("event_id").asc), page = 3, size = 10)
    }),

    // ---- O-3: top-k (TakeOrderedAndProject) ----
    "o3_top5" -> ((s, dir) => {
      topK(Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
           Seq(col("value").desc, col("event_id").asc), 5)
    }),

    // ---- S-1/G-1 windowed: event-time bucketed aggregation (batch equivalent
    //      of the watermarked streaming agg, spark_stream.py:55–59) ----
    "s1_hourly_agg" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
    }),

    // ---- P-7..P-12: scalar expression battery (concat, split/substring,
    //      conditional, modulo+format, literal — main.py:96–168) ----
    "p7_scalar_exprs" -> ((s, dir) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        concat_ws(" ", col("c_name"), col("c_mktsegment")).as("full_label"),
        split(col("c_name"), "#").getItem(1).as("cust_num"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        when(col("c_acctbal") < 0, lit("delinquent")).otherwise(lit("ok")).as("acct_status"),
        format_string("Party %d", pmod(col("c_custkey"), lit(3)) + 1).as("party"),
        lit(1).as("vote"))
    }),

    // ---- O-4: top-k per group (partitioned window — scale-safe rank) ----
    "o4_topk_per_group" -> ((s, dir) => {
      topKPerGroup(
        Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
        Seq("event_type"), Seq(col("value").desc, col("event_id").asc), 3, "rnk")
    }),

    // ---- Q3: multi-table join + grouped agg + top-k (shipping priority) ----
    "q3_shipping_priority" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // ---- Q6 analog: pure scan-side filter + scalar agg — the
    //      pushdown showcase (every predicate reaches the parquet
    //      scan; zero shuffles before the final 1-row reduce) ----
    "q6_forecast_revenue" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    }),

    // ---- Q18 analog: large-volume customers — aggregate-then-join
    //      with a HAVING-style threshold; the qualifying-orderkey set
    //      is aggregated BEFORE joining back (semi-join on a shrunken
    //      key set, not a fact-fact join) ----
    "q18_large_orders" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val big = l.groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .filter(col("total_qty") > 150)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
    }),

    // ---- Set operations: UNION / INTERSECT / EXCEPT over per-type
    //      user sets. Each plans as aggregate-on-key after shuffle —
    //      same scale shape as a distinct groupBy. ----
    "set_union" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.filter(col("event_type") === "click").select(col("user_id"))
        .union(e.filter(col("event_type") === "purchase").select(col("user_id")))
        .distinct()
    }),
    "set_intersect" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.filter(col("event_type") === "click").select(col("user_id"))
        .intersect(e.filter(col("event_type") === "purchase").select(col("user_id")))
    }),
    "set_except" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.filter(col("event_type") === "click").select(col("user_id"))
        .except(e.filter(col("event_type") === "purchase").select(col("user_id")))
    }),

    // ---- G-7: exact distinct aggregation (two-phase: expand + partial
    //      dedup per partition before the final shuffle) ----
    "g7_distinct_users" -> ((s, dir) => {
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users"),
             count(lit(1)).as("n_events"))
    }),

    // ---- G-8: approximate distinct (HyperLogLog++). Estimates are
    //      engine-specific, so no SQL oracle — the driver records the
    //      weaker rows-only check; the error bound vs exact is pinned
    //      in RelationalOpsSpec instead. At 100 TB this is THE way to
    //      count distincts: fixed-size sketch, single shuffle of
    //      sketches, no expand. ----
    //      r8: the sketch estimate is engine-specific, so the DRIVER
    //      gate hashes the EXACT distinct count and a boolean claiming
    //      the estimate landed within 3·rsd of it — the oracle emits
    //      literal TRUE, so a sketch drifting out of its error bound
    //      turns the row red instead of invisible (VERDICT r7 item 3).
    //      r9, timing-semantics decision (ADVICE r8): yes, this means
    //      the BENCH timing of g8/g12/g21 includes the exact companion
    //      the comments disclaim at 100 TB — accepted deliberately: one
    //      ledger entry per operator keeps the correctness gate simple,
    //      the sketch-only cost is visible in the probe battery
    //      (BASELINE.md), and a bench-only fork of the query body would
    //      mean the driver times code the correctness gate never runs.
    //      The in-bound booleans are probabilistic by nature (3·rsd /
    //      ±2·accuracy rank); HLL++ and GK are deterministic algorithms
    //      on deterministic input, so a red here is a real drift, not
    //      an unlucky coin flip.
    "g8_approx_distinct" -> ((s, dir) => {
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
             approx_count_distinct(col("user_id"), 0.02).as("__est"))
        .select(col("event_type"), col("n_users"),
          (abs(col("__est").cast("double") - col("n_users")) <=
            col("n_users") * lit(0.06)).as("est_in_bound"))
    }),

    // ---- G-9: hierarchical rollup (event_type × day → type → grand
    //      total) — one pass, Expand feeds the same hash aggregate ----
    "g9_rollup" -> ((s, dir) => {
      Tables.events(s, dir)
        .rollup(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
    }),

    // ---- G-15: min_by/max_by aggregates — the one-pass argmin/argmax
    //      surface (vs G-4's join-back argmax); deterministic because
    //      the ordering key event_id is unique ----
    "g15_argminmax" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min_by(col("event_type"), col("event_id")).as("first_type"),
          max_by(col("event_type"), col("event_id")).as("last_type"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
    }),

    // ---- G-14: CUBE — all 2^k grouping sets in one Expand pass
    //      (rollup's completion; same single-shuffle scale shape).
    //      err_code is a deterministic NULLABLE dimension (nullif), so
    //      the cube exercises null grouping keys too ----
    "g14_cube" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("err_code", expr("nullif(event_type, 'click')"))
        .cube(col("event_type"), col("err_code"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
    }),

    // ---- G: explicit GROUPING SETS — the general form behind
    //      rollup/cube; picks exactly the aggregation levels a
    //      dashboard needs ((type), (type, user-bucket), ()) in one
    //      Expand pass / one shuffle ----
    "g16_grouping_sets" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("gs_events")
      s.sql(
        """SELECT event_type, user_id % 10 AS user_bucket,
                count(*) AS n, round(sum(value), 4) AS total_value
           FROM gs_events
           GROUP BY GROUPING SETS ((event_type), (event_type, user_id % 10), ())""")
    }),

    // ---- J-7: null-safe equality join (<=>) — null keys MATCH each
    //      other instead of disappearing; the join stays an equi-join
    //      (hash/sort-merge-able) because <=> is a deterministic key
    //      comparison, not a residual predicate ----
    "j7_null_safe_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("err_code", expr("nullif(event_type, 'click')"))
      val errCounts = e.groupBy(col("err_code").as("err_key"))
        .agg(count(lit(1)).as("n_events"))
      e.select(col("event_id"), col("err_code"))
        .join(errCounts, col("err_code") <=> col("err_key"))
        .select(col("event_id"), col("err_code"), col("n_events"))
    }),

    // ---- W-1: framed analytic window — 3-event moving average per
    //      user (partitioned by user: one shuffle, bounded task state) ----
    "w1_moving_avg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-2, 0)
      Tables.events(s, dir).select(col("user_id"), col("event_id"), col("ts"),
        round(avg(col("value")).over(w), 4).as("mavg3"))
    }),

    // ---- W-3: RANGE frame — "events in the trailing hour", a frame
    //      defined by VALUE distance (epoch seconds), not row count:
    //      rows with ties enter together and sparse/bursty streams get
    //      the correct physical window, which rowsBetween cannot
    //      express. Count (integer) keeps the contract exact; ordering
    //      key must be unique-enough only for the ROWS case, not
    //      RANGE. ----
    "w3_range_frame" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3600L, 0)
      Tables.events(s, dir).select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_last_hour"))
    }),

    // ---- W-2: analytic-function battery over one partitioned window —
    //      lead/lag/row_number/ntile/cume_dist/first_value + running
    //      sum. ONE shuffle on user_id serves every function (a single
    //      Window node); running sum rounded because DuckDB's
    //      segment-tree accumulation orders additions differently. ----
    "w2_window_battery" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.events(s, dir).select(
        col("user_id"), col("event_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        row_number().over(w).as("rn"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cdist"),
        first(col("event_id")).over(wRun).as("first_event"),
        round(sum(col("value")).over(wRun), 4).as("running_value"))
    }),

    // ---- W-4: exponentially-weighted trailing mean with DYADIC decay
    //      (half-life = 1 row): weights 128,64,…,1 over the last 8
    //      rows per user. Powers of two on milli-unit longs keep every
    //      product and the truncated quotient exact integers — an
    //      EWMA the oracle can hash-check, where a float alpha^k
    //      recurrence could not be (cross-engine summation order).
    //      All 8 lags share ONE Window node / one shuffle on user. ----
    "w4_ewma" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val base = Tables.events(s, dir)
        .withColumn("__v", round(col("value") * 1000).cast("long"))
      val lags = (0 to 7).map { d =>
        val lv = if (d == 0) col("__v") else lag(col("__v"), d).over(w)
        (coalesce(lv, lit(0L)) * lit(1L << (7 - d)),
          when(lv.isNotNull, lit(1L << (7 - d))).otherwise(lit(0L)))
      }
      base.select(col("user_id"), col("event_id"), col("__v").as("v_milli"),
          lags.map(_._1).reduce(_ + _).as("__num"),
          lags.map(_._2).reduce(_ + _).as("__den"))
        // Division parity holds for NEGATIVE values too: Spark `div`,
        // DuckDB integer `//`, and JVM long `/` (EwmaPipeline) all
        // truncate toward zero (DuckDB -7 // 2 = -3, spot-checked;
        // EdgeCasesSpec pins the Spark↔JVM leg), so a negative-valued
        // metric stream hashes identically on all three.
        .withColumn("ewma_milli", expr("__num div __den"))
        .drop("__num", "__den")
    }),

    // ---- Cohort retention: users bucketed by first-seen date, distinct
    //      actives per (cohort, day offset) — the standard retention
    //      triangle. The cohort join key IS the aggregation key
    //      (user_id), so the min-date exchange is reused by the join. ----
    "g17_retention" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("__d"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("__d")).as("cohort_date"))
      e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_date"),
          datediff(col("__d"), col("cohort_date")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // ---- Ordered funnel: view → click → purchase, each stage's first
    //      timestamp AT OR AFTER the previous stage's (not just "did
    //      both happen" — order matters). Three aggregates + two joins,
    //      all on user_id: one logical key, shared shuffle. ----
    "g18_funnel" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val clicks = e.join(views, Seq("user_id"))
        .filter(col("event_type") === "click" && col("ts") >= col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val buys = e.join(clicks, Seq("user_id"))
        .filter(col("event_type") === "purchase" && col("ts") >= col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      views.join(clicks, Seq("user_id"), "left")
        .join(buys, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0)
            + when(col("t_purchase").isNotNull, 1).otherwise(0)).as("stage"))
    }),

    // ---- Per-entity anomaly flags: events above their OWN user's
    //      95th percentile — thresholds are per-key aggregates joined
    //      back on the same key (the aggregate's exchange clusters the
    //      join), never a global sort. The alerting primitive over a
    //      metric stream. ----
    "ts_anomaly" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val thr = e.groupBy(col("user_id"))
        .agg(round(expr("percentile(value, 0.95)"), 4).as("p95"))
      e.join(thr, Seq("user_id"))
        .filter(col("value") > col("p95"))
        .select(col("user_id"), col("event_id"), col("value"), col("p95"))
    }),

    // ---- Data-quality constraint audit over lineitem: the ingest
    //      gate's expectations (domain bounds, non-negativity, date
    //      ordering, enum membership), ALL evaluated in one scan —
    //      each rule is a conditional count inside a single aggregate,
    //      so the audit costs one table read however many rules run.
    //      NULL rule results count as violations (conservative). ----
    "dq_constraints" -> ((s, dir) => {
      graft.operators.RelationalOps.constraintAudit(Tables.lineitem(s, dir), Seq(
        "quantity_in_domain" ->
          (col("l_quantity") >= 1 && col("l_quantity") <= 50),
        "price_positive" -> (col("l_extendedprice") > 0),
        "discount_in_unit" ->
          (col("l_discount") >= 0 && col("l_discount") <= 0.1),
        "shipdate_in_range" ->
          (col("l_shipdate") >= lit("1992-01-01").cast("timestamp")),
        "returnflag_enum" ->
          col("l_returnflag").isInCollection(Seq("A", "N", "R"))))
    }),

    // ---- X-Q11: zero-extra-scan QC — the metrics ride the production
    //      job's OWN scan as a CollectMetrics node (Dataset.observe)
    //      instead of dq_constraints' dedicated audit pass, so at
    //      100 TB the QC bill is a few per-task counters, not a second
    //      table read. The job here is a returnflag revenue rollup run
    //      to a noop sink; the ledger row is the metrics row that job
    //      produced. All metrics are integer-exact (counts + a
    //      long-cast sum — l_quantity is integral by construction), so
    //      the parity hash is float-free. ----
    "dq_observe" -> ((s, dir) => {
      graft.operators.RelationalOps.observedAudit(
        Tables.lineitem(s, dir), Seq(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1))
            .as("n_bad_discount"),
          count(when(col("l_shipdate").isNull || col("l_returnflag").isNull, 1))
            .as("n_null_keys"))) { li =>
        li.groupBy(col("l_returnflag"))
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
      }
    }),

    // ---- Per-type OLS trend of the daily value series: slope =
    //      (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with x = epoch day and
    //      y = daily cents — both sides emitted as INTEGER numerator /
    //      denominator (the ts_acf discipline: no division, no float),
    //      plus the truncated MILLI-slope for direct consumption
    //      (milli, not micro: |num| can reach ~1e15 at sf0.1, so the
    //      1e3 multiplier keeps the product well under Long.Max where
    //      1e6 would flirt with overflow). One grid aggregate + one
    //      scalar-per-group aggregate. ----
    "ts_trend" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("__x"))
        .agg(sum(round(col("value") * 100).cast("long")).as("__y"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
          sum(col("__x") * col("__y")).as("__sxy"),
          sum(col("__x") * col("__x")).as("__sxx"))
        .select(col("event_type"), col("n"),
          (col("n") * col("__sxy") - col("__sx") * col("__sy")).as("slope_num"),
          (col("n") * col("__sxx") - col("__sx") * col("__sx")).as("slope_den"),
          // a single-day group degenerates to den = 0: guard to NULL
          // explicitly (ANSI div would throw; DuckDB // 0 yields NULL —
          // the guard makes both engines emit the same NULL)
          expr("""CASE WHEN n * __sxx - __sx * __sx = 0 THEN NULL
                  ELSE (n * __sxy - __sx * __sy) * 1000
                       div (n * __sxx - __sx * __sx) END""")
            .as("slope_milli"))
    }),

    // ---- Lag-k autocovariance of the daily value series per event
    //      type — the seasonality/persistence signal over a metric
    //      stream. Daily cents are exact longs; each lag k ∈ {1,2,3}
    //      reports the multiplied-out integer numerator
    //      n·Σxy − Σx·Σy (the float-parity discipline: no division,
    //      no float, order-independent long sums). ONE (event_type)
    //      window serves all three lags; the stack unpivot fans out
    //      3 rows per day — bounded by the lag count. ----
    "ts_acf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("__day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("__c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("__day"))
      daily
        .withColumn("__l1", lag(col("__c"), 1).over(w))
        .withColumn("__l2", lag(col("__c"), 2).over(w))
        .withColumn("__l3", lag(col("__c"), 3).over(w))
        .select(col("event_type"), col("__c"),
          expr("stack(3, 1, __l1, 2, __l2, 3, __l3) AS (lag_k, __y)"))
        .filter(col("__y").isNotNull)
        .groupBy(col("event_type"), col("lag_k"))
        .agg(count(lit(1)).as("n"),
          sum(col("__c")).as("__sx"), sum(col("__y")).as("__sy"),
          sum(col("__c") * col("__y")).as("__sxy"))
        .select(col("event_type"), col("lag_k"), col("n"),
          (col("n") * col("__sxy") - col("__sx") * col("__sy")).as("acov_num"))
    }),

    // ---- X-G54: day-of-week seasonal profile — the seasonality index
    //      (dow mean over overall mean, exact integer milli units via
    //      cents·total_days·1000 div (total_cents·days_dow)) per event
    //      type. One grid aggregate to the (type, day) grain, one to
    //      (type, dow), totals as a window on the same partitioning.
    //      Values are non-negative so truncating div ≡ floor div on
    //      both engines. ----
    "ts_seasonal" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("__day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("__c"))
      val perDow = daily
        .groupBy(col("event_type"), weekday(col("__day")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("__c")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
      perDow
        .withColumn("__nt", sum(col("n_days")).over(w))
        .withColumn("__tot", sum(col("cents")).over(w))
        .select(col("event_type"), col("dow"), col("n_days"), col("cents"),
          // wide-integer arithmetic: cents·nt·1000 can clear Long at
          // large SF, and non-ANSI Spark would wrap silently where the
          // oracle raises — DECIMAL(38,0) keeps the product exact
          // (mirrored by HUGEINT on the oracle side); values are
          // non-negative so truncating div ≡ floor div on both engines
          expr("CAST(cents AS DECIMAL(38,0)) * __nt * 1000 " +
            "div (CAST(__tot AS DECIMAL(38,0)) * n_days)").as("idx_milli"))
    }),

    // ---- X-G55: per-node triangle counts by DEGREE-ORIENTED
    //      enumeration (Suri & Vassilvitskii WWW'11) over the
    //      co-purchase graph: nodes = part groups (mod 200), an edge
    //      where two groups share >= 3 orders. The item coarsening
    //      bounds the graph by the vocabulary at ANY scale factor
    //      (the g20 discipline); the orientation bounds the wedge
    //      join's fan-out by sqrt(|E|) per node on any degree
    //      distribution. ----
    "gr_triangles" -> ((s, dir) => {
      // r21: the edge build is the g19/g20 one-exchange shape — ONE
      // shuffle on the order key collects each order's distinct item
      // groups (collect_set dedupes in the aggregate, subsuming the
      // former DISTINCT's exchange), a < b pairs are enumerated
      // LOCALLY by positional array HOFs, and the (x, y) aggregate is
      // map-side combined — replacing the former distinct + pair
      // self-join (three exchanges + two sort passes; profiled at
      // 0.6 s of the query's 1.2 s stage wall at sf0.1). Fan-out
      // stays bounded by items-per-order², never by row volume. The
      // exchange is pinned at defaultParallelism (the basketRules
      // rationale: the stage above it is the CPU-dense set-build +
      // generator body, and AQE byte-size coalescing is blind to CPU
      // density — it folded this ~6 MB exchange to a handful of
      // tasks). Null keys dropped explicitly: the former self-join
      // (and the oracle's equi-join) never matched them.
      val p = s.sparkContext.defaultParallelism
      val edges = Tables.lineitem(s, dir)
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey").as("oid"), pmod(col("l_partkey"), lit(200)).as("item"))
        .repartition(p, col("oid"))
        .groupBy(col("oid"))
        .agg(sort_array(collect_set(col("item"))).as("__items"))
        .select(explode(graft.operators.RelationalOps
          .orderedPairs(col("__items"), "x", "y")).as("__p"))
        .groupBy(col("__p.x").as("x"), col("__p.y").as("y"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") >= 3)
      graft.operators.GraphOps.triangleCounts(edges, "x", "y")
    }),

    // ---- X-G52: CUSUM changepoint per event-type daily series — the
    //      position maximizing |n·prefix_k − k·total| (the scaled
    //      single-changepoint location statistic; see
    //      RelationalOps.cusumChangepoint for the integer contract).
    //      The fact scan collapses to the (type, day) grain first; the
    //      windows run on that grain only. ----
    "ts_cusum" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("__cents"))
      graft.operators.RelationalOps.cusumChangepoint(
        daily, "event_type", "day", "__cents")
    }),

    // ---- X-Q12: reconciliation summary between a table and its
    //      "migrated" twin — the one-pass damage report (keys lost,
    //      keys invented, per-column drift counts) run BEFORE any
    //      row-level diff is materialized. The twin derives
    //      deterministically from orders: every 97th key dropped,
    //      every 31st price nudged one cent, every 53rd status
    //      flipped, every 89th key re-added negated — so all four
    //      metric classes and both per-column counters are
    //      exercised. ----
    "dq_table_diff" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        col("o_orderstatus").as("status"))
      val migrated = o.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 31 === 0, col("price_cents") + 1)
            .otherwise(col("price_cents")).as("price_cents"),
          when(col("o_orderkey") % 53 === 0, lit("X"))
            .otherwise(col("status")).as("status"))
        .unionByName(o.filter(col("o_orderkey") % 89 === 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            col("price_cents"), col("status")))
      graft.operators.RelationalOps.reconcile(o, migrated,
        Seq("o_orderkey"), Seq("price_cents", "status"))
    }),

    // ---- X-G53: recursive CTE hierarchy walk (Spark 4's WITH
    //      RECURSIVE → UnionLoopExec). Each customer walks an implicit
    //      forest where parent(c) = md5₂₈(c) mod c — strictly
    //      decreasing, so every walk reaches node 0, and the md5
    //      arithmetic is the engine-portable h7 idiom, so DuckDB runs
    //      the SAME recursion. Depth distribution is the output: per
    //      final depth, customer count + balance cents. Iteration
    //      count is max-depth ≈ e·ln n (≈ 60 at 10¹⁰ rows — well under
    //      the level limit); total materialized rows are Σ depth ≈
    //      n·ln n, so the row-limit guard lifts to "unlimited" and the
    //      real bound is the harmonic sum, not a config. ----
    "gr_reachability" -> ((s, dir) => {
      val v = s"cust_walk_${dirTag(dir)}"
      Tables.customer(s, dir).select(col("c_custkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
        .createOrReplaceTempView(v)
      // lift the recursion row limit for THIS query only (the real
      // bound is the harmonic sum, see above) — restore the session's
      // limit afterwards so the safety net stays up for everyone else
      val prevLimit = s.conf.getOption("spark.sql.cteRecursionRowLimit")
      s.conf.set("spark.sql.cteRecursionRowLimit", "-1")
      // the recursion must EXECUTE while the limit is lifted (the
      // returned frame is otherwise lazy and would run after the
      // restore) — the aggregate is tiny (≤ max walk depth rows), so
      // an eager localCheckpoint pins it at negligible cost
      try s.sql(
        s"""WITH RECURSIVE walk (node, cur, depth, bal) AS (
           |  SELECT c_custkey, c_custkey, 0, bal_cents FROM $v
           |  UNION ALL
           |  SELECT node,
           |         CAST(conv(substring(md5(CAST(cur AS STRING)), 1, 7), 16, 10)
           |              AS BIGINT) % cur,
           |         depth + 1, bal
           |  FROM walk WHERE cur > 0
           |)
           |SELECT depth, count(*) AS n_customers, sum(bal) AS bal_cents
           |FROM walk WHERE cur = 0 GROUP BY depth""".stripMargin)
        .localCheckpoint()
      finally prevLimit match {
        case Some(p) => s.conf.set("spark.sql.cteRecursionRowLimit", p)
        case None    => s.conf.unset("spark.sql.cteRecursionRowLimit")
      }
    }),

    // ---- Co-occurrence matrix: which event types happen TOGETHER in
    //      the same (user, hour) — the association signal behind
    //      "users who err also retry" dashboards. DISTINCT types per
    //      group FIRST (≤ |types| rows per group), so the pair
    //      self-join fans out at most |types|² per group — bounded by
    //      the type vocabulary, never by event volume. ----
    // ---- Market-basket association rules over order baskets:
    //      support / confidence / lift for item pairs, the classic
    //      affinity kernel. Items coarsened to 100 groups so pairs
    //      repeat; DISTINCT per basket FIRST, so the pair self-join
    //      fans out at most |items-per-basket|² per order (≤ ~50),
    //      bounded by basket width, never by order volume. Confidence
    //      and lift are integer micro-units (truncating div on both
    //      engines); the basket total enters as a broadcast scalar. ----
    "g20_basket_rules" -> ((s, dir) =>
      graft.operators.RelationalOps.basketRules(
        Tables.lineitem(s, dir).select(col("l_orderkey").as("oid"),
          pmod(col("l_partkey"), lit(100)).as("item")),
        "oid", "item")),

    // ---- X-G48: Space-Saving heavy hitters, driver-checkable via the
    //      g8/g12 sketch recipe — the hashed rows are the EXACT
    //      per-group top-3 (oracle-expressible) and the sketch's two
    //      ICDT'05 guarantees ride as oracle-asserted booleans:
    //      tracked_ok (every item with true freq > N/k IS tracked) and
    //      bounds_ok (count−err ≤ f ≤ count for every tracked item).
    //      `item` is a Zipf-ish deterministic integer map of user_id
    //      (`150 div (1+uid%150)` puts ~50% of mass on item 1) because
    //      the synthetic tables are uniform and uniform data has no
    //      heavy hitters to guarantee anything about. The sketch folds
    //      the SAME pure step the streaming pipeline folds
    //      (TopKPipeline.step), over a secondary-sorted partition
    //      iterator — O(k) state per live group, no group
    //      materialization, one exchange. ----
    "g21_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val k = 8
      val ev = Tables.events(s, dir).select(
        col("event_type").as("grp"),
        expr("150 div (1 + user_id % 150)").as("item"),
        col("event_id"), col("ts"))
      // exact counts feed three consumers (threshold check, bounds
      // check, hashed top-3) — checkpoint the vocab-bounded aggregate
      // so the fact table is scanned once for it, and derive the
      // per-group total from it (zero extra scans)
      val exact = ev.groupBy(col("grp"), col("item")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val n = exact.groupBy(col("grp")).agg(sum(col("cnt")).as("n_events"))
      val tracked = graft.streaming.TopKPipeline.heavyHittersBatch(
          ev.select(col("grp").as("group"), col("item"), col("event_id"), col("ts"))
            .as[graft.streaming.TopKInput], k)
        .toDF("grp", "item", "cnt_hi", "cnt_lo")
        .localCheckpoint() // tiny (groups×k); feeds both guarantee branches
      val trackedOk = exact.join(n, Seq("grp"))
        .filter(col("cnt") * k > col("n_events"))
        .join(tracked.select(col("grp"), col("item"), lit(true).as("__t")),
          Seq("grp", "item"), "left")
        .groupBy(col("grp"))
        .agg(bool_and(coalesce(col("__t"), lit(false))).as("tracked_ok"))
      val boundsOk = tracked.join(exact, Seq("grp", "item"), "left")
        .groupBy(col("grp"))
        .agg(bool_and(col("cnt_lo") <= col("cnt") && col("cnt") <= col("cnt_hi"))
          .as("bounds_ok"))
      topKPerGroup(exact, Seq("grp"), Seq(col("cnt").desc, col("item").asc), 3, "rnk")
        .join(broadcast(trackedOk), Seq("grp"), "left")
        .join(broadcast(boundsOk), Seq("grp"), "left")
        // a group with no item above N/k has nothing to guarantee
        .select(col("grp"), col("rnk"), col("item"), col("cnt"),
          coalesce(col("tracked_ok"), lit(true)).as("tracked_ok"),
          coalesce(col("bounds_ok"), lit(true)).as("bounds_ok"))
    }),

    // ---- S-6 scale path, driver-checkable: batch twin of streaming
    //      dropDuplicatesWithinWatermark (RelationalOps.dedupWithinDelay
    //      — greedy bounded-state dedup replayed over at-rest data).
    //      The greedy kept set is not ANSI-SQL-expressible, but it is
    //      UNIQUELY determined by three invariants, each checkable with
    //      joins/windows: the key's first event is kept, consecutive
    //      kept events sit > delay apart, and every event is covered by
    //      a kept event within delay at-or-before it. Those booleans
    //      are asserted by the oracle (g8 recipe); the exact hashed
    //      companions are per-key n_events/first_ts. delay = 48 h vs
    //      the events table's ~35 h median intra-key gap → genuinely
    //      multi-epoch (real drops AND real re-admits). ----
    "s9_dedup_within_delay" -> ((s, dir) => {
      val delayMicros = 48L * 3600 * 1000000L
      val delayI = expr("INTERVAL 48 HOURS")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      val kept = graft.operators.RelationalOps.dedupWithinDelay(
          ev, Seq("user_id", "event_type"), "ts", Seq("event_id"), delayMicros)
        .localCheckpoint() // feeds both invariant branches
      // ONE pass over events carries every per-key exact it needs
      // (count, first ts, first (ts, event_id)) — three fact scans
      // total: the dedup itself, this aggregate, the coverage join
      val evAgg = ev.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("first_ts"),
          min(struct(col("ts"), col("event_id"))).as("__f"))
      // one pass over kept: the gap invariant (partitioned lag window)
      // and the kept-side first event share the same grouped shape
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val keptAgg = kept.withColumn("__prev", lag(col("ts"), 1).over(wk))
        .groupBy(col("user_id"), col("event_type"))
        .agg(bool_and(col("__prev").isNull || col("ts") > col("__prev") + delayI)
            .as("gaps_ok"),
          min(struct(col("ts"), col("event_id"))).as("__fk"))
      // per-event coverage: ≤ epochs-per-key kept candidates per event
      // (span/delay-bounded fan-out), then bool_and up to the key
      val coverOk = ev
        .join(kept.select(col("user_id"), col("event_type"), col("ts").as("__kts")),
          Seq("user_id", "event_type"))
        .withColumn("__cov",
          col("__kts") <= col("ts") && col("ts") <= col("__kts") + delayI)
        .groupBy(col("user_id"), col("event_type"), col("event_id"))
        .agg(max(col("__cov")).as("__c"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(bool_and(col("__c")).as("cover_ok"))
      evAgg
        .join(keptAgg, Seq("user_id", "event_type"))
        .join(coverOk, Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"), col("n_events"), col("first_ts"),
          (col("__f") === col("__fk")).as("first_kept_ok"),
          col("gaps_ok"), col("cover_ok"))
    }),

    "g19_cooccur" -> ((s, dir) => {
      // r20: one shuffle on the (user, hour) group — collect_set
      // dedupes and materializes each group's types, a < b pairs are
      // enumerated locally (sorted array HOFs), replacing the former
      // distinct + merge self-join (two exchanges + two sorts) with
      // identical pairs; fan-out stays bounded by |types|² per group.
      // r21 (advice): null user/type rows are dropped explicitly —
      // the former self-join (and the oracle's equi-join) never
      // matched them, so the filter pins those semantics instead of
      // inheriting groupBy/collect_set's null-grouping behavior.
      Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("__hh"),
          col("event_type"))
        .groupBy(col("user_id"), col("__hh"))
        .agg(sort_array(collect_set(col("event_type"))).as("__types"))
        .select(explode(graft.operators.RelationalOps
          .orderedPairs(col("__types"), "type_a", "type_b")).as("__p"))
        .groupBy(col("__p.type_a").as("type_a"), col("__p.type_b").as("type_b"))
        .agg(count(lit(1)).as("n_cooccur"))
    }),

    // ---- J-3..J-5: outer / semi / anti joins (library completeness;
    //      the reference needs only inner, a user switching needs all) ----
    "j3_outer_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
    }),
    "j4_semi_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),
    "j5_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    // ---- J-6: banded range self-join — error events of the same user
    //      within 10 s of each other (equi-key + range predicate, so
    //      the shuffle stays on user_id and the band filter runs
    //      inside each key group) ----
    "j6_range_self" -> ((s, dir) => {
      val e = Tables.events(s, dir).filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts"))
      e.alias("a").join(e.alias("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_id") < col("b.event_id") &&
            abs(unix_timestamp(col("a.ts")) - unix_timestamp(col("b.ts"))) <= 10)
        .select(col("a.user_id").as("user_id"),
          col("a.event_id").as("e1"), col("b.event_id").as("e2"))
    }),

    // ---- J-8: interval join — the BATCH equivalent of the
    //      stream-stream interval join (VotePipeline.registrationVoteJoin,
    //      run here through the SAME operator: withWatermark is
    //      analyzer-eliminated on batch inputs). signup events play the
    //      registrations topic, purchases the votes topic; each vote
    //      matches registrations of the same user within the prior
    //      hour. Equi-key on user + residual time band, so the shuffle
    //      stays on the user key — no cartesian. ----
    "j8_interval_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val reg = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("voter_id"), col("ts").as("reg_time"),
          col("event_id").as("reg_event"))
      val votes = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("vote_voter_id"), col("ts").as("voting_time"),
          col("event_id").as("vote_event"))
      graft.streaming.VotePipeline.registrationVoteJoin(reg, votes, maxDelay = "1 hour")
        .select(col("voter_id"), col("reg_event"), col("vote_event"),
          col("voting_time"))
    }),

    // ---- J-9: bucketed co-located join — customer and orders are
    //      written ONCE as managed tables bucketed (and sorted) into 8
    //      buckets on the join key; the recurring join then runs with
    //      NO exchange on either side (StorageLayoutSpec pins the plan).
    //      Money is aggregated in exact integer cents so the oracle
    //      hash cannot drift on double summation order. ----
    "j9_bucketed_join" -> ((s, dir) => {
      val (cust, ord) = ensureBucketedTables(s, dir)
      s.table(cust)
        .join(s.table(ord).hint("merge"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    }),

    // ---- S-8: consumer catch-up poll as a driver query — every event
    //      row becomes an update-mode message stamped with a monotone
    //      batch_id on a file topic; the query re-reads the topic and
    //      keeps each key's LATEST message (VotePipeline.latestPerKey —
    //      the io_jdbc_roundtrip pattern applied to the topic
    //      transport). Topic dir is tagged with the sf dir so sf0.001
    //      warm-up can't leak into the run; materialization is memoized
    //      per (JVM, dir) so the TIMED body is the read path only — the
    //      topic write is transport setup, not the operator under test
    //      (Bench.prepare materializes it before the clock starts). ----
    "s8_latest_per_key" -> ((s, dir) => {
      val topicDir = ensureFileTopic(s, dir)
      val msgSchema = new StructType()
        .add("event_id", LongType).add("user_id", LongType)
        .add("event_type", StringType).add("value", DoubleType)
      graft.streaming.VotePipeline.latestPerKey(
        graft.streaming.VotePipeline.readFileTopic(s, topicDir),
        msgSchema, Seq("user_id", "event_type"))
    }),

    // ---- Incremental materialized-view maintenance: the per-(user,
    //      type) stats view is maintained by MERGING the delta's
    //      aggregates into the pre-split snapshot (sum-of-sums /
    //      min-of-mins), never re-reading base rows — how a 100 TB
    //      view stays fresh per ingest batch. The oracle computes the
    //      same view directly over all events: merged ≡ recomputed is
    //      exactly the mergeable-partial-aggregate contract. ----
    "mv_incremental" -> ((s, dir) => {
      val split = lit("2024-01-15").cast("timestamp")
      def aggOf(df: DataFrame) = df
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      val ev = Tables.events(s, dir)
      graft.operators.RelationalOps.mergeAggSnapshot(
          aggOf(ev.filter(col("ts") < split)),
          aggOf(ev.filter(col("ts") >= split)),
          Seq("user_id", "event_type"), sumCols = Seq("n", "cents"),
          minCols = Seq("first_ts"), maxCols = Seq("last_ts"))
        .withColumn("avg_cents",
          round(col("cents").cast("double") / col("n"), 6))
    }),

    // ---- X-A21: incremental DISTINCT-count MV via mergeable HLL
    //      sketches (Datasketches, hll_sketch_agg/hll_union) — the one
    //      aggregate [[mv_incremental]]'s sum/min/max algebra cannot
    //      maintain: COUNT(DISTINCT) is not mergeable from partials,
    //      so a 100 TB MV keeps a SKETCH column instead and folds each
    //      delta with hll_union (freshness costs |snapshot|+|delta|,
    //      never a base re-scan, at a bounded error). Gate = the g8
    //      sketch recipe: hash the exact distinct count, assert the
    //      merged-sketch estimate lands within 3·rsd(lgK=12 ≈ 1.6%)
    //      as an oracle-checked boolean. HLL on deterministic input is
    //      deterministic — a red here is drift, not luck. ----
    "mv_hll_distinct" -> ((s, dir) => {
      val split = lit("2024-01-15").cast("timestamp")
      def sketchOf(df: DataFrame) = df
        .groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      val ev = Tables.events(s, dir)
      val merged = sketchOf(ev.filter(col("ts") < split)).withColumnRenamed("sk", "sk_snap")
        .join(sketchOf(ev.filter(col("ts") >= split)).withColumnRenamed("sk", "sk_delta"),
          Seq("event_type"), "full")
        .select(col("event_type"),
          hll_sketch_estimate(
            when(col("sk_snap").isNull, col("sk_delta"))
              .when(col("sk_delta").isNull, col("sk_snap"))
              .otherwise(hll_union(col("sk_snap"), col("sk_delta")))).as("__est"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      exact.join(merged, Seq("event_type"))
        .select(col("event_type"), col("n_users"),
          (abs(col("__est").cast("double") - col("n_users")) <=
            col("n_users") * lit(0.05)).as("est_in_bound"))
    }),

    // ---- Time-grid resample + LOCF gap fill: each user's hourly
    //      buckets from their first to last event, empty hours carried
    //      forward from the last observed bucket. ----
    "ts_gapfill" -> ((s, dir) =>
      graft.operators.RelationalOps.resampleGapFill(Tables.events(s, dir),
        "user_id", "ts", round(col("value") * 100).cast("long"))),

    // ---- P-9: datetime expression battery ----
    "p9_datetime_exprs" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        year(col("ts")).as("y"),
        month(col("ts")).as("mo"),
        dayofmonth(col("ts")).as("d"),
        hour(col("ts")).as("h"),
        (col("ts") + expr("INTERVAL 7 DAYS")).as("ts_plus7"),
        datediff(col("ts").cast("date"), lit("1998-01-01").cast("date")).as("days_since"),
        unix_timestamp(col("ts")).as("epoch_sec"))
    }),

    // ---- P-10: null-handling battery ----
    "p10_null_exprs" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        coalesce(nullif(col("event_type"), lit("error")), lit("none")).as("type_or_none"),
        greatest(col("value"), lit(0.0)).as("v_pos"),
        least(col("value"), lit(0.0)).as("v_neg"),
        when(col("value").isNull, -1.0).otherwise(col("value")).as("v_filled"))
    }),

    // ---- P-13: string function battery #2 (regex extract, padding,
    //      translate, repeat/reverse, substring search, edit distance) ----
    "p13_string_funcs" -> ((s, dir) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "[0-9]+", 0).as("cust_digits"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("key_padded"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_translated"),
        repeat(lit("*"), pmod(col("c_custkey"), lit(4)).cast("int")).as("stars"),
        reverse(col("c_name")).as("name_rev"),
        instr(col("c_name"), "#").as("hash_pos"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("seg_dist"))
    }),

    // ---- G-11: pivot — per-user event-type count matrix. Expressed as
    //      conditional aggregation (count of when()) rather than
    //      .pivot(): one hash aggregate, no pivot machinery, no
    //      null-filling pass — measured 4x faster at sf0.1 ----
    "g11_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = types.map(t => count(when(col("event_type") === t, 1)).as(t))
      Tables.events(s, dir).groupBy(col("user_id"))
        .agg(aggs.head, aggs.tail: _*)
    }),

    // ---- P-11: array aggregation battery — collect_set sorted into a
    //      deterministic array, then array ops over it ----
    "p11_collect_array" -> ((s, dir) => {
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(sort_array(collect_set(col("user_id"))).as("users"))
        .select(col("event_type"), size(col("users")).as("n_users"),
          // serialize to a string: array-typed result columns are not
          // portable across result comparators
          array_join(transform(slice(col("users"), 1, 3), _.cast("string")), ",").as("first3"),
          element_at(col("users"), -1).as("max_user"))
    }),

    // ---- J-2: as-of join — each purchase picks up the most recent
    //      prior error event_id for the same user (composed from
    //      union + ignore-nulls window; no native Spark asof) ----
    "j2_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      asofJoin(
        left = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        right = e.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"), col("event_id")),
        keyCol = "user_id", tsCol = "ts", valueCol = "event_id",
        alias = "last_err", tiebreakCols = Seq("event_id"))
    }),

    // ---- G-1 under skew: salted two-stage aggregation, identical
    //      results to the direct groupBy (oracle is the plain SQL) ----
    "g1_salted_skew" -> ((s, dir) => {
      groupedSumSalted(Tables.events(s, dir), Seq("event_type"), "value",
        "total_value", saltSource = col("event_id"), buckets = 16)
        .select(col("event_type"), round(col("total_value"), 4).as("total_value"),
          col("total_value_n").as("total_votes"))
    }),

    // ---- G-10: exact interpolated percentiles per group ----
    "g10_percentiles" -> ((s, dir) => {
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
             round(expr("percentile(value, 0.9)"), 4).as("p90"))
    }),

    // ---- Q5: local-supplier volume — six-table join chain. Small dims
    //      (region→nation) broadcast; the lineitem fact streams through
    //      hash joins with both date filters pushed to the scans. ----
    "q5_local_supplier" -> ((s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
      val su = Tables.supplier(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
                  col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    // ---- G-13: typed Aggregator (Dataset custom aggregation surface)
    //      registered as a UDAF — min/max/count/sum fused in one pass,
    //      constant-size buffer per group ----
    "g13_typed_stats" -> ((s, dir) => {
      val stats = udaf(graft.functions.StatsAggregator)
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(stats(col("value")).as("st"))
        .select(col("event_type"),
          round(col("st.vmin"), 6).as("vmin"),
          round(col("st.vmax"), 6).as("vmax"),
          col("st.n").as("n"),
          round(col("st.sum"), 4).as("vsum"))
    }),

    // ---- G-12: approximate percentiles (Greenwald-Khanna sketch).
    //      Engine-specific estimates -> no SQL oracle (rows-only
    //      check); the error bound vs exact g10 is pinned in
    //      RelationalOpsSpec. THE scale path for quantiles: the exact
    //      percentile buffers every value per group, the sketch is
    //      fixed-size and merges map-side. ----
    //      r8: hash-green via the g8 pattern — the output carries the
    //      EXACT interpolated percentiles (the proven g10 ↔
    //      quantile_cont parity) plus booleans claiming each sketch
    //      value landed within ±0.01 RANK of its target (generous vs
    //      the Greenwald-Khanna ε = 1/accuracy = 0.001 guarantee, but
    //      robust to element discreteness at small n: the sketch
    //      returns a dataset ELEMENT while `percentile` interpolates,
    //      so a sub-element window is degenerate when groups are a few
    //      hundred rows). The oracle emits literal TRUE.
    "g12_approx_percentiles" -> ((s, dir) => {
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(expr("approx_percentile(value, 0.5, 1000)").as("__a50"),
             expr("approx_percentile(value, 0.9, 1000)").as("__a90"),
             expr("percentile(value, 0.49)").as("__lo50"),
             expr("percentile(value, 0.51)").as("__hi50"),
             expr("percentile(value, 0.89)").as("__lo90"),
             expr("percentile(value, 0.91)").as("__hi90"),
             round(expr("percentile(value, 0.5)"), 4).as("p50"),
             round(expr("percentile(value, 0.9)"), 4).as("p90"))
        .select(col("event_type"), col("p50"), col("p90"),
          (col("__a50") >= col("__lo50") && col("__a50") <= col("__hi50"))
            .as("p50_in_bound"),
          (col("__a90") >= col("__lo90") && col("__a90") <= col("__hi90"))
            .as("p90_in_bound"))
    }),

    // ---- S-3: Spark-native session_window aggregation — same 6h gap
    //      as s2 but computed by the built-in merging-window operator
    //      (one aggregation, no analytic window pass; the operator is
    //      also directly usable in streaming with watermark eviction).
    //      NOTE the boundary difference vs the lag formulation: a
    //      session_window session spans [start, last + gap), so a gap
    //      of EXACTLY 6h splits — the oracle encodes >= rather
    //      than >. ----
    "s3_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "6 hours").as("sw"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("n_events"), col("total_value"))
    }),

    // ---- S-2 extension: gap-based sessionization (6h gap), rolled up ----
    "s2_sessionize" -> ((s, dir) => {
      sessionize(Tables.events(s, dir), "user_id", "ts",
                 Seq(col("event_id").asc), gapSec = 21600L)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("session_start"),
             max(col("ts")).as("session_end"),
             round(sum(col("value")), 4).as("total_value"))
    }),

    // ---- Q14 analog: promo revenue share — conditional aggregation
    //      over a fact×dim join, the classic one-pass share-of-revenue
    //      shape (no second scan, no self-join; both sums ride one
    //      aggregate) ----
    "q14_promo_share" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      val p = Tables.part(s, dir)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(round(
          lit(100.0) *
            sum(when(col("p_type") === "PROMO",
              col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("promo_share"))
    }),

    // ---- P-16: UNPIVOT/melt — wide metrics to long (metric, val)
    //      rows, the transpose every feature-store export needs. The
    //      native unpivot plans as one Expand pass (like cube) — 4×
    //      the rows, ONE scan, no join. Values pass through untouched,
    //      so the compare is bit-exact. ----
    "p16_unpivot" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax")),
          "metric", "val")),

    // ---- P-17: higher-order array-function battery over the
    //      embedding column — transform / filter / exists / aggregate /
    //      zip_with / array_max / array_position, all evaluated inside
    //      the scan projection (no explode, no shuffle, codegen'd).
    //      Elements are micro-quantized to longs FIRST so every
    //      aggregate is an exact integer — float fold order never
    //      enters the compare. ----
    "p17_array_hof" -> ((s, dir) => {
      val qv = transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long"))
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        size(filter(qv, _ > 0L)).as("n_pos"),
        aggregate(qv, lit(0L), (a, x) => a + abs(x)).as("l1_micro"),
        array_max(qv).as("max_micro"),
        array_position(qv, array_max(qv)).as("argmax_pos"),
        exists(qv, x => abs(x) > lit(2000000L)).as("has_big"),
        aggregate(zip_with(qv, reverse(qv), _ * _), lit(0L), _ + _)
          .as("dot_rev"))
    }),

    // ---- P-18 / X-P5: Spark 4 VariantType over a schema-DRIFTING
    //      JSON feed — the open-schema ingestion path at 100 TB: parse
    //      ONCE into the binary variant encoding (no schema-inference
    //      pass, no per-reader from_json schema to keep in sync, no
    //      re-ingest when a producer adds a field), then extract typed
    //      fields by path with try_variant_get (absent/mistyped paths
    //      degrade to NULL, not errors — the P-15 quarantine semantics
    //      built into the type). The feed alternates a flat payload
    //      {v: double}, a drifted nested payload {v: {amount}}, and a
    //      corrupt non-JSON class; extraction coalesces both shapes
    //      and corrupt rows surface as the NULL group. The oracle
    //      computes the same semantic result straight from the source
    //      columns, so the variant roundtrip must be value-preserving;
    //      sums ride in cents (io_schema_evolution precedent). ----
    "p18_variant" -> ((s, dir) => {
      val payload = when(col("event_id") % 3 === 0,
          to_json(struct(col("value").as("v"), col("event_type").as("t"))))
        .when(col("event_id") % 3 === 1,
          to_json(struct(struct(col("value").as("amount")).as("v"),
            col("event_type").as("t"))))
        .otherwise(lit("not json"))
      Tables.events(s, dir)
        .select(col("event_id"), try_parse_json(payload).as("var"))
        .select(
          coalesce(
            try_variant_get(col("var"), "$.v", "double"),
            try_variant_get(col("var"), "$.v.amount", "double")).as("v"),
          try_variant_get(col("var"), "$.t", "string").as("t"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(round(col("v") * 100).cast("long")), lit(0L)).as("cents"))
    }),

    // ---- Top-values profile: the frequency companion to
    //      prof_columns — per column, the 3 most common values with
    //      counts and rank. Pre-grouped per column (map-side-combined
    //      groupBy on low-cardinality values — the prof_columns
    //      speed-up pattern) then a bounded per-column rank. ----
    "prof_topvalues" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val cols = Seq(
        "o_orderstatus" -> col("o_orderstatus").cast("string"),
        "o_orderpriority" -> col("o_orderpriority").cast("string"),
        "o_year" -> year(col("o_orderdate")).cast("string"))
      val counts = cols.map { case (n, c) =>
        o.groupBy(c.as("val")).agg(count(lit(1)).as("n"))
          .select(lit(n).as("col_name"), col("val"), col("n"))
      }.reduce(_ unionByName _)
      graft.operators.RelationalOps.topKPerGroup(counts, Seq("col_name"),
        Seq(col("n").desc, col("val").asc), 3, "rnk")
    }),

    // ---- Column profiler: the first query anyone runs on a new
    //      100 TB table. ONE scan — each row explodes into
    //      (col_name, canonical string) entries, then a single grouped
    //      aggregate computes rows/nulls/distinct/min/max per column.
    //      Canonical forms are chosen engine-portable: zero-padded
    //      integers (so lexicographic min/max == numeric order), exact
    //      IEEE floor for the double (no decimal-tie rounding
    //      divergence), fixed-pattern timestamps. n_distinct is the
    //      only non-map-side-combining term — the comment on
    //      profileColumns names approx_count_distinct as the 100 TB
    //      swap. ----
    "prof_columns" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      graft.operators.RelationalOps.profileColumns(o, Seq(
        "o_orderkey" -> lpad(col("o_orderkey").cast("string"), 12, "0"),
        "o_custkey" -> lpad(col("o_custkey").cast("string"), 12, "0"),
        "o_orderstatus" -> col("o_orderstatus"),
        "o_totalprice_floor" ->
          lpad(floor(col("o_totalprice")).cast("long").cast("string"), 12, "0"),
        "o_orderdate" -> date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
        "o_orderpriority" -> col("o_orderpriority"),
        "o_priority_nonlow" -> expr("nullif(o_orderpriority, '5-LOW')")))
    }),

    // ---- Correlated-subquery battery: the SQL surface a warehouse
    //      user actually writes. Catalyst DECORRELATES each of these
    //      into joins (RewriteCorrelatedScalarSubquery /
    //      RewritePredicateSubquery) — the plan must contain no
    //      nested-loop re-execution per outer row, which is the
    //      difference between O(n) and O(n²) at 100 TB. Plan shape
    //      pinned in PlanShapeSpec (semi/anti/agg joins, no
    //      per-row subquery nodes). ----

    // q4 analog: EXISTS — orders in a quarter having at least one
    // returned lineitem. Decorrelates to a LEFT SEMI join on
    // l_orderkey; the lineitem side prunes to (l_orderkey) after the
    // returnflag filter is pushed to the scan.
    "q4_priority_exists" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q4_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("q4_lineitem")
      s.sql(
        """SELECT o_orderpriority, count(*) AS order_count
           FROM q4_orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
             AND EXISTS (SELECT 1 FROM q4_lineitem
                         WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
           GROUP BY o_orderpriority""")
    }),

    // q17 analog: correlated SCALAR subquery — lineitems of one brand
    // below half their part's average quantity. Decorrelates to an
    // aggregate-then-join: ONE avg-per-partkey pass, not one avg per
    // outer row. The threshold is exact cross-engine because
    // l_quantity is integral (sum exact in double at any order).
    "q17_small_qty" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("q17_lineitem")
      Tables.part(s, dir).createOrReplaceTempView("q17_part")
      s.sql(
        """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
           FROM q17_lineitem, q17_part
           WHERE p_partkey = l_partkey
             AND p_brand = 'Brand#23'
             AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                               FROM q17_lineitem l2
                               WHERE l2.l_partkey = p_partkey)""")
    }),

    // q22 analog: uncorrelated scalar threshold + NOT EXISTS —
    // above-average-balance customers with no recent orders. The
    // scalar avg becomes a broadcast one-row join; NOT EXISTS becomes
    // a LEFT ANTI join against the date-filtered orders.
    "q22_idle_rich" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("q22_customer")
      Tables.orders(s, dir).createOrReplaceTempView("q22_orders")
      s.sql(
        """SELECT c_mktsegment AS segment, count(*) AS n_cust,
                  round(sum(c_acctbal), 2) AS total_bal
           FROM q22_customer
           WHERE c_acctbal > (SELECT avg(c_acctbal) FROM q22_customer
                              WHERE c_acctbal > 0)
             AND NOT EXISTS (SELECT 1 FROM q22_orders
                             WHERE o_custkey = c_custkey
                               AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
           GROUP BY c_mktsegment""")
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  private def coreOracle: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "p2_json_parse" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events""",

    "p5_json_encode" ->
      """SELECT event_id,
         CAST(to_json(struct_pack(event_id := event_id, event_type := event_type)) AS VARCHAR) AS js
         FROM events""",

    // p14: the oracle computes the expected leaf values straight from
    // the base columns — if Spark's build→from_json→extract chain
    // mangles any level, the hash diverges.
    "p14_nested_extract" ->
      """SELECT c_custkey,
         c_custkey % 1000 AS street_number,
         c_mktsegment AS street_name,
         n_name AS city,
         c_name AS full_name,
         c_custkey % 1000 AS street_number_json
         FROM customer JOIN nation ON c_nationkey = n_nationkey""",

    // corruption is a pure function of event_id, so the oracle only
    // replays the classification rule
    "p15_corrupt_quarantine" ->
      """SELECT CASE WHEN event_id % 10 = 0 THEN 'quarantined' ELSE 'ok' END AS status,
              count(*) AS n
         FROM events GROUP BY 1""",

    "g1_votes_per_type" ->
      """SELECT event_type, round(sum(value), 4) AS total_value, count(*) AS total_votes
         FROM events GROUP BY event_type""",

    "g2_turnout_by_nation" ->
      """SELECT n_name, count(*) AS total_voters
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",

    "g3_scalar_count" -> "SELECT count(*) AS n FROM events",

    "g4_leading_type" ->
      """SELECT event_type, count(*) AS total_votes
         FROM events GROUP BY event_type
         ORDER BY total_votes DESC, event_type ASC LIMIT 1""",

    "g6_share_of_total" ->
      """SELECT event_type, total_votes,
         round(CAST(total_votes AS DOUBLE) / sum(total_votes) OVER (), 6) AS share
         FROM (SELECT event_type, count(*) AS total_votes FROM events GROUP BY event_type)""",

    "j1_enrichment_join" ->
      """SELECT event_id, user_id, n_name AS assigned_nation
         FROM events JOIN nation ON user_id % 25 = n_nationkey""",

    "s6_dedup_first" ->
      """SELECT user_id, event_type, event_id, ts FROM (
           SELECT user_id, event_type, event_id, ts,
                  row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts ASC, event_id ASC) AS rn
           FROM events) WHERE rn = 1""",

    "o1_ranked_sort" ->
      """SELECT event_id, value, rank FROM (
           SELECT event_id, value,
                  row_number() OVER (ORDER BY value DESC, event_id ASC) AS rank
           FROM events) WHERE rank <= 1000""",

    "o2_pagination" ->
      """SELECT event_id, value FROM events
         ORDER BY value DESC, event_id ASC LIMIT 10 OFFSET 20""",

    "o3_top5" ->
      """SELECT event_id, event_type, value FROM events
         ORDER BY value DESC, event_id ASC LIMIT 5""",

    "s1_hourly_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n, round(sum(value), 4) AS total_value
         FROM events GROUP BY 1, 2""",

    "p7_scalar_exprs" ->
      """SELECT c_custkey,
         concat_ws(' ', c_name, c_mktsegment) AS full_label,
         string_split(c_name, '#')[2] AS cust_num,
         substr(c_name, 1, 8) AS name_prefix,
         CASE WHEN c_acctbal < 0 THEN 'delinquent' ELSE 'ok' END AS acct_status,
         printf('Party %d', (c_custkey % 3) + 1) AS party,
         1 AS vote
         FROM customer""",

    "o4_topk_per_group" ->
      """SELECT event_id, event_type, value, rnk FROM (
           SELECT event_id, event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id ASC) AS rnk
           FROM events) WHERE rnk <= 3""",

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",

    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",

    "q18_large_orders" ->
      """WITH big AS (
           SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING round(sum(l_quantity), 2) > 150)
         SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
         FROM orders
         JOIN big ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey""",

    "set_union" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         UNION
         SELECT user_id FROM events WHERE event_type = 'purchase'""",

    "set_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'purchase'""",

    "set_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'purchase'""",

    "g7_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type""",

    "g9_rollup" ->
      """SELECT event_type, date_trunc('day', ts) AS day,
         count(*) AS n, round(sum(value), 4) AS total_value
         FROM events GROUP BY ROLLUP (event_type, date_trunc('day', ts))""",

    "g15_argminmax" ->
      """SELECT user_id,
         arg_min(event_type, event_id) AS first_type,
         arg_max(event_type, event_id) AS last_type,
         min(event_id) AS first_event,
         max(event_id) AS last_event
         FROM events GROUP BY user_id""",

    "g14_cube" ->
      """SELECT event_type, nullif(event_type, 'click') AS err_code,
         count(*) AS n, round(sum(value), 4) AS total_value
         FROM events GROUP BY CUBE (event_type, nullif(event_type, 'click'))""",

    "g16_grouping_sets" ->
      """SELECT event_type, user_id % 10 AS user_bucket,
              count(*) AS n, round(sum(value), 4) AS total_value
         FROM events
         GROUP BY GROUPING SETS ((event_type), (event_type, user_id % 10), ())""",

    "j7_null_safe_join" ->
      """WITH e AS (SELECT event_id, nullif(event_type, 'click') AS err_code
                    FROM events),
         ec AS (SELECT err_code AS err_key, count(*) AS n_events
                FROM e GROUP BY err_code)
         SELECT event_id, err_code, n_events
         FROM e JOIN ec ON e.err_code IS NOT DISTINCT FROM ec.err_key""",

    "w1_moving_avg" ->
      """SELECT user_id, event_id, ts,
         round(avg(value) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg3
         FROM events""",

    // dyadic EWMA: integer milli-values, power-of-two weights over the
    // trailing 8 rows, truncated integer quotient — exact on both sides
    "w4_ewma" ->
      """WITH v AS (SELECT user_id, event_id, ts,
                      CAST(round(value * 1000) AS BIGINT) AS v
                    FROM events),
         l AS (SELECT user_id, event_id, v,
                 lag(v, 1) OVER w AS v1, lag(v, 2) OVER w AS v2,
                 lag(v, 3) OVER w AS v3, lag(v, 4) OVER w AS v4,
                 lag(v, 5) OVER w AS v5, lag(v, 6) OVER w AS v6,
                 lag(v, 7) OVER w AS v7
               FROM v
               WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
         SELECT user_id, event_id, v AS v_milli,
                (v * 128 + COALESCE(v1, 0) * 64 + COALESCE(v2, 0) * 32
                 + COALESCE(v3, 0) * 16 + COALESCE(v4, 0) * 8
                 + COALESCE(v5, 0) * 4 + COALESCE(v6, 0) * 2 + COALESCE(v7, 0))
                // (128 + CASE WHEN v1 IS NULL THEN 0 ELSE 64 END
                   + CASE WHEN v2 IS NULL THEN 0 ELSE 32 END
                   + CASE WHEN v3 IS NULL THEN 0 ELSE 16 END
                   + CASE WHEN v4 IS NULL THEN 0 ELSE 8 END
                   + CASE WHEN v5 IS NULL THEN 0 ELSE 4 END
                   + CASE WHEN v6 IS NULL THEN 0 ELSE 2 END
                   + CASE WHEN v7 IS NULL THEN 0 ELSE 1 END) AS ewma_milli
         FROM l""",

    "ts_anomaly" ->
      """WITH t AS (SELECT user_id,
                      round(quantile_cont(value, 0.95), 4) AS p95
                    FROM events GROUP BY user_id)
         SELECT e.user_id, e.event_id, e.value, t.p95
         FROM events e JOIN t USING (user_id)
         WHERE e.value > t.p95""",

    // each rule's violation count via FILTER aggregates over one scan;
    // NULL rule results count as violations on both engines
    "dq_constraints" ->
      """WITH a AS (SELECT count(*) AS n,
           count(*) FILTER (NOT COALESCE(l_quantity >= 1 AND l_quantity <= 50, false)) AS v_quantity_in_domain,
           count(*) FILTER (NOT COALESCE(l_extendedprice > 0, false)) AS v_price_positive,
           count(*) FILTER (NOT COALESCE(l_discount >= 0 AND l_discount <= 0.1, false)) AS v_discount_in_unit,
           count(*) FILTER (NOT COALESCE(l_shipdate >= TIMESTAMP '1992-01-01 00:00:00', false)) AS v_shipdate_in_range,
           count(*) FILTER (NOT COALESCE(l_returnflag IN ('A', 'N', 'R'), false)) AS v_returnflag_enum
         FROM lineitem),
         u AS (SELECT n, 'quantity_in_domain' AS rule, v_quantity_in_domain AS n_violations FROM a
               UNION ALL SELECT n, 'price_positive', v_price_positive FROM a
               UNION ALL SELECT n, 'discount_in_unit', v_discount_in_unit FROM a
               UNION ALL SELECT n, 'shipdate_in_range', v_shipdate_in_range FROM a
               UNION ALL SELECT n, 'returnflag_enum', v_returnflag_enum FROM a)
         SELECT rule, n_violations, n AS n_checked,
                n_violations = 0 AS pass
         FROM u""",

    // the observed-metrics row the production job's scan produced;
    // count(when(...)) ≡ FILTER (both skip NULL/false predicates)
    "dq_observe" ->
      """SELECT count(*) AS n_rows,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         count(*) FILTER (l_discount < 0 OR l_discount > 0.1) AS n_bad_discount,
         count(*) FILTER (l_shipdate IS NULL OR l_returnflag IS NULL) AS n_null_keys
         FROM lineitem""",

    // OLS slope as integer numerator/denominator + truncated milli
    // quotient; x = epoch day, y = daily cents, all BIGINT
    "ts_trend" ->
      """WITH d AS (SELECT event_type,
                      CAST(date_diff('day', DATE '1970-01-01',
                        CAST(ts AS DATE)) AS BIGINT) AS x,
                      SUM(CAST(round(value * 100) AS BIGINT)) AS y
                    FROM events GROUP BY 1, 2),
         a AS (SELECT event_type, count(*) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
               FROM d GROUP BY 1)
         SELECT event_type, n,
                CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
                CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
                CAST((n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx)
                  AS BIGINT) AS slope_milli
         FROM a""",

    // daily cents are exact longs; the numerator is the multiplied-out
    // integer form n*Sxy - Sx*Sy — no division, no float anywhere
    "ts_acf" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      SUM(CAST(round(value * 100) AS BIGINT)) AS c
                    FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, c,
                 lag(c, 1) OVER w AS l1, lag(c, 2) OVER w AS l2,
                 lag(c, 3) OVER w AS l3
               FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         u AS (SELECT event_type, 1 AS lag_k, c AS x, l1 AS y FROM l
               UNION ALL SELECT event_type, 2, c, l2 FROM l
               UNION ALL SELECT event_type, 3, c, l3 FROM l)
         SELECT event_type, lag_k, count(*) AS n,
                CAST(count(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT)
                  AS acov_num
         FROM u WHERE y IS NOT NULL GROUP BY 1, 2""",

    // dow via isodow-1 (Monday=0) matches Spark's weekday(); integer
    // milli index over non-negative sums, so // equals div exactly
    "ts_seasonal" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      SUM(CAST(round(value * 100) AS BIGINT)) AS c
                    FROM events GROUP BY 1, 2),
         p AS (SELECT event_type, CAST(isodow(day) - 1 AS BIGINT) AS dow,
                 count(*) AS n_days, CAST(SUM(c) AS BIGINT) AS cents
               FROM d GROUP BY 1, 2),
         t AS (SELECT *,
                 CAST(SUM(n_days) OVER (PARTITION BY event_type) AS BIGINT) AS nt,
                 CAST(SUM(cents) OVER (PARTITION BY event_type) AS BIGINT) AS tot
               FROM p)
         SELECT event_type, dow, n_days, cents,
                CAST(CAST(cents AS HUGEINT) * nt * 1000
                     // (CAST(tot AS HUGEINT) * n_days) AS BIGINT) AS idx_milli
         FROM t""",

    // the oracle enumerates triangles DIRECTLY from the canonical
    // a<b<c edge triples — an independent formulation checking the
    // degree-oriented algorithm's result, not mirroring its steps
    "gr_triangles" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS oid, l_partkey % 200 AS item
                     FROM lineitem),
         e0 AS (SELECT a.item AS lo, b.item AS hi
                FROM it a JOIN it b ON a.oid = b.oid AND a.item < b.item
                GROUP BY 1, 2 HAVING count(*) >= 3),
         t AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
               FROM e0 e1
               JOIN e0 e2 ON e1.hi = e2.lo
               JOIN e0 e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
         SELECT node, count(*) AS n_triangles
         FROM (SELECT unnest([a, b, c]) AS node FROM t)
         GROUP BY node""",

    // the scaled CUSUM statistic |n·prefix_k − k·total| is pure
    // integer, so the argmax day is engine-exact; ties break earliest
    "ts_cusum" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      SUM(CAST(round(value * 100) AS BIGINT)) AS c
                    FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, day,
                 CAST(SUM(c) OVER w AS BIGINT) AS prefix,
                 CAST(row_number() OVER w AS BIGINT) AS k,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                 CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
               FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day))
         SELECT event_type, day AS cp,
                CAST(abs(n * prefix - k * total) AS BIGINT) AS s_max,
                n AS n_points
         FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                 ORDER BY abs(n * prefix - k * total) DESC, day ASC) AS r
               FROM s)
         WHERE r = 1""",

    // one full-outer join, six conditional counts — the same single
    // pass the Spark side runs
    "dq_table_diff" ->
      """WITH o AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS p,
                      o_orderstatus AS st
                    FROM orders),
         m AS (SELECT k, CASE WHEN k % 31 = 0 THEN p + 1 ELSE p END AS p,
                      CASE WHEN k % 53 = 0 THEN 'X' ELSE st END AS st
               FROM o WHERE k % 97 <> 0
               UNION ALL SELECT -k, p, st FROM o WHERE k % 89 = 0),
         j AS (SELECT o.k AS lk, m.k AS rk, o.p AS lp, m.p AS rp,
                      o.st AS lst, m.st AS rst
               FROM o FULL OUTER JOIN m ON o.k = m.k)
         SELECT 'only_left' AS metric, count(*) AS n FROM j WHERE rk IS NULL
         UNION ALL SELECT 'only_right', count(*) FROM j WHERE lk IS NULL
         UNION ALL SELECT 'matched_equal', count(*) FROM j
           WHERE lk IS NOT NULL AND rk IS NOT NULL
             AND lp IS NOT DISTINCT FROM rp AND lst IS NOT DISTINCT FROM rst
         UNION ALL SELECT 'matched_differ', count(*) FROM j
           WHERE lk IS NOT NULL AND rk IS NOT NULL
             AND (lp IS DISTINCT FROM rp OR lst IS DISTINCT FROM rst)
         UNION ALL SELECT 'col_diff:price_cents', count(*) FROM j
           WHERE lk IS NOT NULL AND rk IS NOT NULL AND lp IS DISTINCT FROM rp
         UNION ALL SELECT 'col_diff:status', count(*) FROM j
           WHERE lk IS NOT NULL AND rk IS NOT NULL AND lst IS DISTINCT FROM rst""",

    // the identical md5-mod walk, recursion for recursion — DuckDB's
    // WITH RECURSIVE checks Spark's UnionLoop execution end to end
    "gr_reachability" ->
      """WITH RECURSIVE walk AS (
           SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS bal
           FROM customer
           UNION ALL
           SELECT node,
                  CAST('0x' || substr(md5(CAST(cur AS VARCHAR)), 1, 7) AS BIGINT)
                    % cur,
                  depth + 1, bal
           FROM walk WHERE cur > 0)
         SELECT depth, count(*) AS n_customers,
                CAST(sum(bal) AS BIGINT) AS bal_cents
         FROM walk WHERE cur = 0 GROUP BY depth""",

    // pair counts over per-basket DISTINCT items; micro-unit ratios
    // with truncating // match Spark's div exactly
    "g20_basket_rules" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS oid, l_partkey % 100 AS item
                     FROM lineitem),
         nb AS (SELECT count(*) AS n FROM (SELECT DISTINCT oid FROM it)),
         ci AS (SELECT item, count(*) AS ni FROM it GROUP BY item),
         p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
               FROM it a JOIN it b ON a.oid = b.oid AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= 5)
         SELECT item_a, item_b, n_ab,
                CAST(n_ab * 1000000 // ca.ni AS BIGINT) AS conf_micro,
                CAST(n_ab * nb.n * 1000000 // (ca.ni * cb.ni) AS BIGINT)
                  AS lift_micro
         FROM p JOIN ci ca ON p.item_a = ca.item
                JOIN ci cb ON p.item_b = cb.item, nb""",

    // the hashed rows are the EXACT per-group top-3; the Space-Saving
    // guarantees are Spark-side claims the oracle asserts true (g8
    // recipe) — a sketch violating its ICDT'05 bounds reds the row
    "g21_heavy_hitters" ->
      """WITH exact AS (
           SELECT event_type AS grp, 150 // (1 + user_id % 150) AS item,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2)
         SELECT grp, rnk, item, cnt,
                true AS tracked_ok, true AS bounds_ok
         FROM (SELECT grp, item, cnt,
                      row_number() OVER (PARTITION BY grp
                                         ORDER BY cnt DESC, item ASC) AS rnk
               FROM exact)
         WHERE rnk <= 3""",

    // greedy watermark dedup is not ANSI-expressible; the oracle hashes
    // the exact per-key companions and asserts the three invariants
    // that uniquely determine the greedy kept set
    "s9_dedup_within_delay" ->
      """SELECT user_id, event_type, count(*) AS n_events, min(ts) AS first_ts,
              true AS first_kept_ok, true AS gaps_ok, true AS cover_ok
         FROM events GROUP BY 1, 2""",

    // the merged read equals the union of both generations: all rows
    // count, only odd event_ids (gen=2) carry cents
    "io_schema_evolution" ->
      """SELECT event_type, count(*) AS n,
              count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_with_cents,
              CAST(SUM(CASE WHEN event_id % 2 = 1
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS total_cents
         FROM events GROUP BY event_type""",

    // partition pruning returns exactly the partition's rows — the
    // oracle is the plain filtered aggregate over the source table
    "io_partition_prune" ->
      """SELECT event_type, count(*) AS n,
              CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS total_cents
         FROM events WHERE event_type = 'purchase' GROUP BY event_type""",

    "g19_cooccur" ->
      """WITH e AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS hh, event_type
                    FROM events)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                count(*) AS n_cooccur
         FROM e a JOIN e b
           ON a.user_id = b.user_id AND a.hh = b.hh
          AND a.event_type < b.event_type
         GROUP BY 1, 2""",

    "g17_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
         c AS (SELECT user_id, min(d) AS cohort_date FROM e GROUP BY user_id)
         SELECT c.cohort_date, date_diff('day', c.cohort_date, e.d) AS day_offset,
                count(DISTINCT e.user_id) AS n_users
         FROM e JOIN c USING (user_id)
         GROUP BY 1, 2""",

    // ordered funnel: each stage's first timestamp at or after the
    // previous stage's first timestamp
    "g18_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS t_click
               FROM events e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.ts >= v.t_view
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase
               FROM events e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
               GROUP BY e.user_id)
         SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
                1 + CASE WHEN c.t_click IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN p.t_purchase IS NULL THEN 0 ELSE 1 END AS stage
         FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""",

    // array HOF battery: micro-quantized longs so every fold is exact
    "p17_array_hof" ->
      """WITH q AS (SELECT vec_id, len(embedding) AS n_dims,
                      list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
                    FROM embeddings)
         SELECT vec_id, n_dims,
                len(list_filter(qv, x -> x > 0)) AS n_pos,
                CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1_micro,
                list_max(qv) AS max_micro,
                list_position(qv, list_max(qv)) AS argmax_pos,
                len(list_filter(qv, x -> abs(x) > 2000000)) > 0 AS has_big,
                CAST(list_sum(list_transform(range(1, n_dims + 1),
                  i -> qv[i] * qv[n_dims + 1 - i])) AS BIGINT) AS dot_rev
         FROM q""",

    // the variant parse/extract roundtrip must be value-preserving, so
    // the oracle computes the same semantic result straight from the
    // source columns: corrupt rows (event_id % 3 = 2) form the NULL
    // group with a zero sum
    "p18_variant" ->
      """SELECT CASE WHEN event_id % 3 = 2 THEN NULL ELSE event_type END AS t,
              count(*) AS n,
              CAST(coalesce(sum(CASE WHEN event_id % 3 = 2 THEN NULL
                            ELSE CAST(round(value * 100) AS BIGINT) END), 0)
                   AS BIGINT) AS cents
         FROM events GROUP BY 1""",

    "w3_range_frame" ->
      """SELECT user_id, event_id,
         count(*) OVER (PARTITION BY user_id
                        ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
         FROM events""",

    "w2_window_battery" ->
      """SELECT user_id, event_id,
         lag(value, 1) OVER w AS prev_value,
         lead(value, 1) OVER w AS next_value,
         row_number() OVER w AS rn,
         ntile(4) OVER w AS quartile,
         round(cume_dist() OVER w, 6) AS cdist,
         first_value(event_id) OVER wr AS first_event,
         round(sum(value) OVER wr, 4) AS running_value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
                wr AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "j3_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey""",

    "j4_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "j5_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "j6_range_self" ->
      """SELECT a.user_id AS user_id, a.event_id AS e1, b.event_id AS e2
         FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') a
         JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(CAST(floor(epoch(a.ts)) AS BIGINT) - CAST(floor(epoch(b.ts)) AS BIGINT)) <= 10""",

    "p9_datetime_exprs" ->
      """SELECT event_id,
         year(ts) AS y, month(ts) AS mo, day(ts) AS d, hour(ts) AS h,
         ts + INTERVAL 7 DAY AS ts_plus7,
         date_diff('day', DATE '1998-01-01', CAST(ts AS DATE)) AS days_since,
         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec
         FROM events""",

    "p10_null_exprs" ->
      """SELECT event_id,
         coalesce(nullif(event_type, 'error'), 'none') AS type_or_none,
         greatest(value, 0.0) AS v_pos,
         least(value, 0.0) AS v_neg,
         CASE WHEN value IS NULL THEN -1.0 ELSE value END AS v_filled
         FROM events""",

    "p13_string_funcs" ->
      """SELECT c_custkey,
         regexp_extract(c_name, '[0-9]+') AS cust_digits,
         lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
         translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated,
         repeat('*', c_custkey % 4) AS stars,
         reverse(c_name) AS name_rev,
         instr(c_name, '#') AS hash_pos,
         levenshtein(c_mktsegment, 'BUILDING') AS seg_dist
         FROM customer""",

    "g11_pivot" ->
      """SELECT user_id,
         count(*) FILTER (event_type = 'click') AS click,
         count(*) FILTER (event_type = 'error') AS error,
         count(*) FILTER (event_type = 'purchase') AS purchase,
         count(*) FILTER (event_type = 'signup') AS signup,
         count(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY user_id""",

    "p11_collect_array" ->
      """SELECT event_type, len(users) AS n_users,
         array_to_string(users[1:3], ',') AS first3,
         users[len(users)] AS max_user
         FROM (SELECT event_type, list_sort(list(DISTINCT user_id)) AS users
               FROM events GROUP BY event_type)""",

    "j2_asof_join" ->
      """WITH l AS (SELECT user_id, ts, event_id, value,
                      CAST(NULL AS BIGINT) AS le, 1 AS src
                    FROM events WHERE event_type = 'purchase'),
         r AS (SELECT user_id, ts, event_id, CAST(NULL AS DOUBLE) AS value,
                 event_id AS le, 0 AS src
               FROM events WHERE event_type = 'error'),
         u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
         c AS (SELECT user_id, ts, event_id, value, src,
                 last_value(le IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY ts ASC, src ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err
               FROM u)
         SELECT user_id, ts, event_id, value, last_err FROM c WHERE src = 1""",

    "g1_salted_skew" ->
      """SELECT event_type, round(sum(value), 4) AS total_value, count(*) AS total_votes
         FROM events GROUP BY event_type""",

    "j8_interval_join" ->
      """SELECT r.user_id AS voter_id, r.event_id AS reg_event,
              v.event_id AS vote_event, v.ts AS voting_time
         FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup') r
         JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') v
           ON r.user_id = v.user_id
          AND v.ts >= r.ts AND v.ts <= r.ts + INTERVAL 1 HOUR""",

    // the bucketed tables hold byte-identical copies of customer/
    // orders, so the oracle joins the raw parquet; cents are exact ints
    "j9_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment""",

    // batch_id = event_id, so "latest message per key" is the max-
    // event_id row per (user_id, event_type)
    "s8_latest_per_key" ->
      """SELECT event_id, user_id, event_type, value FROM (
           SELECT event_id, user_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY event_id DESC) AS rn
           FROM events) WHERE rn = 1""",

    // the merged view must equal the view computed directly over ALL
    // events — the mergeable-partial-aggregate contract
    "mv_incremental" ->
      """SELECT user_id, event_type, count(*) AS n,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
              min(ts) AS first_ts, max(ts) AS last_ts,
              round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    / count(*), 6) AS avg_cents
         FROM events GROUP BY user_id, event_type""",

    // sketch estimates are engine-specific; the oracle hashes the
    // exact distinct count and asserts the merged-sketch bound (g8
    // recipe)
    "mv_hll_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
              true AS est_in_bound
         FROM events GROUP BY event_type""",

    "ts_gapfill" ->
      """WITH hourly AS (
           SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
                  count(*) AS n_events,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx
                    FROM hourly GROUP BY 1),
         grid AS (SELECT user_id,
                    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts
                  FROM bounds)
         SELECT g.user_id, g.bucket_ts,
                coalesce(h.n_events, 0) AS n_events, h.cents,
                last_value(h.cents IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_filled
         FROM grid g LEFT JOIN hourly h
           ON g.user_id = h.user_id AND g.bucket_ts = h.bucket_ts""",

    "g13_typed_stats" ->
      """SELECT event_type,
         round(min(value), 6) AS vmin, round(max(value), 6) AS vmax,
         count(*) AS n, round(sum(value), 4) AS vsum
         FROM events GROUP BY event_type""",

    "g10_percentiles" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 4) AS p50,
         round(quantile_cont(value, 0.9), 4) AS p90
         FROM events GROUP BY event_type""",

    // The sketch queries hash their EXACT companions; the booleans are
    // Spark-side claims that each estimate sat inside its error bound —
    // the oracle asserts them true, so a drifting sketch turns the row
    // red (engine-specific estimate values themselves never hash).
    "g8_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         true AS est_in_bound
         FROM events GROUP BY event_type""",

    "g12_approx_percentiles" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 4) AS p50,
         round(quantile_cont(value, 0.9), 4) AS p90,
         true AS p50_in_bound, true AS p90_in_bound
         FROM events GROUP BY event_type""",

    "q5_local_supplier" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name""",

    "s3_session_window" ->
      """WITH g AS (
           SELECT user_id, ts, value,
                  lag(ts) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS prev_ts
           FROM events),
         s AS (
           SELECT user_id, ts, value,
                  sum(CASE WHEN prev_ts IS NULL
                            OR date_diff('second', prev_ts, ts) >= 21600
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id
                          ORDER BY ts ASC) AS seq
           FROM g)
         SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
                round(sum(value), 4) AS total_value
         FROM s GROUP BY user_id, seq""",

    "s2_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, ts, value,
                  lag(ts) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS prev_ts
           FROM events),
         s AS (
           SELECT user_id, event_id, ts, value,
                  CAST(sum(CASE WHEN prev_ts IS NULL
                            OR date_diff('second', prev_ts, ts) > 21600
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id
                          ORDER BY ts ASC, event_id ASC) AS BIGINT) AS session_seq
           FROM g)
         SELECT user_id, session_seq, count(*) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end,
                round(sum(value), 4) AS total_value
         FROM s GROUP BY user_id, session_seq""",

    "q14_promo_share" ->
      """SELECT round(
           100.0 * sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'""",

    "p16_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
         FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
         FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""",

    "prof_topvalues" ->
      """WITH u AS (
           SELECT 'o_orderstatus' AS col_name,
                  CAST(o_orderstatus AS VARCHAR) AS val, count(*) AS n
           FROM orders GROUP BY 2
           UNION ALL
           SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR), count(*)
           FROM orders GROUP BY 2
           UNION ALL
           SELECT 'o_year', CAST(year(o_orderdate) AS VARCHAR), count(*)
           FROM orders GROUP BY 2)
         SELECT col_name, val, n, rnk FROM (
           SELECT col_name, val, n,
                  row_number() OVER (PARTITION BY col_name
                                     ORDER BY n DESC, val ASC) AS rnk
           FROM u)
         WHERE rnk <= 3""",

    "prof_columns" ->
      """WITH s AS (
           SELECT 'o_orderkey' AS col_name,
                  lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS val FROM orders
           UNION ALL SELECT 'o_custkey',
                  lpad(CAST(o_custkey AS VARCHAR), 12, '0') FROM orders
           UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
           UNION ALL SELECT 'o_totalprice_floor',
                  lpad(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 12, '0')
                  FROM orders
           UNION ALL SELECT 'o_orderdate',
                  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') FROM orders
           UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
           UNION ALL SELECT 'o_priority_nonlow',
                  nullif(o_orderpriority, '5-LOW') FROM orders)
         SELECT col_name, count(*) AS n_rows,
                count(*) - count(val) AS n_nulls,
                count(DISTINCT val) AS n_distinct,
                min(val) AS min_val, max(val) AS max_val
         FROM s GROUP BY col_name""",

    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority""",

    "q17_small_qty" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND p_brand = 'Brand#23'
           AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)""",

    "q22_idle_rich" ->
      """SELECT c_mktsegment AS segment, count(*) AS n_cust,
                round(sum(c_acctbal), 2) AS total_bal
         FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                            WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         GROUP BY c_mktsegment"""
  )
}

/** Named side artifacts (fixture tables, layouts, indexes), each built
  * at most once per registry into its own root under `base`:
  * `<base>/<name>_<dirTag>_<orders fingerprint>`. The fingerprint gives
  * a REGENERATED source at the same path a fresh root instead of one
  * built from the old bytes (which would diverge from the DuckDB
  * oracle).
  *
  * The once-guard is one `computeIfAbsent` on the root, with the build
  * INSIDE the mapping function: a concurrent caller for the same root
  * blocks until the winner's build completes instead of reading a
  * half-written layout, and a throwing build records no mapping, so the
  * next caller retries. Every attempt starts by wiping the root, so a
  * retry never sees a failed attempt's leftovers. A build must not
  * ensure another fixture of the same registry (the map forbids nested
  * updates).
  */
private[graft] final class Fixtures(base: => java.nio.file.Path) {
  import scala.jdk.CollectionConverters._
  import Fixtures._

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private val registered = new java.util.concurrent.CopyOnWriteArrayList[Fixture[_]]()

  /** One fixture: `session` runs on EVERY call (per-session state such
    * as catalog confs) and returns the caller's handle; `build` writes
    * the root once. Both get (session, sf dir, root). */
  final class Fixture[A] private[Fixtures] (
      val name: String,
      session: (SparkSession, String, String) => A,
      build: (SparkSession, String, String) => Unit) {
    def root(dir: String): String =
      base.resolve(s"${name}_${dirTag(dir)}_${ordersFingerprint(dir)}").toString

    /** Whether `dir`'s root is built (or being built) in this registry. */
    def built(dir: String): Boolean = memo.containsKey(root(dir))

    def apply(s: SparkSession, dir: String): A = {
      val r = root(dir)
      val handle = session(s, dir, r)
      memo.computeIfAbsent(r, _ => {
        graft.sources.TxnLog.deleteRecursively(java.nio.file.Paths.get(r))
        build(s, dir, r)
        java.lang.Boolean.TRUE
      })
      handle
    }
  }

  /** Register a fixture whose handle is its root. */
  def apply(name: String)(build: (SparkSession, String, String) => Unit): Fixture[String] =
    withSession(name, (_, _, root) => root)(build)

  def withSession[A](name: String, session: (SparkSession, String, String) => A)(
      build: (SparkSession, String, String) => Unit): Fixture[A] = {
    require(!all.exists(_.name == name), s"fixture $name registered twice")
    val f = new Fixture(name, session, build)
    registered.add(f)
    f
  }

  /** Every registered fixture, in registration order. */
  def all: Seq[Fixture[_]] = registered.asScala.toSeq
}

private[graft] object Fixtures {
  /** This JVM's fixture dir. `createTempDirectory` never returns a path
    * that existed before, so no root under it can hold another JVM's
    * half-built or concurrently rebuilt fixture (a dir shared across
    * JVMs showed up as "version N out of range (head 2)" mid-query and
    * as embedded Derby's one-JVM boot lock refusing the database).
    * Deleted at JVM exit, best effort.
    */
  lazy val jvmDir: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-jvm-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try graft.sources.TxnLog.deleteRecursively(d) catch { case _: Throwable => () }))
    d
  }

  /** Filesystem-safe tag for `dir`, unique per raw dir string: the
    * readable prefix strips non-alphanumerics — under which distinct
    * dirs like /data/x and /data_x collide — so a hashCode suffix
    * disambiguates (r10 advice #2). Shared by every fixture root and
    * tagged table/DB name.
    */
  def dirTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + Integer.toHexString(dir.hashCode)

  /** Size+mtime fingerprint of the source `orders` parquet. */
  private def ordersFingerprint(dir: String): String = {
    val p = java.nio.file.Paths.get(dir, "orders.parquet")
    val tag =
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.size(p) ^ java.nio.file.Files.getLastModifiedTime(p).toMillis
      else 0L
    java.lang.Long.toHexString(tag)
  }
}
