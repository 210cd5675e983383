package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fixtures.dirTag
import graft.queries._

/** Driver contract: the query registry, the fixtures the queries
  * read, and the flagship [[entry]] (see SURVEY.md §7).
  *
  * Each query is one [[graft.queries.QuerySpec]], declared once in its
  * battery under `graft.queries` (core, text, dedup, sim, multimodal,
  * corpus, io, tpch): its name, the DuckDB SQL that must return the
  * same rows, and its Spark build. [[queries]] and [[oracleSql]] are
  * two views of that one registry, so every query carries its oracle
  * and no name is declared twice. Column names are aliased identically
  * on both sides (the oracle compare sorts columns by name before
  * hashing).
  *
  * Double-typed aggregates are rounded on BOTH sides so summation-order
  * differences between Spark and DuckDB (last-ulp fp noise) cannot flip
  * the hash.
  *
  * The fixtures stay here rather than in the batteries: a fixture
  * declared inside a battery object would register only when that
  * object first initializes, and [[prepare]] would miss it.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every query by name, built once; a duplicated name throws. */
  private[graft] lazy val registry: Map[String, QuerySpec] = QuerySpec.registry(
    CoreQueries.specs ++ TextQueries.specs ++ DedupQueries.specs ++ SimQueries.specs ++
      MultimodalQueries.specs ++ CorpusQueries.specs ++ IoQueries.specs ++ TpchQueries.specs)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  lazy val oracleSql: Map[String, String] =
    registry.map { case (name, q) => name -> q.oracle }

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
  private[graft] val ensureFileTopic = fixtures("topic") { (s, dir, topicDir) =>
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
  private[graft] val ensureBucketedTables = fixtures.withSession("bucketed", (s, dir, _) =>
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
  private[graft] val ensurePartitionedEvents = fixtures("part_events") { (s, dir, pdir) =>
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
  private[graft] val ensureEvolvedEvents = fixtures("evolve") { (s, dir, root) =>
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
  private[graft] def ordersZorderStats(s: SparkSession, dir: String): DataFrame =
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
  private[graft] val ensureZorderStats = fixtures("zstats") { (s, dir, path) =>
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
  private[graft] val ensureTxnTable = fixtures("txn") { (s, dir, root) =>
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
  private[graft] val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

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
  private[graft] val ensureCatalogTable = fixtures.withSession("cat",
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
  private[graft] val ensureDocIndex = fixtures.withSession("dix",
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
  private[graft] val ensureVecIndex = fixtures.withSession("vix",
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
  private[graft] val ensureTxnRangeTable = fixtures("txnr") { (s, dir, root) =>
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
    val (files, multi) = TxnLog.stageWithStatsFor(base, root, "v1-clustered",
      Seq("o_orderkey", "o_part"))
    val blooms = TxnLog.bloomsForStaged(s, root, "v1-clustered", "o_tag", files)
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
      txnId = "v1-clustered", blooms = blooms, bloomCol = "o_tag",
      multiStats = multi, physSchema = Some(base.schema))
  }

  /** A third [[graft.sources.TxnLog]] table for the row-level-delete
    * path: v1 appends the %3<=1 orders slice (8 range-clustered
    * files), v2 marks every o_orderkey%5==2 row deleted in per-file
    * DELETION VECTORS — no file rewritten; v2's visible content is a
    * pure predicate over orders, which is what lets DuckDB oracle the
    * DV read path without seeing bitmaps.
    */
  private[graft] val ensureTxnDeleteTable = fixtures("txnd") { (s, dir, root) =>
    import graft.sources.TxnLog
    TxnLog.init(root)
    val base = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 3 <= 1)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .repartitionByRange(8, col("o_orderkey"))
    val (files, stats) = TxnLog.stageWithStatsFor(base, root, "v1-append",
      Seq("o_orderkey"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
      txnId = "v1-append", multiStats = stats)
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
  private[graft] val ensureTxnMergeTable = fixtures("txnm") { (s, dir, root) =>
    import graft.sources.TxnLog
    TxnLog.init(root)
    val cents = round(col("o_totalprice") * 100).cast("long")
    val base = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 3 <= 1)
      .select(col("o_orderkey"), cents.as("price_cents"))
      .repartitionByRange(8, col("o_orderkey"))
    val (files, stats) = TxnLog.stageWithStatsFor(base, root, "v1-append",
      Seq("o_orderkey"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
      txnId = "v1-append", multiStats = stats)
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
  private[graft] val ensureTxnZorderTable = fixtures("txnz") { (s, dir, root) =>
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
  private[graft] val ensureTxnCompactTable = fixtures("txnc") { (s, dir, root) =>
    import graft.sources.TxnLog
    TxnLog.init(root)
    val base = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 3 <= 1)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .repartitionByRange(8, col("o_orderkey"))
    val (files, stats) = TxnLog.stageWithStatsFor(base, root, "v1-append",
      Seq("o_orderkey"))
    TxnLog.commit(root, "append", files, Nil, readVersion = 0L,
      txnId = "v1-append", multiStats = stats)
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
  private[graft] val ensureTxnTypedTable = fixtures("txnt") { (s, dir, root) =>
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
      physSchema = Some(base.schema))
  }

  /** Build every registered fixture for `dir`, and run each one's
    * session step on `s`. Bench calls this before its timed loop so
    * query timings measure operators, not setup IO; Verify and ad-hoc
    * callers need not call it — each query lazily builds what it needs.
    */
  def prepare(s: SparkSession, dir: String): Unit =
    fixtures.all.foreach(_(s, dir))

  /** Shared DuckDB CTE fragments mirroring DedupOps's portable hash
    * pipeline: tokens → shingles (whole-doc fallback under 3 tokens) →
    * 28-bit md5-prefix hashes → 16 affine-permutation minima.
    */
  private[graft] val duckShingleCtes =
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
  private[graft] def duckBpeCtes(numMerges: Int, vocabSize: Int): String = {
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
