package graft

import org.apache.spark.sql.SparkSession

/** One place for the session config every graft entry point needs, so
  * Bench / Verify / tests cannot drift apart and no loader has to
  * mutate config at call time.
  */
object Sessions {

  /** Per-JVM warehouse location (see the saveAsTable note below). */
  private lazy val warehouseDir: String =
    java.nio.file.Files.createTempDirectory("graft_warehouse_").toString

  /** Apply graft's required SQL configs to a session builder:
    *  - UTC session time zone (reference produces UTC wall-clock
    *    strings, `voting.py:72` — parsing shifts otherwise);
    *  - `spark.sql.shuffle.partitions` = 1 and AQE's
    *    `coalescePartitions.initialPartitionNum` = cores. A plan run
    *    with AQE on starts its exchanges from cores partitions and
    *    coalesces them; one run with AQE off, as every micro-batch
    *    plan is (a `foreachBatch` body's own queries run with AQE on),
    *    gets 1, so each stateful streaming operator holds one state
    *    store (a store costs a commit per trigger; the vote aggs hold a
    *    handful of keys). Writes size their clustering exchange by
    *    [[graft.sources.TxnLog.writePartitions]] and keep cores. A
    *    checkpoint keeps the state-store count of its first batch, so
    *    a stateful query with a large key space (e.g.
    *    [[graft.streaming.VotePipeline.dedupVotes]] at scale) must be
    *    started with a larger `spark.sql.shuffle.partitions`;
    *  - nanosAsLong so the TIMESTAMP(NANOS) `events.ts` column reads
    *    as a long (see [[Tables.events]]).
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // storage-partitioned joins over co-bucketed graft tables: the
      // scan reports KeyGroupedPartitioning only for tables declared
      // PARTITIONED BY (bucket(n, c)) with point bucket stats, so
      // this changes no other plan
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // ...and across COMPATIBLE bucket counts: bucket(k·n) reduces to
      // bucket(n) through GraftBucketBound's reducer (id % n), so an
      // 8-bucket fact joins a 4-bucket dim with zero shuffles; both
      // confs only take effect when our scans report key-grouped
      // partitioning, so no other plan moves
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
        "true")
      // managed tables (the j9 bucketed layout) land in tmp, not
      // ./spark-warehouse — and in a PER-JVM dir: the in-memory catalog
      // dies with the JVM, and saveAsTable refuses to overwrite a
      // location the (fresh) catalog has no table for
      .config("spark.sql.warehouse.dir", warehouseDir)
      // Generated-class cache sized to the workload (r21): the default
      // 100-entry cache is smaller than ONE pass over the 250-query
      // surface (~15 codegen units per query), so by the time a query
      // comes around again every one of its generated classes has been
      // evicted and janino recompiles the identical source — measured
      // at 030% of per-query wall mid-suite vs the same query isolated
      // (gr_pagerank 5.7 s mid-suite vs 2.9 s isolated, txt_rake 2.1
      // vs 0.9; r21 baseline). 8192 entries hold the whole surface;
      // an entry is a GeneratedClass reference (the classes live in
      // the classloader either way), so the cost is a few MB of keys.
      // Production: size to the distinct-plan working set, same rule.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")

  /** Silence WindowExec's `No Partition Defined` warning in the bench
    * and verify mains: every unpartitioned window in the query surface
    * is a documented k-row structure (PlanShapeSpec's whitelist guard
    * FAILS on any new one), so the ~30 known-benign lines per full run
    * only buried real regressions. The guard test is the detector now;
    * the log was never a reliable one.
    */
  def quietKnownBenignWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
