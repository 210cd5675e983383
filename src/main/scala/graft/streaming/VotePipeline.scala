package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, TimestampType}
import org.apache.spark.sql.Row

/** The reference's analytics engine re-expressed Spark-first
  * (`spark_stream.py:41–88`): Kafka JSON stream → parse → watermark →
  * two unwindowed stateful aggregations → JSON-encoded sinks in
  * `update` output mode.
  *
  * Transport is pluggable: [[fromKafka]] builds the production source
  * (reference `spark_stream.py:41–47`); tests inject a `MemoryStream`
  * DataFrame with the same `value: string` column. The operators are
  * identical either way — the transport is infra, the semantics are
  * the engine.
  *
  * Scale notes (100 TB / 1000-executor stance):
  *  - both aggregations are unwindowed with low-cardinality keys
  *    (|candidates|, |states|), so state is bounded and the shuffle is
  *    map-side-combined down to |keys| rows per micro-batch;
  *  - streaming dedup keyed by (voter, candidate) is UNBOUNDED state —
  *    [[dedupVotes]] therefore uses `dropDuplicatesWithinWatermark`,
  *    which evicts state once the watermark passes (SURVEY.md §7.4);
  *  - the watermark on the unwindowed aggs is inert (declared for
  *    parity with `spark_stream.py:55`) — it does NOT evict agg state;
  *    windowed eviction variants belong to [[graft.SparkEntry]]'s
  *    `s1_hourly_agg` shape;
  *  - each stateful query runs one state store on a
  *    [[graft.Sessions]] session; see `Sessions.configure` for when
  *    to start one with more.
  */
object VotePipeline {

  /** A-1 — Kafka streaming source (`spark_stream.py:41–47`).
    * Compiles against the DataSource V2 string API; needs the
    * spark-sql-kafka connector on the classpath at runtime.
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
      .load()

  /** P-1..P-4 + S-1 — the parse chain (`spark_stream.py:50–55`):
    * CAST(value AS STRING) → from_json(schema) → flatten → re-casts →
    * 1-minute event-time watermark. Catalyst collapses the projections
    * into a single codegen'd stage.
    */
  def parse(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS value")
      .select(from_json(col("value"), VoteSchema.schema).as("data"))
      .select("data.*")
      .withColumn("voting_time", col("voting_time").cast(TimestampType))
      .withColumn("vote", col("vote").cast(IntegerType))
      .withWatermark("voting_time", "1 minute")

  /** G-1 — running votes per candidate, dimension columns carried in
    * the grouping key (`spark_stream.py:58–59`).
    */
  def votesPerCandidate(parsed: DataFrame): DataFrame =
    parsed.groupBy("candidate_id", "candidate_name", "party_affiliation", "photo_url")
      .agg(sum("vote").as("total_votes"))

  /** G-2 — turnout per location (`spark_stream.py:62–64`). */
  def turnoutByLocation(parsed: DataFrame): DataFrame =
    parsed.groupBy("address_state")
      .count()
      .withColumnRenamed("count", "total_voters")

  /** S-1 WINDOWED variant — tumbling 1-hour event-time windows in
    * APPEND mode: unlike the reference's inert watermark on the
    * unwindowed aggs, here the watermark does real work — a window
    * emits exactly once, after the watermark passes its end, and its
    * state is evicted. This is the shape whose state stays bounded at
    * 100 TB regardless of key cardinality over time.
    */
  def hourlyVotesPerType(parsed: DataFrame): DataFrame =
    parsed.groupBy(window(col("voting_time"), "1 hour"), col("candidate_id"))
      .agg(count(lit(1)).as("n_votes"))
      .select(col("window.start").as("window_start"), col("candidate_id"), col("n_votes"))

  /** S-6 — one vote per (voter, candidate), the reference's PK-as-dedup
    * (`main.py:77`, `voting.py:78–96`). Within-watermark variant keeps
    * state bounded at scale; duplicates later than the lateness bound
    * were already rejected upstream in the reference's model.
    */
  def dedupVotes(parsed: DataFrame): DataFrame =
    parsed.dropDuplicatesWithinWatermark("voter_id", "candidate_id")

  /** Batch flavor of S-6 for bounded replays (exact semantics, no
    * watermark needed).
    */
  def dedupVotesBatch(parsed: DataFrame): DataFrame =
    parsed.dropDuplicates("voter_id", "candidate_id")

  /** J-1 extension — STREAM-STREAM interval join: correlate the
    * reference's two topics (`voters_topic` registrations,
    * `votes_topic` votes) on voter within an event-time window. Both
    * sides carry watermarks and the join condition bounds event time
    * on both sides, so each side's buffered state is evicted once the
    * watermark passes the interval — the only stream-stream join shape
    * whose state stays bounded at 100 TB.
    *
    * Expects `registrations(voter_id, reg_time)` and
    * `votes(vote_voter_id, voting_time, …)`; emits matches where
    * `reg_time <= voting_time <= reg_time + maxDelay`.
    *
    * `joinType = "left_outer"` keeps every registration: a
    * registration with NO vote in its window emits a null-padded row —
    * but only once the watermark has passed the end of its interval,
    * because that is the moment the engine can PROVE no match will
    * ever arrive (the outer row is a statement about the whole window,
    * so it must wait for state eviction; see StreamStreamJoinSpec).
    */
  def registrationVoteJoin(registrations: DataFrame, votes: DataFrame,
                           maxDelay: String = "1 hour",
                           watermark: String = "1 minute",
                           joinType: String = "inner"): DataFrame =
    registrations.withWatermark("reg_time", watermark)
      .join(votes.withWatermark("voting_time", watermark),
        col("voter_id") === col("vote_voter_id") &&
          col("voting_time") >= col("reg_time") &&
          col("voting_time") <= col("reg_time") + expr(s"INTERVAL $maxDelay"),
        joinType)

  /** P-5 + A-2 — JSON-encode and write to a Kafka topic in update mode
    * with a per-query checkpoint (`spark_stream.py:66–84`).
    */
  def toKafka(df: DataFrame, bootstrap: String, topic: String,
              checkpoint: String): DataStreamWriter[Row] =
    df.selectExpr("to_json(struct(*)) AS value")
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .outputMode("update")

  /** Test/dev sink: same update-mode semantics into an in-memory table. */
  def toMemory(df: DataFrame, name: String): DataStreamWriter[Row] =
    df.writeStream.format("memory").queryName(name).outputMode("update")

  /** A-2 stand-in without a broker: an append-only JSON file "topic".
    * Each update-mode micro-batch appends its changed rows as
    * `to_json(struct(*))` values tagged with the batch id — the same
    * message stream the Kafka sink produces, with `batch_id` standing
    * in for the topic offset order.
    */
  def toFileTopic(df: DataFrame, dir: String): DataStreamWriter[Row] =
    toForeachBatch(df) { (batch, id) =>
      batch.selectExpr("to_json(struct(*)) AS value")
        .withColumn("batch_id", lit(id))
        .write.mode("append").json(dir)
    }

  /** A-7 — batch Kafka topic read over the real transport: the
    * dashboard's catch-up poll (`streamlit-app.py:37–43`) as one
    * bounded read of the whole topic. Compiles against the DataSource
    * V2 string API like [[fromKafka]]; needs the spark-sql-kafka
    * connector on the classpath at runtime. [[readFileTopic]] is the
    * broker-less stand-in with the identical downstream decode.
    */
  def fromKafkaBatch(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.read
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("endingOffsets", "latest")
      .load()

  /** A-7 — BATCH re-read of a topic: the dashboard's poll-and-recompute
    * path (`streamlit-app.py:37–43` polls the aggregation topic and
    * recomputes its view from the messages). With a broker this is
    * `spark.read.format("kafka").option("startingOffsets", "earliest")`
    * + the same CAST/from_json decode as [[parse]]; the stand-in reads
    * the file topic's raw messages.
    */
  def readFileTopic(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("value STRING, batch_id BIGINT").json(dir)

  /** S-8 — consumer-side catch-up over an update-mode topic: decode
    * every message and keep each key's LATEST one (per-key last-write-
    * wins is exactly what a poller derives from an update stream).
    *
    * Shape: a `max_by(payload, batch_id)` HASH AGGREGATE, not a rank
    * window — max_by partials combine map-side, so each key's message
    * history collapses within its scan partition before the exchange
    * (an update topic carries one message per key per micro-batch; a
    * long-lived topic is many batches deep, and the window form would
    * shuffle and SORT that entire history). Deterministic because
    * (key, batch_id) is unique by the update-mode contract: one
    * changed-row message per key per batch.
    */
  def latestPerKey(messages: DataFrame, schema: org.apache.spark.sql.types.StructType,
                   keyCols: Seq[String]): DataFrame =
    messages
      .select(from_json(col("value"), schema).as("m"), col("batch_id"))
      .groupBy(keyCols.map(k => col(s"m.$k")): _*)
      .agg(max_by(col("m"), col("batch_id")).as("__m"))
      .select(col("__m.*"))

  /** A-3 — JDBC-style sink for streams via foreachBatch (reference
    * inserts into Postgres, `main.py:184–208`): each micro-batch is
    * appended with the supplied batch writer. With a JDBC URL the
    * writer body is `batch.write.format("jdbc")…mode("append").save()`.
    */
  def toForeachBatch(df: DataFrame)(writer: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.outputMode("update").foreachBatch(writer)

  /** Fan ONE micro-batch out to several sinks. There is no cross-sink
    * transaction in this world — the honest exactly-once contract for
    * dual writes is per-sink IDEMPOTENCE keyed by batch id: if the
    * query dies between sink writes, the restarted query replays the
    * whole batch to every sink and each converges (delete-before-
    * insert, overwrite-by-batch-path, …). Pass writers with that
    * property — e.g. [[graft.sources.JdbcIO.idempotentBatchWriter]] —
    * and the composition is end-to-end exactly-once per sink
    * (proved across an injected mid-batch crash in MultiSinkSpec).
    *
    * The batch is persisted so N sinks trigger ONE computation of the
    * micro-batch lineage, not N re-executions — at scale the
    * recompute, not the write, is the cost.
    */
  def toMultiSink(df: DataFrame)(writers: ((DataFrame, Long) => Unit)*): DataStreamWriter[Row] =
    toForeachBatch(df) { (batch, id) =>
      val cached = batch.persist()
      try {
        cached.count() // materialize once
        writers.foreach(w => w(cached, id))
      } finally cached.unpersist()
    }

  /** S-5 — the reference's two-query topology (`spark_stream.py:66–88`):
    * both aggregations run as independent streaming queries off the
    * same parsed stream, each with its own checkpoint/state.
    */
  def runTopology(parsed: DataFrame,
                  sink: (DataFrame, String) => DataStreamWriter[Row],
                  trigger: Trigger = Trigger.ProcessingTime(0)): Seq[StreamingQuery] = Seq(
    sink(votesPerCandidate(parsed), "aggregated_votes_per_candidate").trigger(trigger).start(),
    sink(turnoutByLocation(parsed), "aggregated_turnout_per_location").trigger(trigger).start()
  )
}
