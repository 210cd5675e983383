package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All parity queries run over these parquet tables; the mapping from the
  * reference's voting domain to the testdata star schema follows
  * FIXTURES.md §B: `events` plays the `votes_topic` stream
  * (reference `spark_stream.py:41–47`), `customer ⋈ nation` plays the
  * voter–location turnout rollup, and small dims (`region`, `nation`)
  * play the broadcast static side of the enrichment join
  * (reference `voting.py:41–45`).
  *
  * A table's schema is inferred once and then passed to the reader,
  * so a repeated read lists the files but starts no schema-inference
  * job. The cache key is the table path plus the session's
  * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` settings,
  * which decide the inferred types (`nanosAsLong` turns a
  * TIMESTAMP(NANOS) column into a long). Each entry also keeps the
  * path's listing: the sorted (name, length, mtime) of every file
  * under it. When a read finds a different listing, the schema is
  * inferred again and replaces the entry, so the map holds at most
  * one entry per key and no session.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Inferred(listing: Seq[(String, Long, Long)], schema: StructType)
  private val schemas = new ConcurrentHashMap[(String, Map[String, String]), Inferred]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    listing(spark, path) match {
      case None => spark.read.parquet(path) // Spark's own [PATH_NOT_FOUND]
      case Some(files) =>
        val key = (path, spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") })
        val schema = Option(schemas.get(key)).filter(_.listing == files).fold {
          val inferred = spark.read.parquet(path).schema
          schemas.put(key, Inferred(files, inferred))
          inferred
        }(_.schema)
        spark.read.schema(schema).parquet(path)
    }
  }

  /** Every file under `path` (or `path` itself when it is a file), as
    * sorted (name, length, mtime); None when the path does not exist. */
  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(files.result().sorted)
    } catch { case _: FileNotFoundException => None }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** `events.ts` has shipped in two encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]), so it is read as raw
    * nano longs (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * [[Sessions.configure]]) and floor-converted to micros, the same
    * truncation DuckDB applies — and plain TIMESTAMP(MICROS), which
    * Spark reads as TIMESTAMP_NTZ. Dispatch on the observed schema and
    * normalize both to session-TZ TimestampType (sessions pin UTC, so
    * the NTZ→TZ cast is value-preserving and oracle comparisons
    * agree); downstream watermark/window code sees one stable type
    * regardless of which generation of testdata is on disk.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
