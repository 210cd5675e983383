package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types.LongType

import graft.sources.TxnLog

/** [[Tables]]' schema cache: a repeated read starts no job, yet every
  * read sees the files and settings in force when it is made. */
class TablesSpec extends SparkTestBase {

  private def withTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-tables")
    try body(dir) finally TxnLog.deleteRecursively(dir)
  }

  test("a second read of a table starts no Spark job") {
    Tables.orders(spark, sfDir)
    val (df, jobs) = jobsDuring(Tables.orders(spark, sfDir))
    assert(jobs == 0, s"the second Tables.orders started $jobs jobs")
    assert(df.columns.contains("o_orderkey"))
  }

  test("a table read twice self-joins without ambiguity") {
    def pairs(a: DataFrame, b: DataFrame) =
      a.join(b, a("o_custkey") === b("o_custkey") && a("o_orderkey") < b("o_orderkey"))
        .select(a("o_orderkey"), b("o_orderkey")).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val path = s"$sfDir/orders.parquet"
    val cached = pairs(Tables.orders(spark, sfDir), Tables.orders(spark, sfDir))
    val fresh = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert(cached.nonEmpty)
    assert(cached == fresh)
  }

  test("overwriting a table between reads yields its new schema and rows") {
    withTempDir { tmp =>
      val dir = tmp.toString
      val region = Tables.region(spark, sfDir)
      region.write.parquet(s"$dir/region.parquet")
      assert(Tables.region(spark, dir).columns.toSeq == region.columns.toSeq)
      region.where("r_regionkey < 2").selectExpr("*", "r_regionkey * 10 AS extra")
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
      val after = Tables.region(spark, dir)
      assert(after.columns.toSeq == region.columns.toSeq :+ "extra")
      assert(after.select("r_regionkey", "extra").collect().sortBy(_.getInt(0)).toSeq ==
        Seq(Row(0, 0), Row(1, 10)))
    }
  }

  test("changing nanosAsLong re-infers a TIMESTAMP(NANOS) table's schema") {
    withTempDir { dir =>
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
      val writer = ExampleParquetWriter.builder(new HPath(dir.resolve("events.parquet").toString))
        .withType(schema).withConf(new Configuration()).build()
      val rows = new SimpleGroupFactory(schema)
      // 2024-01-02 03:04:05.123456789, then one nanosecond past a micro
      Seq(1L -> 1704164645123456789L, 2L -> 1704164645000001001L).foreach { case (id, ns) =>
        writer.write(rows.newGroup().append("event_id", id).append("ts", ns))
      }
      writer.close()

      // the session reads with nanosAsLong=true (Sessions.configure)
      def read(): Seq[String] = {
        assert(Tables.load(spark, dir.toString, "events").schema("ts").dataType == LongType)
        Tables.events(spark, dir.toString).orderBy("event_id")
          .selectExpr("CAST(ts AS STRING)").collect().map(_.getString(0)).toSeq
      }
      val first = read()
      assert(first == Seq("2024-01-02 03:04:05.123456", "2024-01-02 03:04:05.000001"))
      // Spark reads TIMESTAMP(NANOS) only as longs: without the setting
      // the inference, not a cached long schema, decides
      val e = withSQLConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
        intercept[AnalysisException](Tables.load(spark, dir.toString, "events"))
      }
      assert(e.getCondition == "PARQUET_TYPE_ILLEGAL", e.getMessage)
      assert(read() == first)
    }
  }

  test("a missing table still fails with PATH_NOT_FOUND") {
    val e = withTempDir(dir => intercept[AnalysisException](Tables.load(spark, dir.toString, "missing")))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }
}
