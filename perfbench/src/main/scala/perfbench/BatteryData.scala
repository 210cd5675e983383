package perfbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The query battery's ten input tables, generated from a seed with
  * the column names, types and value domains of the repo's testdata
  * (TESTDATA.md) at its smallest scale factor, sf0.001: uniform
  * independent columns over TPC-H-like domains, an event log, a text
  * corpus with some exact and near duplicates, and unit-length
  * 64-dimensional embeddings. */
object BatteryData {
  private val vocab = ("a agg batch big column customer data dup fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector window")
    .split(" ").toIndexedSeq
  private val langs = IndexedSeq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    def table(name: String, schema: StructType, n: Int)(row: (Int, Random) => Row): Unit = {
      val rng = new Random(seed * 1000003L + name.hashCode)
      val rows = (0 until n).map(i => row(i, rng))
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    def pick[T](r: Random, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def cents(r: Random, lo: Double, hi: Double): Double = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(r: Random, from: LocalDateTime, days: Int): LocalDateTime = from.plusDays(r.nextInt(days))
    val d1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
    def schema(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })

    table("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType), 5) { (i, _) =>
      Row(i, IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i))
    }
    table("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), 25) { (i, r) => Row(i, s"NATION_$i", r.nextInt(5)) }
    table("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), 150) { (i, r) =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99),
        pick(r, IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))
    }
    table("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), 10) { (i, r) =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99))
    }
    table("part", schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), 200) { (i, r) =>
      val adj = pick(r, IndexedSeq("blue", "cold", "hot", "large", "new", "old", "red", "small"))
      val noun = pick(r, IndexedSeq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))
      Row(i.toLong, s"$adj $noun", s"Brand#${1 + r.nextInt(25)}",
        pick(r, IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
        1 + r.nextInt(50), 900.0 + r.nextInt(1000) / 10.0)
    }
    table("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), 1500) { (i, r) =>
      Row(i.toLong, r.nextInt(150).toLong, pick(r, IndexedSeq("F", "O", "P")),
        cents(r, 1000, 500000), day(r, d1995, 2400),
        pick(r, IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    }
    table("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType), 6000) { (_, r) =>
      Row(r.nextInt(1500).toLong, r.nextInt(200).toLong, r.nextInt(10).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, cents(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(r, IndexedSeq("A", "N", "R")), pick(r, IndexedSeq("F", "O")), day(r, d1995.plusDays(1), 2500))
    }
    table("events", schema("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), 1000) { (i, r) =>
      Row(i.toLong, LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos((r.nextDouble() * 30 * 86400e6).toLong * 1000L),
        r.nextInt(150).toLong, pick(r, IndexedSeq("click", "error", "purchase", "signup", "view")),
        cents(r, 0.01, 490), s"""{"k": ${r.nextInt(100)}}""")
    }
    // every 25th document repeats an earlier one; every 25th (offset)
    // is an earlier one with a single word changed
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    table("documents", schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType), 500) { (i, r) =>
      val text =
        if (i % 25 == 24) texts(r.nextInt(i))
        else if (i % 25 == 12) {
          val w = texts(r.nextInt(i)).split(" ")
          w(r.nextInt(w.length)) = pick(r, vocab)
          w.mkString(" ")
        } else Seq.fill(10 + r.nextInt(91))(pick(r, vocab)).mkString(" ")
      texts += text
      val u = r.nextDouble()
      val lang = langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }.tail
        .find(_._2 > u).map(_._1).getOrElse("en")
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    table("embeddings", schema("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType), 500) { (i, r) =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
  }
}
