package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Materialize a k× scaled replica of a testdata directory — the sf1
  * (10×) SCALE RECEIPT's input: every per-round number so far was
  * measured at sf0.1, and the 100 TB claims deserve at least one
  * order-of-magnitude check on the real bench batteries.
  *
  *   sbt 'runMain graft.GenScale [srcDir] [outDir] [k]'
  *
  * Replication semantics (honest scaling, not duplication artifacts):
  *
  *  - dims (`region`, `nation`) copy verbatim — real scale-ups grow
  *    facts, not countries;
  *  - every entity key shifts by replica × (max key + 1), and FOREIGN
  *    keys shift by the SAME per-entity base, so replica i's orders
  *    reference replica i's customers: join fan-outs stay realistic
  *    (k× rows, k× distinct keys, same per-key cardinality);
  *  - `documents` are salted (every token suffixed with the copy
  *    index) so copies don't near-dup each other — dedup cost scales
  *    with corpus size, not with an artificial k² dup blowup (the
  *    adversarial dup-heavy shape's last numbers are in BASELINE.md
  *    §"sf1 dup-ladder for the star spelling");
  *  - `embeddings` get a small deterministic per-replica perturbation
  *    (±0.05/dim, keyed on (vec_id, dim, replica)) — a real 10×
  *    corpus has 10× DISTINCT vectors, not 10 copies of each;
  *  - timestamps keep their range: more rows per day IS what a bigger
  *    scale factor means.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, out, k)
    println(s"""{"genscale":"done","out":"$out","k":$k}""")
    spark.stop()
  }

  /** Write the k× replica of every table under `src` to `out`, each
    * with its source's schema. */
  def run(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    def base(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0) + 1L

    def replicate(df: DataFrame, shifts: Map[String, Long],
                  perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until k).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, b)) =>
          d.withColumn(c, col(c) + lit(b * i))
        }
        perCopy(shifted, i)
      }.reduce(_ unionAll _)

    def write(name: String, df: DataFrame, parts: Int): Unit = {
      // Partition counts are sized for k=10; keep per-file row counts
      // constant as k grows (the receipt should scale data, not files'
      // individual size — a 100x run with 10x-sized files would
      // conflate the two).
      val scaled = parts * math.max(1, k / 10)
      df.repartition(scaled).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[genscale] $name x$k -> $out/$name.parquet ($scaled files)")
    }

    val cust = Tables.customer(spark, src)
    val supp = Tables.supplier(spark, src)
    val part0 = Tables.part(spark, src)
    val ords = Tables.orders(spark, src)
    val line = Tables.lineitem(spark, src)
    val evts = Tables.load(spark, src, "events") // raw: keep on-disk encoding
    val docs = Tables.documents(spark, src)
    val vecs = Tables.embeddings(spark, src)

    val cB = base(cust, "c_custkey")
    val sB = base(supp, "s_suppkey")
    val pB = base(part0, "p_partkey")
    val oB = base(ords, "o_orderkey")
    val eB = base(evts, "event_id")
    val uB = base(evts, "user_id")
    val dB = base(docs, "doc_id")
    val vB = base(vecs, "vec_id")

    write("region", Tables.region(spark, src), 1)
    write("nation", Tables.nation(spark, src), 1)
    write("customer", replicate(cust, Map("c_custkey" -> cB)), 4)
    write("supplier", replicate(supp, Map("s_suppkey" -> sB)), 2)
    write("part", replicate(part0, Map("p_partkey" -> pB)), 4)
    write("orders", replicate(ords,
      Map("o_orderkey" -> oB, "o_custkey" -> cB)), 16)
    write("lineitem", replicate(line,
      Map("l_orderkey" -> oB, "l_partkey" -> pB, "l_suppkey" -> sB)), 32)
    write("events", replicate(evts,
      Map("event_id" -> eB, "user_id" -> uB)), 16)
    val saltDoc: (DataFrame, Int) => DataFrame = { (d, i) =>
      if (i == 0) d
      else {
        val salted = d.withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("_" + i))), " "))
        salted.withColumn("n_chars", length(col("text")).cast("long"))
      }
    }
    write("documents", replicate(docs, Map("doc_id" -> dB), saltDoc), 8)
    // Spark's `/` returns a double, so the perturbed element is cast
    // back to the source's element type (FLOAT in the testdata):
    // widened replicas would turn the whole column into array<double>
    val elemType = vecs.schema("embedding").dataType.asInstanceOf[ArrayType].elementType
    val perturbVec: (DataFrame, Int) => DataFrame = { (d, i) =>
      if (i == 0) d
      else {
        val noise = transform(sequence(lit(0), size(col("embedding")) - 1),
          j => (pmod(col("vec_id") * 131 + j * 17 + lit(i * 7919), lit(1000))
            - lit(500)).cast("float") / lit(10000.0f))
        d.withColumn("embedding",
          zip_with(col("embedding"), noise, (x, n) => (x + n).cast(elemType)))
      }
    }
    write("embeddings", replicate(vecs, Map("vec_id" -> vB), perturbVec), 8)
  }
}
