package graft

import java.nio.file.Files

import graft.sources.TxnLog

/** The k× replica must be readable by the queries written for its
  * source: every table keeps its source's schema. */
class GenScaleSpec extends SparkTestBase {

  test("GenScale.run writes every table with its source's schema (k = 2)") {
    val out = Files.createTempDirectory("graft-genscale")
    try {
      GenScale.run(spark, sfDir, out.toString, 2)
      val tables = new java.io.File(sfDir).list().filter(_.endsWith(".parquet")).sorted.toSeq
      assert(tables.nonEmpty, s"no parquet tables under $sfDir")
      tables.foreach { t =>
        val want = spark.read.parquet(s"$sfDir/$t").schema
        val got = spark.read.parquet(s"$out/$t").schema
        assert(got === want, s"$t: replica schema ${got.simpleString} != source ${want.simpleString}")
      }
    } finally TxnLog.deleteRecursively(out)
  }
}
