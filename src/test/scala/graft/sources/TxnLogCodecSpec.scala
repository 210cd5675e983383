package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import TxnLog.{CkptState, ColHistogram, Commit, FileMeta, FileStat, HistBin}

/** Round-trip properties of the [[TxnLog]] codec: every commit record
  * and checkpoint the log can write decodes back to the same value.
  * Free text carries the characters the log's earlier hand-written
  * formats could not (quotes, commas, brackets, backslashes, colons,
  * pipes, spaces, newlines, non-ASCII and a supplementary code
  * point), in names, expressions, paths and schema field names alike.
  * Every `Long` container is checked by arithmetic as well as by
  * `==`: a `Seq[Long]` decoded with boxed Integer elements still
  * compares equal, and fails only when its elements are used.
  */
class TxnLogCodecSpec extends AnyFunSuite {

  private val pieces =
    Seq("\"", ",", "[", "]", "\\", ":", "|", " ", "\n", "é", "中", "😀", "a", "Z", "0", "_", "-")
  private val text: Gen[String] =
    Gen.listOf(Gen.oneOf(pieces)).map(_.take(12).mkString)
  private val nonEmptyText: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(pieces)).map(_.take(12).mkString)
  private val long: Gen[Long] =
    Gen.oneOf(Gen.choose(-1L, 100L), Gen.choose(Long.MinValue, Long.MaxValue))
  private val double: Gen[Double] =
    Gen.oneOf(Gen.choose(-1e18, 1e18), Gen.oneOf(0.0, -1.5, Double.MaxValue))
  private def few[A](g: Gen[A]): Gen[List[A]] =
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, g))
  private def mapOf[A](g: Gen[A]): Gen[Map[String, A]] =
    few(Gen.zip(text, g)).map(_.toMap)

  private val stat: Gen[FileStat] = for {
    lo <- long; hi <- long; rows <- long
    typ <- Gen.oneOf("l", "t", "d", "s", "f")
    loS <- text; hiS <- text; nulls <- long; hll <- text
  } yield FileStat(lo, hi, rows, typ, loS, hiS, nulls, hll)

  private val meta: Gen[FileMeta] = for {
    stats <- mapOf(stat)
    bloom <- Gen.option(nonEmptyText); bloomCol <- text
    dv <- Gen.option(nonEmptyText); size <- long; modTime <- long
    rowBase <- Gen.option(long)
  } yield FileMeta(stats, bloom, bloomCol, dv, size, modTime, rowBase)

  private val pair: Gen[(String, String)] = Gen.zip(text, text)

  // a schema: leaf fields with field metadata, plus one struct column
  // nesting more of them
  private val fieldMeta: Gen[Metadata] = for {
    k <- nonEmptyText; v <- text; n <- long
  } yield new MetadataBuilder().putString(k, v).putLong("n", n).build()
  private val field: Gen[StructField] = for {
    name <- text
    dt <- Gen.oneOf(LongType, IntegerType, StringType, DoubleType, DateType,
      TimestampType, BooleanType, DecimalType(12, 3), ArrayType(StringType))
    nullable <- Gen.oneOf(true, false)
    md <- Gen.oneOf(Gen.const(Metadata.empty), fieldMeta)
  } yield StructField(name, dt, nullable, md)
  private val schema: Gen[StructType] = for {
    outer <- few(field); inner <- few(field); name <- text; md <- fieldMeta
  } yield StructType(outer :+ StructField(name, StructType(inner), nullable = true, md))

  private val histogram: Gen[ColHistogram] = for {
    height <- double
    bins <- Gen.nonEmptyListOf(for { lo <- double; hi <- double; ndv <- long }
      yield HistBin(lo, hi, ndv)).map(_.take(6))
  } yield ColHistogram(height, bins)

  // None = unchanged, Some(Nil) = cleared: both must survive
  private val partitioning: Gen[Option[Seq[String]]] =
    Gen.option(few(nonEmptyText))

  private val commit: Gen[Commit] = for {
    version <- long; action <- nonEmptyText; txnId <- nonEmptyText
    readVersion <- long; added <- few(text); removed <- few(text)
    schemaId <- text; blooms <- few(text); bloomCol <- text
    dvFiles <- few(text); dvs <- few(text); ts <- long
    multiStats <- few(mapOf(stat)); physSchema <- Gen.option(schema)
    rename <- Gen.option(pair); sizes <- few(long)
    cadds <- few(pair); cdrops <- few(text); partitionBy <- partitioning
    restatFiles <- few(text); restats <- few(mapOf(stat))
    hists <- mapOf(histogram); ingests <- few(text)
    radds <- few(text); rbases <- few(long); rowHwm <- long
    padds <- few(pair); pdrops <- few(text); propReset <- Gen.oneOf(true, false)
    conReset <- Gen.oneOf(true, false)
  } yield Commit(version, action, txnId, readVersion, added, removed,
    schemaId, blooms, bloomCol, dvFiles, dvs, ts, multiStats, physSchema,
    rename, sizes, cadds, cdrops, partitionBy, restatFiles, restats,
    hists, ingests, radds, rbases, rowHwm, padds, pdrops, propReset, conReset)

  private val ckpt: Gen[CkptState] = for {
    version <- long; files <- few(Gen.zip(text, meta))
    txns <- mapOf(long); schemaId <- text; constraints <- mapOf(text)
    physSchema <- Gen.option(schema); renames <- mapOf(text)
    partitionBy <- few(nonEmptyText); hists <- mapOf(histogram)
    ingests <- few(text); props <- mapOf(text); rowHwm <- long
  } yield CkptState(version, files, txns, schemaId, constraints, physSchema,
    renames, partitionBy, hists, ingests.toSet, props, rowHwm)

  private def roundTrip[A <: AnyRef](v: A, cls: Class[A]): A =
    TxnLog.codec.readValue(TxnLog.codec.writeValueAsBytes(v), cls)

  private def ndvPlusOne(h: Map[String, ColHistogram]): Seq[Long] =
    h.toSeq.sortBy(_._1).flatMap(_._2.bins).map(_.ndv + 1L)

  private def check(p: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(300).withInitialSeed(Seed(6L)), p)
    assert(res.passed, Pretty.pretty(res))
  }

  test("a commit record decodes to the commit that was encoded") {
    check(Prop.forAll(commit) { c =>
      val d = roundTrip(c, classOf[Commit])
      d == c &&
        d.sizes.sum == c.sizes.sum &&
        d.rbases.map(_ + 1L) == c.rbases.map(_ + 1L) &&
        d.multiStats.flatMap(_.values).map(_.rows + 1L) ==
          c.multiStats.flatMap(_.values).map(_.rows + 1L) &&
        ndvPlusOne(d.hists) == ndvPlusOne(c.hists)
    })
    // cleared and unchanged partitioning are different records
    val base = Commit(1L, "set-partitioning", "t1", 0L, Nil, Nil, ts = 1L)
    assert(roundTrip(base.copy(partitionBy = Some(Nil)), classOf[Commit]).partitionBy ===
      Some(Nil))
    assert(roundTrip(base, classOf[Commit]).partitionBy === None)
  }

  test("a checkpoint decodes to the state that was encoded, files in order") {
    check(Prop.forAll(ckpt) { st =>
      val d = roundTrip(st, classOf[CkptState])
      d == st &&
        d.files.map(_._1) == st.files.map(_._1) &&
        d.txns.values.sum == st.txns.values.sum &&
        d.files.flatMap(_._2.rowBase.map(_ + 1L)) ==
          st.files.flatMap(_._2.rowBase.map(_ + 1L)) &&
        ndvPlusOne(d.hists) == ndvPlusOne(st.hists)
    })
  }

  test("a record whose schema is not a Spark schema fails the load, naming the file") {
    val root = Files.createTempDirectory("graft-codec").toString
    TxnLog.init(root)
    val path = Paths.get(root, "_log", f"${1L}%020d.json")
    Files.writeString(path,
      """{"version":1,"action":"create","txnId":"t1","readVersion":0,""" +
        """"added":[],"removed":[],"ts":5,"physSchema":{"type":"no-such-type"}}""")
    val e = intercept[RuntimeException](TxnLog.snapshotState(root))
    assert(e.getMessage.contains(path.toString) && e.getMessage.contains("physSchema") &&
        e.getMessage.contains("no-such-type"),
      s"expected the file, the field and the bad type in: ${e.getMessage}")
    TxnLog.deleteRecursively(Paths.get(root))
  }
}
