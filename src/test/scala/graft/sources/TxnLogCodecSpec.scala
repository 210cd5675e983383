package graft.sources

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import TxnLog.{CkptState, Commit, FileMeta, FileStat}

/** Round-trip properties of the [[TxnLog]] codec: every commit record
  * and checkpoint the log can write decodes back to the same value.
  * Free text carries the characters the log's earlier hand-written
  * formats could not (quotes, commas, brackets, backslashes, colons,
  * pipes, spaces, newlines, non-ASCII and a supplementary code
  * point). Every `Long` container is checked by arithmetic as well as
  * by `==`: a `Seq[Long]` decoded with boxed Integer elements still
  * compares equal, and fails only when its elements are used.
  */
class TxnLogCodecSpec extends AnyFunSuite {

  private val pieces =
    Seq("\"", ",", "[", "]", "\\", ":", "|", " ", "\n", "é", "中", "😀", "a", "Z", "0", "_")
  private val text: Gen[String] =
    Gen.listOf(Gen.oneOf(pieces)).map(_.take(12).mkString)
  private val nonEmptyText: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(pieces)).map(_.take(12).mkString)
  private val long: Gen[Long] =
    Gen.oneOf(Gen.choose(-1L, 100L), Gen.choose(Long.MinValue, Long.MaxValue))
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

  private val commit: Gen[Commit] = for {
    version <- long; action <- nonEmptyText; txnId <- nonEmptyText
    readVersion <- long; added <- few(text); removed <- few(text)
    schemaId <- text; blooms <- few(text); bloomCol <- text
    dvFiles <- few(text); dvs <- few(text); ts <- long
    multiStats <- few(mapOf(stat)); constraint <- text
    schemaJson <- text; rename <- text; sizes <- few(long)
    cadds <- few(pair); partitionBy <- text; restatFiles <- few(text)
    restats <- few(mapOf(stat)); hists <- few(pair); ingests <- few(text)
    radds <- few(text); rbases <- few(long); rowHwm <- long
    padds <- few(pair); propReset <- Gen.oneOf(true, false)
    conReset <- Gen.oneOf(true, false)
  } yield Commit(version, action, txnId, readVersion, added, removed,
    schemaId, blooms, bloomCol, dvFiles, dvs, ts, multiStats, constraint,
    schemaJson, rename, sizes, cadds, partitionBy, restatFiles, restats,
    hists, ingests, radds, rbases, rowHwm, padds, propReset, conReset)

  private val ckpt: Gen[CkptState] = for {
    version <- long; files <- few(Gen.zip(text, meta))
    txns <- mapOf(long); schema <- text; constraints <- mapOf(text)
    schemaJson <- text; renames <- mapOf(text); partitionBy <- text
    hists <- mapOf(text); ingests <- few(text); props <- mapOf(text)
    rowHwm <- long
  } yield CkptState(version, files, txns, schema, constraints, schemaJson,
    renames, partitionBy, hists, ingests.toSet, props, rowHwm)

  private def roundTrip[A <: AnyRef](v: A, cls: Class[A]): A =
    TxnLog.codec.readValue(TxnLog.codec.writeValueAsBytes(v), cls)

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
          c.multiStats.flatMap(_.values).map(_.rows + 1L)
    })
  }

  test("a checkpoint decodes to the state that was encoded, files in order") {
    check(Prop.forAll(ckpt) { st =>
      val d = roundTrip(st, classOf[CkptState])
      d == st &&
        d.files.map(_._1) == st.files.map(_._1) &&
        d.txns.values.sum == st.txns.values.sum &&
        d.files.flatMap(_._2.rowBase.map(_ + 1L)) ==
          st.files.flatMap(_._2.rowBase.map(_ + 1L))
    })
  }
}
