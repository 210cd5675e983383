package graft.sources

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** MODEL-BASED check of the SQL-native surface ([[GraftCatalog]]):
  * random sequences of SQL statements — INSERT, arithmetic DELETE
  * (deletion vectors), subquery DELETE (rewrite), UPDATE in BOTH
  * copy-on-write and merge-on-read modes, MERGE with both arms,
  * INSERT OVERWRITE, TRUNCATE — run against the catalog table and a
  * trivial in-memory `Map[key, value]` model; after every statement
  * the table must equal the model, and at the end every intermediate
  * version must time-travel back to its recorded model state. This
  * is the [[TxnLogModelSpec]] discipline one layer up: every
  * interleaving exercises the full V2 stack (pushdown, runtime file
  * pruning, DV readers, distributed writes) through `spark.sql`
  * alone. Fixed seeds keep CI deterministic.
  */
class GraftSqlModelSpec extends SparkTestBase {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private sealed trait Op
  private case class Insert(rows: Map[Long, Long]) extends Op
  private case class DeleteMod(mod: Long, rem: Long) extends Op
  private case class DeleteSubquery(lo: Long, n: Long) extends Op
  private case class Update(mod: Long, rem: Long, add: Long, mor: Boolean) extends Op
  private case class MergeOp(rows: Map[Long, Long], mor: Boolean) extends Op
  private case class Overwrite(rows: Map[Long, Long]) extends Op
  private case object Truncate extends Op
  private case object Widen extends Op
  private case object Compact extends Op
  private case object Analyze extends Op
  private case object AddTag extends Op
  private case class SetTagDefault(n: Int) extends Op
  private case object SetNotNull extends Op
  private case object NullProbe extends Op

  private val rowsGen: Gen[Map[Long, Long]] = for {
    n <- Gen.choose(1, 12)
    ks <- Gen.listOfN(n, Gen.choose(0L, 300L))
    v <- Gen.choose(1L, 1000L)
  } yield ks.map(k => k -> (v + k)).toMap

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> rowsGen.map(Insert),
    2 -> (for {
      mod <- Gen.choose(2L, 7L); rem <- Gen.choose(0L, 6L)
    } yield DeleteMod(mod, rem % mod)),
    1 -> (for {
      lo <- Gen.choose(0L, 250L); n <- Gen.choose(1L, 40L)
    } yield DeleteSubquery(lo, n)),
    3 -> (for {
      mod <- Gen.choose(2L, 7L); rem <- Gen.choose(0L, 6L)
      add <- Gen.choose(1L, 9999L); mor <- Gen.oneOf(true, false)
    } yield Update(mod, rem % mod, add, mor)),
    3 -> (for { rows <- rowsGen; mor <- Gen.oneOf(true, false) }
      yield MergeOp(rows, mor)),
    1 -> rowsGen.map(Overwrite),
    1 -> Gen.const(Truncate),
    1 -> Gen.const(Widen),
    // maintenance interleaved with DML: both are ROW-PRESERVING, so
    // the model is untouched — but compaction re-clusters (and on the
    // bucketed variant re-derives bucket stats via splitStatKeys) and
    // analyze overlays sketches + histograms mid-history
    1 -> Gen.const(Compact),
    1 -> Gen.const(Analyze),
    // column contracts interleaved with DML: ADD COLUMN ... DEFAULT
    // (older rows must read the FROZEN default forever after), SET
    // DEFAULT (future writes only), SET NOT NULL (via CALL — proven
    // against live rows), and a null-write probe that must publish
    // NOTHING once the contract is up
    1 -> Gen.const(AddTag),
    1 -> Gen.choose(1, 9).map(SetTagDefault),
    1 -> Gen.const(SetNotNull),
    1 -> Gen.const(NullProbe))

  /** INSERTs must not create duplicate keys (the table's merge
    * invariant) — restrict to keys absent from the model.
    */
  private def freshOnly(rows: Map[Long, Long], model: Map[Long, Long]) =
    rows -- model.keys

  private def withMode[T](mor: Boolean)(body: => T): T =
    if (!mor) body
    else withSQLConf("spark.graft.dml.mode" -> "mor")(body)

  test("random SQL statement sequences track the model; every version travels back") {
    val seeds = sys.env.get("GRAFT_SQL_MODEL_SEEDS").map(_.toLong).getOrElse(3L)
    val nOps = sys.env.get("GRAFT_SQL_MODEL_OPS").map(_.toInt).getOrElse(10)
    // every seed sweeps twice: a plain table and one PARTITIONED BY
    // (bucket(4, k)) — so every random interleaving also exercises
    // bucket-stat staging, pruning and compaction re-derivation
    for (seed <- 1L to seeds; bucketed <- Seq(false, true)) {
      val wh = Files.createTempDirectory(s"graft-sqlmodel-$seed-$bucketed").toString
      val cat = s"gsqlm${seed}_$bucketed"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      // v starts NARROW so a random Widen op can ALTER it to BIGINT
      // mid-history: pre-widen versions must keep traveling back
      // through their own era's schema
      spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v INT)" +
        (if (bucketed) " PARTITIONED BY (bucket(4, k))" else ""))
      val root = s"$wh/t"
      var model = Map.empty[Long, Long]
      var widened = false
      // DEFAULT/NOT NULL contract state: once `tag` exists, every key
      // carries the default that was CURRENT when it was written
      // (pre-add keys carry the frozen 'd0'); once v is NOT NULL, a
      // null write must publish nothing
      var tagAdded = false
      var currentDefault = "d0"
      var tagModel = Map.empty[Long, String]
      var notNull = false
      val history = scala.collection.mutable.Map.empty[Long, Map[Long, Long]]
      history(TxnLog.currentVersion(root)) = model

      def values(rows: Map[Long, Long]): String =
        rows.map { case (k, v) => s"($k, $v)" }.mkString(", ")

      def tableRows(version: Long = Long.MaxValue): Map[Long, Long] = {
        val sel =
          if (version == Long.MaxValue) s"SELECT k, v FROM $cat.t"
          else s"SELECT k, v FROM $cat.t VERSION AS OF $version"
        spark.sql(sel).as[(Long, Long)].collect().toMap
      }

      val ops = sample(Gen.listOfN(nOps, opGen), seed)
      ops.zipWithIndex.foreach { case (op, i) =>
        op match {
          case Insert(rows0) =>
            val rows = freshOnly(rows0, model)
            if (rows.nonEmpty) {
              // explicit column list: once `tag` exists, the missing
              // column must resolve to the CURRENT default
              spark.sql(s"INSERT INTO $cat.t (k, v) VALUES ${values(rows)}")
              model = model ++ rows
              if (tagAdded) tagModel ++= rows.keys.map(_ -> currentDefault)
            }
          case DeleteMod(mod, rem) =>
            val hit = model.keys.exists(_ % mod == rem)
            spark.sql(s"DELETE FROM $cat.t WHERE k % $mod = $rem")
            model = model.filterNot { case (k, _) => k % mod == rem }
            tagModel = tagModel.filterNot { case (k, _) => k % mod == rem }
            if (!hit) history.remove(TxnLog.currentVersion(root)) // no-op burns no version
          case DeleteSubquery(lo, n) =>
            spark.sql(s"DELETE FROM $cat.t WHERE k IN (SELECT id FROM range($lo, ${lo + n}))")
            model = model.filterNot { case (k, _) => k >= lo && k < lo + n }
            tagModel = tagModel.filterNot { case (k, _) => k >= lo && k < lo + n }
          case Update(mod, rem, add, mor) =>
            withMode(mor) {
              spark.sql(s"UPDATE $cat.t SET v = v + $add WHERE k % $mod = $rem")
            }
            model = model.map { case (k, v) =>
              k -> (if (k % mod == rem) v + add else v) }
          case MergeOp(rows, mor) =>
            spark.createDataset(rows.toSeq).toDF("k", "v")
              .createOrReplaceTempView(s"gsqlm_src_$seed")
            val inserted = rows.keySet -- model.keySet
            withMode(mor) {
              spark.sql(
                s"""MERGE INTO $cat.t t USING gsqlm_src_$seed s ON t.k = s.k
                    WHEN MATCHED THEN UPDATE SET v = s.v
                    WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
            }
            model = model ++ rows
            // matched rows KEEP their tag; inserted rows get the
            // current default through the merge's column-list arm
            if (tagAdded) tagModel ++= inserted.map(_ -> currentDefault)
          case Overwrite(rows) =>
            spark.createDataset(rows.toSeq).toDF("k", "v")
              .createOrReplaceTempView(s"gsqlm_ow_$seed")
            val sel =
              if (tagAdded) s"SELECT k, v, '$currentDefault' AS tag FROM gsqlm_ow_$seed"
              else s"SELECT k, v FROM gsqlm_ow_$seed"
            spark.sql(s"INSERT OVERWRITE $cat.t $sel")
            model = rows
            if (tagAdded) tagModel = rows.keys.map(_ -> currentDefault).toMap
          case Truncate =>
            val wasEmpty = model.isEmpty
            spark.sql(s"TRUNCATE TABLE $cat.t")
            model = Map.empty
            tagModel = Map.empty
            if (wasEmpty) history.remove(TxnLog.currentVersion(root))
          case Widen =>
            // int -> bigint, at most once; values are unchanged, so
            // the model is untouched — only the era's schema moves
            if (!widened) {
              spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN v TYPE BIGINT")
              widened = true
            }
          case Compact =>
            // row-preserving: folds small files (DVs compact in), the
            // model is untouched; below-minFiles returns version -1
            // and burns nothing
            spark.sql(s"CALL $cat.system.compact_files(" +
              "table => 't', small_mb => 64, target_mb => 64)")
            ()
          case Analyze =>
            // row-preserving overlay: sketches + equi-height
            // histograms land mid-history without moving the model
            if (model.nonEmpty) {
              spark.sql(s"CALL $cat.system.analyze(" +
                "table => 't', histogram_bins => 8)")
              ()
            }
          case AddTag =>
            // at most once: existing keys FREEZE on 'd0' (the
            // EXISTS_DEFAULT) no matter how the current default moves
            if (!tagAdded) {
              spark.sql(s"ALTER TABLE $cat.t ADD COLUMN tag STRING DEFAULT 'd0'")
              tagAdded = true
              currentDefault = "d0"
              tagModel = model.keys.map(_ -> "d0").toMap
            }
          case SetTagDefault(n) =>
            // future writes only; rows already on disk keep theirs
            if (tagAdded) {
              spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN tag SET DEFAULT 'd$n'")
              currentDefault = s"d$n"
            }
          case SetNotNull =>
            // v is never null in this model, so the proof always
            // passes; afterwards the null probe below must bounce
            if (!notNull) {
              spark.sql(s"CALL $cat.system.set_not_null(table => 't', column => 'v')")
              notNull = true
            }
          case NullProbe =>
            if (notNull) {
              val vBefore = TxnLog.currentVersion(root)
              intercept[Exception] {
                spark.sql(s"INSERT INTO $cat.t (k, v) " +
                  "VALUES (999999, CAST(NULL AS BIGINT))")
              }
              assert(TxnLog.currentVersion(root) === vBefore,
                s"seed $seed: a rejected null write must publish nothing")
            }
        }
        val v = TxnLog.currentVersion(root)
        history(v) = model
        assert(tableRows() === model,
          s"seed $seed diverged after op #$i ($op) at version $v")
        if (tagAdded) {
          val gotTags = spark.sql(s"SELECT k, tag FROM $cat.t")
            .as[(Long, String)].collect().toMap
          assert(gotTags === tagModel,
            s"seed $seed: tag defaults diverged after op #$i ($op) at version $v")
        }
      }

      // time-travel sweep: every recorded version resolves to its model
      history.toSeq.sortBy(_._1).foreach { case (v, m) =>
        if (v >= 1L)
          assert(tableRows(v) === m, s"seed $seed: version $v does not travel back")
      }
      TxnLog.deleteRecursively(java.nio.file.Paths.get(wh))
    }
  }
}
