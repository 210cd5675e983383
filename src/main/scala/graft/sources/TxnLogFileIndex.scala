package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A Spark [[FileIndex]] over a [[TxnLog]] snapshot — the integration
  * that makes log-level data skipping work for ARBITRARY DataFrame /
  * SQL filters, not just the explicit `readRange`/`readPoint` calls:
  * Catalyst hands every scan its pushed-down data filters, and
  * `listFiles` answers with only the files whose per-column TYPED
  * (min, max, nulls) stats and bloom filters cannot rule out — files
  * the query provably doesn't need are never opened, never even
  * `stat`-ed. This is the public Delta recipe (TahoeLogFileIndex):
  * the log, not the filesystem, names the files, so planning is
  * metadata-only and immune to eventually-consistent listings.
  *
  * Soundness mirrors the explicit read paths: an unknown predicate
  * shape, an unstatted column, a stat of a DIFFERENT KIND than the
  * attribute's type ([[TxnLog.FileStat.typ]] — the guard that makes
  * wrong-scale comparisons like timestamp-micros-vs-long impossible),
  * or a bloom on a different column keep the file. The snapshot is
  * resolved ONCE at construction — the index is a stable snapshot no
  * matter what commits land after.
  */
class TxnLogFileIndex(spark: SparkSession, root: String,
                      state: Seq[(String, TxnLog.FileMeta)]) extends FileIndex {

  // File sizes come from the LOG when the commit recorded them
  // (every r13+ writer does): constructing the index then touches the
  // filesystem for NO file — on an object store that is the
  // difference between a metadata fold and a HEAD request per live
  // file. Pre-r13 records fall back to one stat per file.
  private val statuses: Seq[(FileStatus, TxnLog.FileMeta)] = state.map { case (f, m) =>
    // mtime = the commit timestamp (when the file became table-
    // visible) so `_metadata.file_modification_time` stays meaningful
    // without a stat; pre-r13 records fall back to the real FS values
    val (size, mtime) =
      if (m.size >= 0L) (m.size, m.modTime)
      else {
        val p = java.nio.file.Paths.get(f)
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }
    // component-wise URI build ([[TxnLog.hadoopPath]]): a '#' or '%'
    // in the table root percent-encodes instead of parsing as
    // fragment/escape — matching the url_decode on every read-back
    (new FileStatus(size, false, 1, 128L * 1024 * 1024,
      mtime, TxnLog.hadoopPath(f)), m)
  }

  override def rootPaths: Seq[Path] = Seq(TxnLog.hadoopPath(root))
  override def partitionSchema: StructType = StructType(Nil)
  override def inputFiles: Array[String] = state.map(_._1).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_._1.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = statuses.filter { case (_, m) => keep(m, dataFilters) }
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._1).toArray))
  }

  /** Could any row of a file with metadata `m` satisfy every filter?
    * The pruning decision alone, independent of the listing shape —
    * what the DataSource V2 batch scan ([[GraftScan]]) asks per file.
    */
  private[sources] def keep(m: TxnLog.FileMeta,
                            dataFilters: Seq[Expression]): Boolean =
    dataFilters.forall(f => mayMatch(m, flattenPaths(f)))

  /** Fold `GetStructField` hops over an attribute into ONE flat
    * attribute whose name is the DOTTED leaf path (`s.x`) and whose
    * type is the leaf's — the stats pass keys struct-leaf stats under
    * exactly that path ([[GraftTable.statPaths]]), so a predicate on a
    * nested field prunes through the same typed machinery as a
    * top-level one. Paths deeper than the collected stats simply find
    * no stat (sound keep); names containing a literal dot cannot
    * collide because statPaths skips them.
    */
  private def flattenPaths(e: Expression): Expression = e.transformUp {
    case g: GetStructField =>
      pathOf(g).map { case (n, dt) =>
        AttributeReference(n, dt, nullable = g.nullable)()
      }.getOrElse(g)
  }

  private def pathOf(e: Expression): Option[(String, DataType)] = e match {
    case a: AttributeReference => Some((a.name, a.dataType))
    case g: GetStructField =>
      pathOf(g.child).map { case (p, _) => (s"$p.${g.extractFieldName}", g.dataType) }
    case _ => None
  }

  /** The kind tag a stat must carry to compare against an attribute
    * of this type — [[TxnLog.FileStat.typ]]'s vocabulary. The
    * ATTRIBUTE's type (not the literal's) decides: after analysis,
    * Catalyst has already cast the comparand to the attribute's type,
    * so this also types the raw values `InSet` carries.
    */
  private def kindOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("l")
    case TimestampType            => Some("t")
    case DateType                 => Some("d")
    case StringType               => Some("s")
    case FloatType | DoubleType   => Some("f")
    case _                        => None
  }

  /** `(sign(lo cmp v), sign(hi cmp v))` when `a` has a stat of its
    * own kind and `v` is comparable; None = no pruning possible
    * (keep). All comparisons happen in the stat's own representation:
    * long-vs-long, micros-vs-micros, days-vs-days, UTF-8 bytes,
    * doubles — never across kinds.
    */
  private def cmp(m: TxnLog.FileMeta, a: AttributeReference,
                  v: Any): Option[(Int, Int)] =
    if (v == null) None
    else kindOf(a.dataType).flatMap { k =>
      m.stats.get(a.name).filter(_.typ == k).flatMap { st =>
        k match {
          case "l" | "t" | "d" =>
            val num: Option[Long] = v match {
              case l: Long   => Some(l)
              case i: Int    => Some(i.toLong)
              case s: Short  => Some(s.toLong)
              case b: Byte   => Some(b.toLong)
              case _         => None
            }
            num.map(n => (java.lang.Long.compare(st.lo, n),
              java.lang.Long.compare(st.hi, n)))
          case "s" =>
            v match {
              case u: UTF8String =>
                val vb = u.getBytes
                Some((TxnLog.byteCompare(TxnLog.b64dec(st.loS), vb),
                  TxnLog.byteCompare(TxnLog.b64dec(st.hiS), vb)))
              case _ => None
            }
          case "f" =>
            val num: Option[Double] = v match {
              case d: Double => Some(d)
              case f: Float  => Some(f.toDouble)
              case _         => None
            }
            num.filterNot(_.isNaN).flatMap { d0 =>
              // SQL (and Spark) treat -0.0 = 0.0; normalize so a
              // 0.0-bounded range can never prune a -0.0 probe
              val d = if (d0 == 0.0d) 0.0d else d0
              try {
                val lo0 = st.loS.toDouble; val hi0 = st.hiS.toDouble
                val lo = if (lo0 == 0.0d) 0.0d else lo0
                val hi = if (hi0 == 0.0d) 0.0d else hi0
                Some((java.lang.Double.compare(lo, d),
                  java.lang.Double.compare(hi, d)))
              } catch { case _: NumberFormatException => None }
            }
          case _ => None
        }
      }
    }

  /** Could any row of a file with metadata `m` satisfy `e`? Errs on
    * `true` for every shape it doesn't understand — pruning must
    * never be unsound. Only a stat on the attribute's own column, OF
    * THE ATTRIBUTE'S KIND, prunes.
    */
  private def mayMatch(m: TxnLog.FileMeta, e: Expression): Boolean = e match {
    case And(l, r) => mayMatch(m, l) && mayMatch(m, r)
    case Or(l, r)  => mayMatch(m, l) || mayMatch(m, r)
    case EqualTo(a: AttributeReference, Literal(v, _)) => pointOk(m, a, v)
    case EqualTo(Literal(v, _), a: AttributeReference) => pointOk(m, a, v)
    case EqualNullSafe(a: AttributeReference, Literal(v, _)) =>
      if (v == null) nullOk(m, a) else pointOk(m, a, v)
    case EqualNullSafe(Literal(v, _), a: AttributeReference) =>
      if (v == null) nullOk(m, a) else pointOk(m, a, v)
    case GreaterThan(a: AttributeReference, Literal(v, _)) =>
      cmp(m, a, v).forall(_._2 > 0)  // some value above v exists iff hi > v
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
      cmp(m, a, v).forall(_._2 >= 0)
    case LessThan(a: AttributeReference, Literal(v, _)) =>
      cmp(m, a, v).forall(_._1 < 0)
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
      cmp(m, a, v).forall(_._1 <= 0)
    case GreaterThan(Literal(v, _), a: AttributeReference) =>
      mayMatch(m, LessThan(a, Literal(v, a.dataType)))
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
      mayMatch(m, LessThanOrEqual(a, Literal(v, a.dataType)))
    case LessThan(Literal(v, _), a: AttributeReference) =>
      mayMatch(m, GreaterThan(a, Literal(v, a.dataType)))
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) =>
      mayMatch(m, GreaterThanOrEqual(a, Literal(v, a.dataType)))
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { case Literal(v, _) => pointOk(m, a, v) }
    case InSet(a: AttributeReference, vs) =>
      vs.exists(v => pointOk(m, a, v))
    case GraftInProbe(a, values) => inProbeOk(m, a, values)
    case IsNull(a: AttributeReference)    => nullOk(m, a)
    case IsNotNull(a: AttributeReference) => notNullOk(m, a)
    case StartsWith(a: AttributeReference, Literal(p: UTF8String, StringType)) =>
      prefixOk(m, a, p)
    case _ => true
  }

  /** `IS NULL` can only match a file that HAS nulls in the column:
    * prune iff a stat records a zero null count. A missing stat or a
    * pre-r13 stat (nulls unknown, -1) keeps the file. The null count
    * is type-independent, so any stat on the column serves.
    */
  private def nullOk(m: TxnLog.FileMeta, a: AttributeReference): Boolean =
    m.stats.get(a.name).forall(_.nulls != 0L)

  /** `IS NOT NULL` fails only for an all-null file — which records NO
    * range stat ([[TxnLog.statsForStaged]] skips null ranges), so the
    * only prunable case is a stat that counted every row null.
    */
  private def notNullOk(m: TxnLog.FileMeta, a: AttributeReference): Boolean =
    m.stats.get(a.name).forall(st =>
      !(st.nulls >= 0L && st.rows >= 0L && st.nulls == st.rows))

  /** `startswith(a, p)`: a value with prefix `p` exists in [lo, hi]
    * iff `hi >= p` (else every value sorts strictly below every
    * p-prefixed string) and `truncate(lo, |p|) <= p` (truncation is
    * monotone in binary order, so otherwise every value's prefix
    * sorts strictly above `p`). Byte-order logic, matching Spark's
    * binary string comparison.
    */
  private def prefixOk(m: TxnLog.FileMeta, a: AttributeReference,
                       p: UTF8String): Boolean =
    p == null || m.stats.get(a.name).filter(_.typ == "s").forall { st =>
      val pb = p.getBytes
      val lo = TxnLog.b64dec(st.loS)
      val hi = TxnLog.b64dec(st.hiS)
      TxnLog.byteCompare(hi, pb) >= 0 &&
        TxnLog.byteCompare(lo.take(pb.length), pb) <= 0
    }

  /** Point predicate: the typed range stats, any `bucket(N;c)` stat
    * (a hash-partitioned table admits an equality probe only in its
    * one bucket) AND the bloom filter must ALL admit the value.
    */
  private def pointOk(m: TxnLog.FileMeta, a: AttributeReference, v: Any): Boolean = {
    if (v == null) return nullOk(m, a) // `=` NULL matches nothing; null presence is the sound cap
    val rangeOk = cmp(m, a, v).forall { case (lc, hc) => lc <= 0 && hc >= 0 }
    val probe: Any = v match {
      case u: UTF8String => u.toString // catalyst strings → lit()-able
      case other         => other
    }
    rangeOk && bucketOk(m, a, v) && TxnLog.bloomAdmits(spark, m, a.name, probe)
  }

  /** Per-file bloom probes for one [[GraftInProbe]] window are capped
    * here: positions are cached per VALUE across files
    * ([[TxnLog.bloomAdmits]]'s probe cache), so the bound is on hash
    * tests per file, not on hashing work. Past the cap the range
    * window alone decides (sound: a superset).
    */
  private val InProbeBloomCap = 1024

  /** A big sorted IN-set against one file: binary-search the file's
    * typed [lo, hi] into the set — O(log |keys|), never a scan of the
    * whole list — then, when the surviving window is small and the
    * file carries a bloom on the column, point-probe each survivor.
    * A file whose range contains NO key prunes outright (this is what
    * the r16 [min, max] envelope could not do for SPARSE key sets);
    * bloom precision survives at any set size. Files without a
    * usable range stat keep the whole window (sound).
    */
  private def inProbeOk(m: TxnLog.FileMeta, a: AttributeReference,
                        values: Seq[Any]): Boolean = {
    if (values.isEmpty) return false
    val indexed = values.toIndexedSeq
    // cmp depends only on (stat presence, kind): probe once to learn
    // whether this file can range-discriminate at all
    val window: IndexedSeq[Any] =
      if (cmp(m, a, indexed.head).isEmpty) indexed
      else {
        // first index with stat.lo <= v (values ascend, so the
        // predicate is monotone true-ward)
        var l = 0; var r = indexed.length
        while (l < r) {
          val mid = (l + r) >>> 1
          if (cmp(m, a, indexed(mid)).exists(_._1 <= 0)) r = mid else l = mid + 1
        }
        val loI = l
        // first index PAST the last v with stat.hi >= v
        l = loI; r = indexed.length
        while (l < r) {
          val mid = (l + r) >>> 1
          if (cmp(m, a, indexed(mid)).exists(_._2 >= 0)) l = mid + 1 else r = mid
        }
        indexed.slice(loI, l)
      }
    if (window.isEmpty) false
    else if (window.size <= InProbeBloomCap)
      window.exists { v =>
        bucketOk(m, a, v) && TxnLog.bloomAdmits(spark, m, a.name, v match {
          case u: UTF8String => u.toString
          case other         => other
        })
      }
    else true
  }

  /** Bucket-transform pruning: a file written under `PARTITIONED BY
    * (bucket(N, c))` carries a `bucket(N;c)` stat whose [lo, hi] is
    * its range of bucket ids (a point when the writer clustered). An
    * equality probe admits the file only if pmod(hash(v), N) falls in
    * that range. The stat key itself names N, so files from different
    * bucketing eras each prune under their OWN modulus — a file that
    * spans buckets (wide range) is simply kept. [[TxnLog.bucketOf]]
    * hashes the CANONICAL representation, so type widening never
    * flips a bucket.
    */
  private def bucketOk(m: TxnLog.FileMeta, a: AttributeReference, v: Any): Boolean =
    m.stats.forall {
      case (TxnLog.BucketKeyRe(nStr, c), st) if c == a.name && st.typ == "l" =>
        TxnLog.bucketOf(v, a.dataType, nStr.toInt)
          .forall(b => st.lo <= b && b <= st.hi)
      case _ => true
    }
}
