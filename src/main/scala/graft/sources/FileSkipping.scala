package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** What a stats-pruned read scanned: the pruned DataFrame plus the file
  * economics ([[filesSkipped]] is the I/O a naive full scan would have
  * paid — at 100 TB on a clustered table it is nearly all of it).
  */
final case class SkippingScan(df: DataFrame, filesScanned: Int,
                              filesSkipped: Int)

/** Key-range file skipping under both table formats. DeltaLite and
  * IcebergLite each decode their own per-file bounds (add-stats JSON,
  * manifest single-value bytes) and hand them here raw; everything after
  * that is one code path:
  *  - the comparison [[domain]] a column's values and bounds meet in,
  *    chosen by the column's Spark type;
  *  - the bounded driver collect of a batch's keys ([[boundedKeys]]);
  *  - the per-file tests: range overlap ([[rangeSplit]], the readWhere
  *    prune) and sorted-key intersection ([[keySplit]], the merge/delete
  *    prune — partition values go through it as one-point ranges);
  *  - the parquet-footer min/max fold both formats encode bounds from
  *    ([[footerMinMax]]).
  *
  * Every test answers "may this file hold a matching row?", and a file
  * without a usable bound, or a column without a safe domain, answers
  * yes: pruning is never a correctness dependency.
  */
private[graft] object FileSkipping {

  /** UTF-8 bytes under unsigned lexicographic order — the domain parquet
    * stats, Iceberg bound truncation and Spark's binary string comparison
    * agree on. Java String.compareTo (UTF-16 code units) diverges for
    * supplementary-plane characters, so string bounds compare HERE,
    * never as Strings.
    */
  final class Utf8Bytes(val bytes: Array[Byte])
      extends Comparable[Utf8Bytes] {
    def compareTo(o: Utf8Bytes): Int = {
      val n = math.min(bytes.length, o.bytes.length)
      var i = 0
      while (i < n) {
        val c = (bytes(i) & 0xFF) - (o.bytes(i) & 0xFF)
        if (c != 0) return c
        i += 1
      }
      bytes.length - o.bytes.length
    }
  }

  type Key = Comparable[Any]

  /** A string value (text or raw UTF-8 bytes) in the UTF-8 byte domain. */
  def utf8(x: Any): Key = (x match {
    case b: Array[Byte] => new Utf8Bytes(b)
    case other => new Utf8Bytes(other.toString.getBytes(StandardCharsets.UTF_8))
  }).asInstanceOf[Key]

  /** The comparison domain of a column of Spark type `dt`, or None when
    * its values have no safe one (dates, timestamps, booleans, binaries:
    * callers keep every file). Every value source maps through it —
    * query bounds, batch keys, JSON stats text, decoded manifest bytes,
    * hive partition strings:
    *  - strings: UTF-8 bytes;
    *  - float/double: IEEE `Double`, the residual filter's own domain (a
    *    decimal 0.3 is not the double 0.3). Infinities and NaN order as
    *    `java.lang.Double` orders them, which is Spark's order too; -0.0
    *    folds onto 0.0, which Spark compares equal. Text is parsed at
    *    the column's precision, so a FLOAT bound written as "0.3" reads
    *    back as the float 0.3, not the double;
    *  - integral and decimal: exact BigDecimal.
    */
  def domain(dt: DataType): Option[Any => Key] = dt match {
    case StringType => Some(utf8(_))
    case FloatType => Some(x => ieee(x match {
      case n: Number => n.doubleValue
      case s => java.lang.Float.parseFloat(s.toString).toDouble
    }))
    case DoubleType => Some(x => ieee(x match {
      case n: Number => n.doubleValue
      case s => java.lang.Double.parseDouble(s.toString)
    }))
    case ByteType | ShortType | IntegerType | LongType | _: DecimalType =>
      Some(x => new java.math.BigDecimal(x.toString).asInstanceOf[Key])
    case _ => None
  }

  private def ieee(d: Double): Key =
    java.lang.Double.valueOf(if (d == 0.0) 0.0 else d).asInstanceOf[Key]

  /** [[domain]] for hive partition values, which are directory STRINGS:
    * only string and integral columns read back exactly from them (a
    * date, timestamp or double directory value has its own text form),
    * so only those prune.
    */
  def partitionDomain(dt: DataType): Option[Any => Key] = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType =>
      domain(dt)
    case _ => None
  }

  /** Refuse range bounds whose kind does not match the column's: a
    * string bound on a numeric column (or the reverse) must not flip the
    * comparison into the wrong domain and silently mis-prune.
    */
  def requireBoundsMatch(table: String, keyCol: String, dt: DataType,
                         lo: Any, hi: Any): Unit = {
    val isString = dt == StringType
    require(isString == lo.isInstanceOf[String] &&
        isString == hi.isInstanceOf[String],
      s"$table.$keyCol is ${dt.simpleString}; bounds " +
        s"(${lo.getClass.getSimpleName}, ${hi.getClass.getSimpleName}) " +
        "must match the column type")
  }

  /** Driver-collect bound for key pruning: past this many distinct
    * first-key values, selective merges and deletes skip pruning
    * (correct, just unpruned) rather than collect unboundedly. ~4M keys
    * ≈ tens of MB of driver heap — the CDC-batch shape with headroom.
    */
  val DefaultMaxPruneKeys: Int = 4 << 20

  /** The batch's distinct non-null `keyCol` values, collected through a
    * `limit(max + 1)` so at most max+1 rows EVER reach the driver; None
    * when the batch exceeds the bound (caller must fall back to the
    * unpruned path). Null keys never equi-join an existing row (they
    * land as inserts), so they don't drive the prune.
    */
  def boundedKeys(batch: DataFrame, keyCol: String,
                  maxPruneKeys: Int): Option[Array[Row]] = {
    require(maxPruneKeys > 0, s"maxPruneKeys must be positive: $maxPruneKeys")
    val rows = batch.select(keyCol).na.drop().distinct()
      .limit(maxPruneKeys + 1).collect()
    if (rows.length > maxPruneKeys) None else Some(rows)
  }

  /** Split `files` into (may match, skipped) for rows with key in
    * `[lo, hi]`: a file is skipped only when its bound `[min, max]`
    * misses the range. `bounds` gives a file's raw (min, max) in any form
    * `key` reads; None keeps the file, and so does a missing domain.
    */
  def rangeSplit[F](files: Seq[F], key: Option[Any => Key], lo: Any,
                    hi: Any)(bounds: F => Option[(Any, Any)])
      : (Seq[F], Seq[F]) = key match {
    case None => (files, Seq.empty)
    case Some(k) =>
      val (l, h) = (k(lo), k(hi))
      files.partition(f => bounds(f).forall { case (mn, mx) =>
        k(mx).compareTo(l) >= 0 && k(mn).compareTo(h) <= 0
      })
  }

  /** Split `files` into (may match, skipped) for a batch of distinct
    * key rows (first column): a file is skipped only when no key falls
    * inside its bound `[min, max]` — one binary search over the sorted
    * keys per file. Same `bounds` contract as [[rangeSplit]].
    */
  def keySplit[F](files: Seq[F], key: Option[Any => Key],
                  keys: Array[Row])(bounds: F => Option[(Any, Any)])
      : (Seq[F], Seq[F]) = key match {
    case None => (files, Seq.empty)
    case Some(k) =>
      val sorted = keys.map(r => k(r.get(0))).sortWith(_.compareTo(_) < 0)
      files.partition(f => bounds(f).forall { case (mn, mx) =>
        val (lo, hi) = (k(mn), k(mx))
        // first key ≥ lo, then check it is ≤ hi
        var l = 0; var r = sorted.length
        while (l < r) {
          val m = (l + r) >>> 1
          if (lo.compareTo(sorted(m)) > 0) l = m + 1 else r = m
        }
        l < sorted.length && hi.compareTo(sorted(l)) >= 0
      })
  }

  /** Per top-level column (min, max) of a parquet footer, folded across
    * its row groups in each value's natural order, for the columns
    * `keep` admits, in first-appearance order. String-annotated binaries
    * come out as [[Utf8Bytes]] (parquet's own stats order; UTF-16 String
    * compare would pick the wrong extreme past the BMP), unannotated
    * primitives (int, long, float, double, boolean) as their boxed
    * value. Annotated non-string columns (dates, decimals, narrow ints)
    * and raw binaries are left out rather than mis-ranged — each format
    * encodes what remains its own way.
    */
  def footerMinMax(blocks: Seq[BlockMetaData], keep: String => Boolean)
      : Seq[(String, (Any, Any))] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, (Key, Key)]
    for (b <- blocks; c <- b.getColumns.asScala) {
      val parts = c.getPath.toArray
      val st = c.getStatistics
      if (parts.length == 1 && keep(parts(0)) && st != null && !st.isEmpty &&
          st.hasNonNullValue) {
        val logical = c.getPrimitiveType.getLogicalTypeAnnotation
        val isString = logical.isInstanceOf[StringLogicalTypeAnnotation]
        def v(x: Any): Option[Key] = (x match {
          case bin: Binary => if (isString) Some(utf8(bin.getBytes)) else None
          case other => if (logical == null) Some(other) else None
        }).map(_.asInstanceOf[Key])
        for (mn <- v(st.genericGetMin(): Any); mx <- v(st.genericGetMax(): Any)) {
          acc(parts(0)) = acc.get(parts(0)) match {
            case Some((lo, hi)) =>
              (if (mn.compareTo(lo) < 0) mn else lo,
                if (mx.compareTo(hi) > 0) mx else hi)
            case None => (mn, mx)
          }
        }
      }
    }
    acc.toSeq
  }
}
