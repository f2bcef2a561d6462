package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, udf, unix_date, unix_micros}
import org.apache.spark.sql.types._
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Exact row filters that stand in for joins, so a lake read runs as the
  * one scan job its plan needs: key-set membership in place of the semi
  * and anti joins of [[Snapshots.readForKeys]], [[Snapshots.merge]]'s
  * survivors and the keyed [[Snapshots.delete]], and deletion-vector
  * liveness in place of the anti join against the deleted positions. Each
  * filter equals the join it replaces row for row; where that cannot be
  * shown for a key type, [[keyIn]] answers None and the caller joins. The
  * key-equality rule that file pruning by a key probe needs lives here too
  * ([[keysPrune]]).
  *
  * The soundness rules, each written once here:
  *  - float and double keys always join ([[filterable]]): join equality
  *    normalizes -0.0 to 0.0 and NaN to one NaN, while the boxed values of
  *    an `IN` set compare as their own bits;
  *  - a key typed differently from the column filters only when the join's
  *    common type is exact: both integral or decimal, with the wider
  *    decimal inside 38 digits. A key the column's type cannot hold exactly
  *    (out of range, finer scale) equals no row and is left out
  *    ([[exactAs]]); string vs number, date vs timestamp and every other
  *    pair join;
  *  - a null key joins with nothing: the batch's nulls never enter the set,
  *    and the anti form keeps null-key rows (`k IS NULL OR NOT k IN ...`),
  *    as an anti join does ([[keyNotIn]]);
  *  - a probe prunes only through stats in its keys' own unit, and blooms
  *    only with string keys ([[keysPrune]]);
  *  - a deleted position is a (file basename, parquet `row_index`) pair,
  *    the same pair the deleting scan marked ([[dvLive]]). */
private[graft] object RowFilters {

  /** A batch's distinct non-null key values, its key column typed `dt`,
    * as collected: external values, except dates and LTZ timestamps as
    * their epoch days and micros. */
  final case class KeySet(dt: DataType, values: Array[Any])

  /** Key sets past this size join. Planning an `IN` list costs about 50 µs
    * a key, while the join's cost hardly grows with the set: on a 4-core
    * host the filter form of `readForKeys` was faster at 1,000 keys and
    * slower at 3,000. */
  val MaxFilterKeys = 2000

  /** `c IN keys` over a column of type `colType`, or None when the filter
    * cannot be shown to equal the equi join on `c`. */
  def keyIn(c: String, colType: DataType, keys: KeySet): Option[Column] =
    if (!filterable(colType, keys.dt) || keys.values.length > MaxFilterKeys) None
    else {
      val vs = if (colType == keys.dt) keys.values.toSeq else keys.values.toSeq.flatMap(exactAs(_, colType))
      // collected values already carry the column's type as literals, but a
      // decimal literal takes its value's own precision, and dates and LTZ
      // timestamps compare as their epoch days and micros
      val (k, typed) = colType match {
        case DateType => (unix_date(col(c)), lit _)
        case TimestampType => (unix_micros(col(c)), lit _)
        case _: DecimalType => (col(c), (v: Any) => lit(v).cast(colType))
        case _ => (col(c), lit _)
      }
      Some(if (vs.isEmpty) lit(false) else k.isin(vs.map(typed): _*))
    }

  /** The anti join's form of [[keyIn]]: rows whose key is null or not in
    * the set. */
  def keyNotIn(c: String, colType: DataType, keys: KeySet): Option[Column] =
    keyIn(c, colType, keys).map(in => col(c).isNull || !in)

  private def filterable(colType: DataType, keyType: DataType): Boolean =
    if (colType == keyType) colType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | _: DecimalType => true
      case StringType => true // UTF8_BINARY: byte equality, as the join's
      case _ => false
    } else (asDecimal(colType), asDecimal(keyType)) match {
      case (Some(a), Some(b)) =>
        math.max(a.precision - a.scale, b.precision - b.scale) +
          math.max(a.scale, b.scale) <= DecimalType.MAX_PRECISION
      case _ => false
    }

  /** Integral and decimal types as the decimal the analyzer widens them to. */
  private def asDecimal(dt: DataType): Option[DecimalType] = dt match {
    case d: DecimalType => Some(d)
    case ByteType => Some(DecimalType(3, 0))
    case ShortType => Some(DecimalType(5, 0))
    case IntegerType => Some(DecimalType(10, 0))
    case LongType => Some(DecimalType(20, 0))
    case _ => None
  }

  /** A numeric key as a value of `colType` equal to it, or None when no
    * value of that type equals it. Integral values come back as the
    * column's own boxed type. */
  private def exactAs(v: Any, colType: DataType): Option[Any] = {
    val bd = v match {
      case d: java.math.BigDecimal => d
      case n: java.lang.Number => java.math.BigDecimal.valueOf(n.longValue)
    }
    try colType match {
      case d: DecimalType =>
        Some(bd.setScale(d.scale, java.math.RoundingMode.UNNECESSARY)).filter(_.precision <= d.precision)
      case _ =>
        val l = bd.longValueExact()
        colType match {
          case ByteType => Some(l.toByte).filter(_ == l)
          case ShortType => Some(l.toShort).filter(_ == l)
          case IntegerType => Some(l.toInt).filter(_ == l)
          case _ => Some(l)
        }
    } catch { case _: ArithmeticException => None }
  }

  /** Whether a probe of `keyType` keys may prune a `colType` column through
    * its stats (`bloom = false`) or its string blooms (`bloom = true`). The
    * probe's doubles are in the KEYS' canonical unit — epoch days for a
    * date, epoch micros for an LTZ timestamp, the value for numbers and
    * numeric strings — and a column's stats are in its own, so the two
    * must agree: a date key equals a timestamp row at midnight, but its
    * days read as micros would prune that row's file. A bloom holds the
    * hashes of a string column's bytes, so only string keys may probe it. */
  def keysPrune(colType: DataType, keyType: DataType, bloom: Boolean): Boolean =
    if (bloom) keyType == StringType else unit(colType) == unit(keyType)

  private def unit(dt: DataType): Int = dt match {
    case DateType => 1
    case TimestampType => 2
    case TimestampNTZType => 3
    case _ => 0
  }

  /** Keeps the rows no deletion vector in `dvs` marks, judged on the scan's
    * (basename, position) meta columns. The compressed bitmaps travel in
    * the plan and each task decodes them once: no positions relation, no
    * join, no extra job. */
  def dvLive(dvs: Seq[Snapshots.FileDv], fileCol: String, posCol: String): Column =
    udf(new DvLive(dvs.map(d => d.file -> java.util.Base64.getDecoder.decode(d.b64)).toMap))
      .withName("dv_live")(col(fileCol), col(posCol))

  private final class DvLive(bytes: Map[String, Array[Byte]])
      extends ((String, Long) => Boolean) with Serializable {
    @transient private lazy val bitmaps: Map[String, Roaring64Bitmap] =
      bytes.map { case (f, b) => f -> Snapshots.dvFromBytes(b) }
    @transient private var lastFile: String = null
    @transient private var last: Roaring64Bitmap = null

    def apply(file: String, pos: Long): Boolean = {
      if (file != lastFile) { lastFile = file; last = bitmaps.getOrElse(file, null) }
      last == null || !last.contains(pos)
    }
  }
}
