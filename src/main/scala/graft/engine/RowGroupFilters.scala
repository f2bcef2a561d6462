package graft.engine

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Row-group (and page/bloom) predicate pushdown for the DSv2 snapshot
  * readers — the WITHIN-file half of filter pruning. [[StatsPredicate]] drops
  * whole files via the manifest index; this module re-expresses the same
  * pushed conjuncts as parquet `FilterPredicate`s so the reader's
  * `ParquetFileReader` can additionally drop row groups (footer stats),
  * pages (column indexes) and probe bloom filters INSIDE each surviving
  * file. Invisible at sf0.1 (~1 MB files = one row group); at 100 TB with
  * ~1 GB files and 128 MB row groups it is the difference between decoding
  * a boundary file and decoding 1/8th of it.
  *
  * Soundness: every pushed filter stays RESIDUAL in Spark (the scan returns
  * all filters from `pushFilters`), so a dropped row group is always one the
  * residual filter would have emptied anyway. Translation is per-FILE on the
  * executor against the file's real footer schema: a conjunct whose column
  * is absent (pre-evolution file) or whose physical type disagrees (a
  * type-widened column whose old files hold the narrow type) is simply
  * omitted for that file — conservative, never wrong.
  *
  * Two scan shapes must NOT row-group-filter, enforced at the call sites:
  *  - DV'd files: deletion vectors address absolute row ordinals, which
  *    skipped row groups would shift;
  *  - row-level-operation scans (CoW rewrite): the copied-rows path must
  *    read every row of a replaced file, matching or not.
  */
private[graft] object RowGroupFilters {

  /** Driver-side pre-resolved conjunct: physical column name, a canonical
    * primitive value, and a type tag the executor checks against the file
    * footer before building the parquet predicate. Serializable by
    * construction (ships inside the reader factory). */
  sealed trait RgF extends Serializable
  /** op: eq | gt | gte | lt | lte. `value` canonical (Int/Long/Float/Double/
    * Boolean/String; timestamps as epoch-micros Long, decimals as the
    * unscaled Long at the column's scale). */
  final case class RgCmp(op: String, phys: String, tpe: String, value: Any) extends RgF
  final case class RgIn(phys: String, tpe: String, values: Array[Any]) extends RgF
  final case class RgIsNull(phys: String, tpe: String, isNull: Boolean) extends RgF
  final case class RgOr(l: RgF, r: RgF) extends RgF
  final case class RgAnd(l: RgF, r: RgF) extends RgF

  /** Largest IN-set worth shipping: runtime DPP sets beyond this stop
    * paying for themselves (the predicate java-serializes into the task's
    * Hadoop conf) and the file-level bloom prune has already run. */
  private val InCap = 10000

  // ---- driver side: sources.Filter -> RgF --------------------------------

  /** Translate the translatable conjuncts of `filters` (logical names)
    * into shippable form. Untranslatable conjuncts are dropped — AND
    * semantics make that conservative. */
  def translate(
      filters: Seq[Filter],
      schema: StructType,
      physOf: Map[String, String]): Array[RgF] =
    filters.flatMap(one(_, schema, physOf)).toArray

  private[engine] def tagOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | DateType => Some("int")
    case LongType => Some("long")
    case FloatType => Some("float")
    case DoubleType => Some("double")
    case BooleanType => Some("boolean")
    case StringType => Some("string")
    // ts-range scans over event/log tables are THE archetypal 100 TB
    // predicate: canonicalize to epoch micros (Long); the executor-side
    // footer check requires the exact TIMESTAMP(MICROS) annotation with
    // the matching UTC adjustment (ts = instant/LTZ, tsn = wall/NTZ), so
    // INT96-era and MILLIS files simply omit the conjunct
    case TimestampType => Some("ts")
    case TimestampNTZType => Some("tsn")
    // fixed-scale decimals stored as INT32/INT64 (precision <= 18):
    // canonicalize to the UNSCALED Long at the column's scale; the footer
    // check requires a DECIMAL annotation with the same scale, so a file
    // generation with different scale (or FIXED_LEN_BYTE_ARRAY storage)
    // omits. The tag carries the scale.
    case d: DecimalType if d.precision <= 18 => Some(s"dec${d.scale}")
    // raw binary: parquet's un-annotated BINARY comparator is unsigned
    // lexicographic, the same order Spark's BinaryType comparisons use —
    // point/range predicates on content hashes and fingerprint keys
    case BinaryType => Some("binary")
    case _ => None // wide-decimal/nested: not worth the edge cases
  }

  /** The exact Long of an INTEGRAL box — Byte/Short/Integer/Long only. A
    * fractional Number (Double 1.5 as a LessThan bound) must NOT truncate
    * through longValue: lt(l, 1) wrongly drops a group whose only value is
    * 1 even though l < 1.5 matches it. Unreachable via current Spark
    * pushdown (UnwrapCastInBinaryComparison normalizes literal types), but
    * the module's soundness must not rest on that staying true. */
  private def integral(v: Any): Option[Long] = v match {
    case b: java.lang.Byte => Some(b.longValue)
    case s: java.lang.Short => Some(s.longValue)
    case i: java.lang.Integer => Some(i.longValue)
    case l: java.lang.Long => Some(l.longValue)
    case _ => None
  }

  /** Canonical primitive for (type tag, catalyst-external literal), or None
    * when the pair can't be represented exactly. NaN never pushes (parquet
    * footer stats omit NaN, so a NaN literal could wrongly drop groups). */
  private[graft] def canon(tag: String, v: Any): Option[Any] = (tag, v) match {
    case (_, null) => None
    case ("int", d: java.sql.Date) => Some(DateTimeUtils.fromJavaDate(d))
    case ("int", ld: java.time.LocalDate) => Some(DateTimeUtils.localDateToDays(ld))
    case ("int", v) =>
      integral(v).filter(l => l >= Int.MinValue && l <= Int.MaxValue).map(_.toInt)
    case ("long", v) if integral(v).isDefined => integral(v)
    case ("float", f: java.lang.Float) if !f.isNaN => Some(f.floatValue)
    case ("double", d: java.lang.Double) if !d.isNaN => Some(d.doubleValue)
    case ("boolean", b: java.lang.Boolean) => Some(b.booleanValue)
    case ("string", s: String) => Some(s)
    // epoch-micros canonicalization, also the file-level literal of
    // StatsPredicate.fromFilter (same unit since round 17) — both java.sql and
    // java.time literal flavors arrive depending on spark.sql.datetime.java8API
    case ("ts", t: java.sql.Timestamp) => Some(DateTimeUtils.fromJavaTimestamp(t))
    case ("ts", i: java.time.Instant) => Some(DateTimeUtils.instantToMicros(i))
    case ("tsn", l: java.time.LocalDateTime) => Some(DateTimeUtils.localDateTimeToMicros(l))
    // NTZ stores wall-clock micros: go through the LOCAL fields, never
    // fromJavaTimestamp (instant-based — shifts by the JVM zone offset)
    case ("tsn", t: java.sql.Timestamp) =>
      Some(DateTimeUtils.localDateTimeToMicros(t.toLocalDateTime))
    case (dec, b: java.math.BigDecimal) if dec.startsWith("dec") =>
      // exact rescale to the column's scale, then the unscaled long; a
      // literal the scale can't represent exactly (or that overflows 18
      // digits) refuses — the residual filter still evaluates row-exactly
      try Some(b.setScale(dec.drop(3).toInt).unscaledValue.longValueExact)
      catch { case _: ArithmeticException => None }
    case (dec, d: Decimal) if dec.startsWith("dec") =>
      canon(dec, d.toJavaBigDecimal)
    case ("binary", b: Array[Byte]) => Some(b)
    case _ => None
  }

  /** The least string strictly greater than EVERY string with prefix `p`,
    * in CODE-POINT order (== UTF-8 byte order == parquet's unsigned binary
    * comparator == Spark's UTF8String order): increment p's last code
    * point, dropping trailing U+10FFFF positions first. Incrementing
    * U+D7FF jumps the (unencodable) surrogate block to U+E000 — no valid
    * code point lies between, so the bound stays tight and the result
    * stays a well-formed string. None when p is all-U+10FFFF (no upper
    * bound exists; callers keep only the `>= p` half). */
  private[graft] def nextPrefix(p: String): Option[String] = {
    val cps = p.codePoints.toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) == 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      val next = if (cps(i) + 1 == 0xD800) 0xE000 else cps(i) + 1
      Some(new String(cps.take(i) :+ next, 0, i + 1))
    }
  }

  private def one(f: Filter, schema: StructType, physOf: Map[String, String]): Option[RgF] = {
    def col(a: String): Option[(String, String)] = // (phys, tag)
      for {
        field <- schema.fields.find(_.name == a)
        tag <- tagOf(field.dataType)
        phys <- physOf.get(a).orElse(Some(a))
      } yield (phys, tag)
    def cmp(op: String, a: String, v: Any): Option[RgF] =
      col(a).flatMap { case (p, t) => canon(t, v).map(RgCmp(op, p, t, _)) }
    f match {
      case EqualTo(a, v) => cmp("eq", a, v)
      case EqualNullSafe(a, null) => col(a).map { case (p, t) => RgIsNull(p, t, isNull = true) }
      case EqualNullSafe(a, v) => cmp("eq", a, v)
      case GreaterThan(a, v) => cmp("gt", a, v)
      case GreaterThanOrEqual(a, v) => cmp("gte", a, v)
      case LessThan(a, v) => cmp("lt", a, v)
      case LessThanOrEqual(a, v) => cmp("lte", a, v)
      case IsNull(a) => col(a).map { case (p, t) => RgIsNull(p, t, isNull = true) }
      case IsNotNull(a) => col(a).map { case (p, t) => RgIsNull(p, t, isNull = false) }
      case In(a, vs) if vs.nonEmpty && vs.length <= InCap =>
        col(a).flatMap { case (p, t) =>
          val cs = vs.flatMap(v => canon(t, v))
          // a null/untranslatable member makes the IN unminable (its rows
          // could live anywhere) — all-or-nothing, like StatsPredicate
          if (cs.length == vs.length) Some(RgIn(p, t, cs)) else None
        }
      // LIKE 'p%' as the range [p, nextPrefix(p)): min/max footer stats
      // answer prefix ranges exactly — a top-5 warehouse predicate shape
      // over doc/source string keys
      case StringStartsWith(a, p) if p != null && p.nonEmpty =>
        col(a).filter(_._2 == "string").map { case (phys, t) =>
          val gte = RgCmp("gte", phys, t, p)
          nextPrefix(p).fold(gte: RgF)(hi => RgAnd(gte, RgCmp("lt", phys, t, hi)))
        }
      case Or(l, r) =>
        for { lf <- one(l, schema, physOf); rf <- one(r, schema, physOf) } yield RgOr(lf, rf)
      case And(l, r) =>
        // both sides translatable -> AND; one side -> that side alone is
        // still an implied (weaker) predicate, safe under AND semantics
        (one(l, schema, physOf), one(r, schema, physOf)) match {
          case (Some(lf), Some(rf)) => Some(RgAnd(lf, rf))
          case (Some(lf), None) => Some(lf)
          case (None, Some(rf)) => Some(rf)
          case _ => None
        }
      case _ => None
    }
  }

  // ---- executor side: RgF + footer schema -> FilterPredicate -------------

  /** Resolve a driver-side tag against THIS file's footer: the PRIMITIVE
    * tag to build the parquet predicate with, or None when the file can't
    * satisfy the conjunct soundly. Strings require the UTF8 annotation
    * (unsigned-lexicographic comparator = Spark's UTF8String order);
    * timestamps require the exact TIMESTAMP(MICROS) annotation with the
    * matching UTC adjustment (INT96/MILLIS generations omit); decimals
    * require a DECIMAL annotation at the SAME scale (a widened precision
    * may move INT32→INT64 between file generations — each resolves to its
    * own storage width). */
  private def footerTag(schema: MessageType, phys: String, tag: String): Option[String] = {
    if (!schema.containsField(phys)) return None
    schema.getType(Array(phys): _*) match {
      case p: PrimitiveType =>
        import PrimitiveType.PrimitiveTypeName._
        val prim = p.getPrimitiveTypeName
        val ann = p.getLogicalTypeAnnotation
        def tsOk(utc: Boolean): Boolean = prim == INT64 && (ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS &&
              t.isAdjustedToUTC == utc
          case _ => false
        })
        def decScale: Option[Int] = ann match {
          case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d.getScale)
          case _ => None
        }
        tag match {
          case "int" if prim == INT32 => Some("int")
          case "long" if prim == INT64 => Some("long")
          case "float" if prim == FLOAT => Some("float")
          case "double" if prim == DOUBLE => Some("double")
          case "boolean" if prim == BOOLEAN => Some("boolean")
          case "string" if prim == BINARY &&
            ann == LogicalTypeAnnotation.stringType() => Some("string")
          // an ANNOTATED binary (decimal/bson/...) may sort differently:
          // only the raw un-annotated primitive is unsigned-comparable
          case "binary" if prim == BINARY && ann == null => Some("binary")
          case "ts" if tsOk(utc = true) => Some("long")
          case "tsn" if tsOk(utc = false) => Some("long")
          case dec if dec.startsWith("dec") &&
              decScale.contains(dec.drop(3).toInt) =>
            prim match {
              case INT32 => Some("int")
              case INT64 => Some("long")
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }
  }

  /** Build the AND of every conjunct this FILE's footer can satisfy; None
    * when nothing survives (no predicate set, full read). */
  def build(rgs: Array[RgF], footer: MessageType): Option[FilterPredicate] = {
    val preds = rgs.flatMap(buildOne(_, footer))
    preds.reduceOption(FilterApi.and)
  }

  /** Re-shape a canonical value to the file's RESOLVED storage width: a
    * decimal's unscaled Long lands as Int in an INT32-stored generation.
    * An unscaled value outside Int range cannot appear in such a file —
    * but rather than reason per-operator about always-false/always-true,
    * the conjunct just omits (conservative, residual still exact). */
  private def adaptV(v: Any, resolved: String): Option[Any] = (resolved, v) match {
    case (_, null) => Some(null)
    case ("int", l: java.lang.Long) =>
      if (l.longValue >= Int.MinValue && l.longValue <= Int.MaxValue)
        Some(Integer.valueOf(l.intValue))
      else None
    case _ => Some(v)
  }

  private def buildOne(f: RgF, footer: MessageType): Option[FilterPredicate] = f match {
    case RgCmp(op, phys, tag, v) =>
      footerTag(footer, phys, tag).flatMap(rt =>
        adaptV(v, rt).map(cmpPred(op, phys, rt, _)))
    case RgIsNull(phys, tag, isNull) =>
      footerTag(footer, phys, tag).map(rt =>
        if (isNull) cmpPred("eq", phys, rt, null) else cmpPred("noteq", phys, rt, null))
    case RgIn(phys, tag, vs) =>
      footerTag(footer, phys, tag).flatMap { rt =>
        val adapted = vs.flatMap(adaptV(_, rt))
        // all-or-nothing, like translation: a dropped member would
        // strengthen the disjunction
        if (adapted.length == vs.length) Some(inPred(phys, rt, adapted)) else None
      }
    case RgOr(l, r) =>
      // OR is all-or-nothing: dropping one side would STRENGTHEN the
      // predicate (unsound); AND sides may drop independently
      for { lp <- buildOne(l, footer); rp <- buildOne(r, footer) } yield FilterApi.or(lp, rp)
    case RgAnd(l, r) =>
      (buildOne(l, footer), buildOne(r, footer)) match {
        case (Some(lp), Some(rp)) => Some(FilterApi.and(lp, rp))
        case (Some(lp), None) => Some(lp)
        case (None, Some(rp)) => Some(rp)
        case _ => None
      }
    case _ => None
  }

  private def cmpPred(op: String, phys: String, tag: String, v: Any): FilterPredicate = {
    def mk[T <: Comparable[T],
           C <: Operators.Column[T] with Operators.SupportsLtGt with Operators.SupportsEqNotEq](
        c: C, value: T): FilterPredicate = op match {
      case "eq" => FilterApi.eq(c, value)
      case "noteq" => FilterApi.notEq(c, value)
      case "gt" => FilterApi.gt(c, value)
      case "gte" => FilterApi.gtEq(c, value)
      case "lt" => FilterApi.lt(c, value)
      case "lte" => FilterApi.ltEq(c, value)
    }
    tag match {
      case "int" => mk(FilterApi.intColumn(phys), v.asInstanceOf[java.lang.Integer])
      case "long" => mk(FilterApi.longColumn(phys), v.asInstanceOf[java.lang.Long])
      case "float" => mk(FilterApi.floatColumn(phys), v.asInstanceOf[java.lang.Float])
      case "double" => mk(FilterApi.doubleColumn(phys), v.asInstanceOf[java.lang.Double])
      case "string" => mk(FilterApi.binaryColumn(phys),
        if (v == null) null else Binary.fromString(v.asInstanceOf[String]))
      case "binary" => mk(FilterApi.binaryColumn(phys),
        if (v == null) null
        else Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
      case "boolean" =>
        val c = FilterApi.booleanColumn(phys)
        val b = v.asInstanceOf[java.lang.Boolean]
        op match {
          case "eq" => FilterApi.eq(c, b)
          case "noteq" => FilterApi.notEq(c, b)
        }
    }
  }

  private def inPred(phys: String, tag: String, vs: Array[Any]): FilterPredicate = {
    def set[T](f: Any => T): java.util.HashSet[T] = {
      val s = new java.util.HashSet[T](vs.length * 2)
      vs.foreach(v => s.add(f(v)))
      s
    }
    tag match {
      case "int" => FilterApi.in(FilterApi.intColumn(phys), set(_.asInstanceOf[java.lang.Integer]))
      case "long" => FilterApi.in(FilterApi.longColumn(phys), set(_.asInstanceOf[java.lang.Long]))
      case "float" => FilterApi.in(FilterApi.floatColumn(phys), set(_.asInstanceOf[java.lang.Float]))
      case "double" => FilterApi.in(FilterApi.doubleColumn(phys), set(_.asInstanceOf[java.lang.Double]))
      case "string" => FilterApi.in(FilterApi.binaryColumn(phys),
        set(v => Binary.fromString(v.asInstanceOf[String])))
      case "binary" => FilterApi.in(FilterApi.binaryColumn(phys),
        set(v => Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]])))
      case "boolean" => FilterApi.in(FilterApi.booleanColumn(phys),
        set(_.asInstanceOf[java.lang.Boolean]))
    }
  }
}
