package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import org.scalacheck.{Gen, Prop, Properties}

import graft.engine.{RowGroupFilters, Snapshots, StatsPredicate}

/** Property tests for the stats-predicate evaluator against row truth. Each
  * case draws a one-column table of a few files — long, int, double,
  * decimal (inside and beyond a double's 15 digits), date, LTZ and NTZ
  * timestamp, or string values, with nulls, all-null files, NaN and ±0.0,
  * 2^53±1 and supplementary-plane strings — and records per-file stats in
  * memory the way parquet footers do: bounds over the non-null values with
  * NaN left out (so a double file hiding NaN carries finite, NaN-blind
  * bounds), sometimes loosened, truncated or missing, null counts
  * sometimes unknown, no-range tombstones for all-null and all-NaN files,
  * and string blooms. Truth for each file is the bound Catalyst predicate
  * evaluated on each of its rows (`Expression.eval`, no Spark job). Per
  * file:
  *  - accepted ⇒ every row satisfies;
  *  - some row satisfies ⇒ the file is in the overlap AND in the exact
  *    planning set (so the rejection face never drops it).
  * Predicates mix comparisons in both operand orders, IN / InSet, prefix,
  * null tests, AND / OR and an opaque conjunct, plus the analyzer's casts
  * and the calendar transforms. A second property checks that a DSv2
  * filter and the equivalent Catalyst predicate judge every file alike.
  */
object StatsPredicateProps extends Properties("StatsPredicate") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    PropCases(p, 5000)

  private val Pow53 = 9007199254740992L

  private val types: Seq[DataType] = Seq(LongType, IntegerType, DoubleType,
    DecimalType(10, 2), DecimalType(20, 0), DateType, TimestampType,
    TimestampNTZType, StringType)

  private val attrs: Map[DataType, AttributeReference] =
    types.map(dt => dt -> AttributeReference("c", dt)()).toMap

  private def dec(dt: DataType, s: String): Decimal = {
    val d = dt.asInstanceOf[DecimalType]
    Decimal(BigDecimal(s), d.precision, d.scale)
  }

  /** Catalyst internal values: the edges each rule guards, and a few
    * ordinary ones so that files overlap and separate. */
  private def pool(dt: DataType): Seq[Any] = dt match {
    case LongType => Seq(0L, 1L, -1L, 7L, 100L, Pow53 - 1, Pow53, Pow53 + 1, -Pow53 - 1)
    case IntegerType => Seq(0, 1, -1, 7, 100, 16777216, 16777217, Int.MaxValue)
    case DoubleType => Seq(0.0, -0.0, 1.5, -2.5, 7.0, 100.0, Double.NaN, Double.NaN,
      Pow53.toDouble, Double.PositiveInfinity, Double.NegativeInfinity)
    case d: DecimalType if d.scale == 2 =>
      Seq("0.00", "1.50", "-2.25", "7.00", "100.01", "12345678.99").map(dec(dt, _))
    case _: DecimalType =>
      Seq("0", "1", "7", "9007199254740991", "9007199254740992", "9007199254740993",
        "99999999999999999999").map(dec(dt, _))
    case DateType => Seq(0, 1, -1, 18000, 18001, 19000, 25000)
    case TimestampType | TimestampNTZType =>
      Seq(0L, 1L, -86400000000L, 1700000000000000L, 1700000086400000L, Pow53 - 1, Pow53, Pow53 + 1)
    case StringType =>
      Seq("", "a", "ab", "abc", "b", "\u00e9", "\uD83D\uDE00", "\uFFFF", "\uD7FF",
        "\uE000", "\uDBFF\uDFFF", "\uDBFF\uDFFFa", "z").map(UTF8String.fromString)
  }

  /** The canonical double the stats record for a non-string value. */
  private def canon(v: Any): Double = v match {
    case d: Decimal => d.toDouble
    case n: Number => n.doubleValue
  }

  private def utf8Min(xs: Seq[UTF8String]): UTF8String = xs.reduce((a, b) => if (a.compareTo(b) <= 0) a else b)
  private def utf8Max(xs: Seq[UTF8String]): UTF8String = xs.reduce((a, b) => if (a.compareTo(b) >= 0) a else b)

  /** How one file's stats are recorded. */
  private final case class Mode(recorded: Boolean, nullsKnown: Boolean, loose: Boolean, bloom: Boolean)

  private val modeGen: Gen[Mode] = for {
    recorded <- Gen.frequency(6 -> true, 1 -> false)
    nullsKnown <- Gen.frequency(4 -> true, 1 -> false)
    loose <- Gen.frequency(1 -> true, 3 -> false)
    bloom <- Gen.oneOf(true, false)
  } yield Mode(recorded, nullsKnown, loose, bloom)

  /** A file: values from the whole pool, all nulls, or a clustered run of
    * neighbouring pool values (what range-clustered layouts write). */
  private def fileGen(dt: DataType): Gen[Seq[Any]] = {
    val value = Gen.frequency(1 -> Gen.const(null), 5 -> Gen.oneOf(pool(dt)))
    val clustered = for {
      i <- Gen.choose(0, pool(dt).size - 2)
      n <- Gen.choose(1, 4)
      vs <- Gen.listOfN(n, Gen.oneOf(pool(dt).slice(i, i + 2)))
    } yield vs
    Gen.frequency(
      6 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, value)),
      1 -> Gen.choose(1, 3).map(Seq.fill(_)(null)),
      3 -> clustered)
  }

  private def manifestOf(dt: DataType, files: Seq[Seq[Any]], modes: Seq[Mode]): Snapshots.Manifest = {
    val names = files.indices.map(i => s"f$i.parquet")
    val entries = files.zip(modes).zip(names).flatMap { case ((vals, mode), name) =>
      val nulls = vals.count(_ == null).toLong
      val nonNull = vals.filter(_ != null)
      if (!mode.recorded) Nil
      else if (dt == StringType) {
        val us = nonNull.map(_.asInstanceOf[UTF8String])
        if (us.isEmpty) Seq(Snapshots.ColStats(name, "c", 0, 0, nulls = nulls, nr = true))
        else {
          val (lo, hi) = (utf8Min(us).toString, utf8Max(us).toString)
          // footer truncation: a shorter lower bound, a rounded-up upper one
          def firstCodePoint(s: String) =
            if (s.isEmpty) s else s.substring(0, s.offsetByCodePoints(0, 1))
          val slo = if (mode.loose) firstCodePoint(lo) else lo
          val shi =
            if (mode.loose) RowGroupFilters.nextPrefix(firstCodePoint(hi)).getOrElse(hi) else hi
          Seq(Snapshots.ColStats(name, "c", 0, 0,
            nulls = if (mode.nullsKnown) nulls else -1L, slo = slo, shi = shi))
        }
      } else {
        // footers leave NaN out of the bounds
        val ds = nonNull.map(canon).filterNot(_.isNaN)
        if (ds.isEmpty) Seq(Snapshots.ColStats(name, "c", 0, 0, nulls = nulls, nr = true))
        else {
          val slack = if (mode.loose) 1.0 else 0.0
          Seq(Snapshots.ColStats(name, "c", ds.min - slack, ds.max + slack,
            nulls = if (mode.nullsKnown) nulls else -1L))
        }
      }
    }
    val blooms = if (dt != StringType) Nil else files.zip(modes).zip(names).collect {
      case ((vals, mode), name) if mode.bloom =>
        val bf = BloomFilter.create(math.max(1, vals.size).toLong, 0.03)
        vals.filter(_ != null).foreach(v => bf.putLong(XxHash64Function.hash(v, StringType, 42L)))
        val out = new ByteArrayOutputStream()
        bf.writeTo(out)
        Snapshots.FileBloom(name, "c", java.util.Base64.getEncoder.encodeToString(out.toByteArray))
    }
    Snapshots.Manifest(1L, names.map("file:/t/" + _), 0L,
      stats = entries.filterNot(_.nr), schema = StructType(Seq(StructField("c", dt))).json,
      rows = files.zip(names).map { case (vals, name) => Snapshots.FileRows(name, vals.size.toLong) },
      blooms = blooms, tombs = entries.filter(_.nr))
  }

  /** The external value a DSv2 filter carries, in either date-time API
    * flavor. */
  private def extOf(dt: DataType, v: Any, javaTime: Boolean): Any = (dt, v) match {
    case (DateType, d: Int) =>
      if (javaTime) java.time.LocalDate.ofEpochDay(d.toLong) else DateTimeUtils.toJavaDate(d)
    case (TimestampType, us: Long) =>
      if (javaTime) DateTimeUtils.microsToInstant(us) else DateTimeUtils.toJavaTimestamp(us)
    case (TimestampNTZType, us: Long) => DateTimeUtils.microsToLocalDateTime(us)
    case (_, d: Decimal) => d.toJavaBigDecimal
    case (_, u: UTF8String) => u.toString
    case (_, x) => x
  }

  private type Case = (Expression, Option[sources.Filter])

  private def leafGen(dt: DataType): Gen[Case] = {
    val a = attrs(dt)
    val lit = Gen.oneOf(pool(dt))
    val javaTime = Gen.oneOf(true, false)
    val cmp = for {
      op <- Gen.choose(0, 5)
      v <- lit
      rev <- Gen.oneOf(true, false)
      jt <- javaTime
    } yield {
      val (l, r) = if (rev) (Literal(v, dt), a) else (a, Literal(v, dt))
      val x = extOf(dt, v, jt)
      // `lit op c` is `c op' lit`
      op match {
        case 0 => (EqualTo(l, r), Some(sources.EqualTo("c", x)))
        case 1 => (EqualNullSafe(l, r), Some(sources.EqualNullSafe("c", x)))
        case 2 => (GreaterThan(l, r),
          Some(if (rev) sources.LessThan("c", x) else sources.GreaterThan("c", x)))
        case 3 => (GreaterThanOrEqual(l, r),
          Some(if (rev) sources.LessThanOrEqual("c", x) else sources.GreaterThanOrEqual("c", x)))
        case 4 => (LessThan(l, r),
          Some(if (rev) sources.GreaterThan("c", x) else sources.LessThan("c", x)))
        case _ => (LessThanOrEqual(l, r),
          Some(if (rev) sources.GreaterThanOrEqual("c", x) else sources.LessThanOrEqual("c", x)))
      }
    }
    val in = for {
      vs <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, lit))
      set <- Gen.oneOf(true, false)
      jt <- javaTime
    } yield ((if (set) InSet(a, vs.toSet) else In(a, vs.map(Literal(_, dt)))): Expression,
      Some(sources.In("c", vs.map(extOf(dt, _, jt)).toArray)))
    val nulls: Gen[Case] = Gen.oneOf(
      (IsNull(a), Some(sources.IsNull("c"))),
      (IsNotNull(a), Some(sources.IsNotNull("c"))),
      (Not(IsNull(a)), Some(sources.Not(sources.IsNull("c")))),
      (Not(IsNotNull(a)), Some(sources.Not(sources.IsNotNull("c")))))
    val opaque = lit.map(v => (Not(EqualTo(a, Literal(v, dt))): Expression,
      Some(sources.Not(sources.EqualTo("c", extOf(dt, v, javaTime = false))))))
    val prefix = lit.map(v => (StartsWith(a, Literal(v, dt)): Expression,
      Some(sources.StringStartsWith("c", v.toString))))
    // shapes only the Catalyst front end reads: the analyzer's casts and
    // the calendar transforms
    def castCmp(col: Expression, lits: Gen[Expression]): Gen[Case] = for {
      op <- Gen.choose(0, 4)
      l <- lits
      rev <- Gen.oneOf(true, false)
    } yield {
      val (x, y) = if (rev) (l, col) else (col, l)
      (Seq[Expression](EqualTo(x, y), GreaterThan(x, y), GreaterThanOrEqual(x, y),
        LessThan(x, y), LessThanOrEqual(x, y))(op), None)
    }
    val doubles = Gen.oneOf(0.0, 1.5, 7.0, 100.0, 9.007199254740992E15, 1e20)
      .map(Literal(_, DoubleType))
    val transformed: Option[Gen[Case]] = dt match {
      // a float target rounds 16777217 to 16777216
      case IntegerType => Some(Gen.frequency(
        1 -> castCmp(Cast(a, LongType), Gen.oneOf(pool(LongType)).map(Literal(_, LongType))),
        2 -> castCmp(Cast(a, FloatType), Gen.oneOf(7f, 16777216f, 16777218f)
          .map(Literal(_, FloatType))),
        1 -> castCmp(Cast(a, DoubleType), doubles)))
      // the analyzer coerces the literal side too
      case LongType => Some(Gen.oneOf(
        castCmp(Cast(a, DoubleType), doubles),
        castCmp(a, Gen.oneOf(pool(IntegerType)).map(i => Cast(Literal(i, IntegerType), LongType)))))
      case _: DecimalType => Some(castCmp(Cast(a, DoubleType), doubles))
      case TimestampNTZType => Some(castCmp(Cast(a, DateType, Some("UTC")),
        Gen.oneOf(pool(DateType)).map(Literal(_, DateType))))
      case DateType => Some(castCmp(Year(a),
        Gen.oneOf(1969, 1970, 2019, 2022, 2038).map(Literal(_, IntegerType))))
      case _ => None
    }
    Gen.frequency(Seq(4 -> cmp, 2 -> in, 1 -> nulls, 1 -> opaque) ++
      (if (dt == StringType) Seq(2 -> prefix) else Nil) ++
      transformed.map(2 -> _).toSeq: _*)
  }

  private def predGen(dt: DataType): Gen[Case] = {
    val leaf = leafGen(dt)
    def both(f: (Expression, Expression) => Expression,
        g: (sources.Filter, sources.Filter) => sources.Filter): Gen[Case] =
      for (a <- leaf; b <- leaf) yield (f(a._1, b._1), for (x <- a._2; y <- b._2) yield g(x, y))
    val and = both(And(_, _), sources.And(_, _))
    val or = both(Or(_, _), sources.Or(_, _))
    Gen.frequency(3 -> leaf, 2 -> and, 2 -> or,
      1 -> (for (o <- or; l <- leaf) yield (And(o._1, l._1), for (x <- o._2; y <- l._2) yield sources.And(x, y))))
  }

  private val caseGen = for {
    dt <- Gen.oneOf(types)
    files <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, fileGen(dt)))
    modes <- Gen.listOfN(files.size, modeGen)
    pred <- predGen(dt)
  } yield (dt, files, modes, pred)

  private def truth(e: Expression, dt: DataType, v: Any): Boolean =
    BindReferences.bindReference(e, Seq(attrs(dt))).eval(InternalRow(v)) == true

  property("accept ⇒ every row satisfies; a satisfying row ⇒ overlap and exact set") =
    Prop.forAllNoShrink(caseGen) { case (dt, files, modes, (e, _)) =>
      val m = manifestOf(dt, files, modes)
      StatsPredicate.fromExpr(e) match {
        case None => Prop.passed
        case Some(p) =>
          val overlap = StatsPredicate.overlap(m, p).toSet
          val exact = StatsPredicate.exactPrune(m, p).toSet
          val accept = StatsPredicate.accept(m, p)
          val bad = m.files.zip(files).flatMap { case (f, vals) =>
            val sat = vals.map(truth(e, dt, _))
            Seq(
              if (sat.contains(true) && !overlap(f)) Some(s"$f holds a match but left the overlap") else None,
              if (sat.contains(true) && !exact(f)) Some(s"$f holds a match but was rejected") else None,
              if (accept(f) && sat.contains(false)) Some(s"$f accepted but a row fails") else None
            ).flatten
          }
          Prop(bad.isEmpty) :| s"$dt $e over $files / $modes: ${bad.mkString("; ")}"
      }
    }

  property("fromFilter and fromExpr judge a shape alike") =
    Prop.forAllNoShrink(caseGen) {
      case (_, _, _, (_, None)) => Prop.passed
      case (dt, files, modes, (e, Some(f))) =>
        val m = manifestOf(dt, files, modes)
        val schema = StructType(Seq(StructField("c", dt)))
        def faces(p: Option[StatsPredicate.Pred]) = p.map(q =>
          (StatsPredicate.overlap(m, q), StatsPredicate.exactPrune(m, q), StatsPredicate.accept(m, q)))
        val (viaFilter, viaExpr) =
          (faces(StatsPredicate.fromFilter(schema, f)), faces(StatsPredicate.fromExpr(e)))
        Prop(viaFilter == viaExpr) :| s"$dt $f vs $e: $viaFilter vs $viaExpr"
    }
}
