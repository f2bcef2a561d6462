package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.{expressions => X}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Predicates judged from the manifest's per-file stats: one small IR, two
  * front ends and one evaluator. Every stats consumer goes through here —
  * file pruning for [[Snapshots.readWhere]], [[Snapshots.deleteWhere]],
  * [[Snapshots.countWhere]], [[Snapshots.compactWhere]] and the DSv2 scan's
  * pushed and runtime filters; metadata delete, metadata count and the
  * DSv2 exact-filter claim.
  *
  *  - [[fromFilter]] reads DSv2 `sources.Filter`s (external literals);
  *    [[fromExpr]] reads ANALYZED Catalyst expressions (internal literals,
  *    the analyzer's casts, reversed operands). Both produce the same IR,
  *    so a shape means the same thing whichever way it arrives.
  *  - The evaluator has three faces over [[Snapshots.ColStats]] ranges,
  *    null counts, no-range tombstones and [[Snapshots.FileBloom]]s:
  *    [[overlap]] (inclusive: files that MIGHT hold a satisfying row — the
  *    pruning set), [[accept]] (strict: files whose EVERY live row provably
  *    satisfies) and the rejection face [[exactPrune]] subtracts (files
  *    provably holding NO satisfying row). As in Iceberg's
  *    `InclusiveMetricsEvaluator`/`StrictMetricsEvaluator`, a face that
  *    cannot prove something answers conservatively: overlap keeps the
  *    file, accept and reject leave it out. A missed proof costs I/O or a
  *    scan, never rows.
  *
  * Literals are canonical doubles in the stats' own units (numbers as
  * cast-to-double, dates as epoch days, timestamps as exact epoch MICROS,
  * double-exact to ±2^53) or strings compared in UTF8-byte order, the order
  * the string bounds were collected in. Each soundness rule is written once
  * below: the NaN-literal refusal ([[Num]]), the NaN-blind bound rule
  * ([[nanBlind]]), the null proofs ([[allNullFiles]], [[zeroNullFiles]])
  * and the injectivity rule ([[clears]], over [[Snapshots.exactValue]]).
  */
private[graft] object StatsPredicate {

  // ---- IR ----------------------------------------------------------------

  /** A column as the stats index sees it: `name` keys the recorded stats
    * (logical name), `dt` is the column's own type (the one its stats were
    * recorded in), and `f` maps a recorded bound to the compared unit. `f`
    * is monotone non-decreasing, so a file's [f(min), f(max)] brackets its
    * transformed values; `ident` marks the identity. A non-identity
    * transform is not injective in general, so it only ever narrows the
    * overlap face. */
  final case class Col(name: String, dt: DataType, f: Double => Double, ident: Boolean) {
    def andThen(g: Double => Double): Col = Col(name, dt, f.andThen(g), ident = false)
  }
  object Col {
    def apply(name: String, dt: DataType): Col = Col(name, dt, identity[Double], ident = true)
  }

  sealed trait Lit
  final case class Str(s: String) extends Lit
  final class Num private (val d: Double) extends Lit
  object Num {
    /** The one way to build a numeric literal. A NaN literal is refused:
      * Spark orders NaN above every value and equal to itself, while
      * recorded bounds are NaN-blind, so `a = NaN` or `a > x` probed
      * against them would prune files whose hidden NaN rows match. None
      * makes the enclosing shape unminable; the residual filter decides. */
    def apply(d: Double): Option[Lit] = if (d.isNaN) None else Some(new Num(d))
    def unapply(n: Num): Some[Double] = Some(n.d)
  }

  sealed trait Pred
  /** `c > v` (up, strict), `c >= v` (up), `c < v` (strict), `c <= v`.
    * Equality is a one-element [[In]]; a string prefix is its band. */
  final case class Cmp(c: Col, up: Boolean, strict: Boolean, v: Lit) extends Pred
  /** `c IN (vs)`: all numeric or all string, never empty. */
  final case class In(c: Col, vs: Seq[Lit]) extends Pred
  final case class Nulls(c: Col, isNull: Boolean) extends Pred
  final case class And(l: Pred, r: Pred) extends Pred
  final case class Or(l: Pred, r: Pred) extends Pred
  /** A conjunct no stats can judge, kept so that an AND with it never
    * claims acceptance. */
  case object Opaque extends Pred

  private def and(l: Option[Pred], r: Option[Pred]): Option[Pred] =
    if (l.isEmpty && r.isEmpty) None
    else Some(And(l.getOrElse(Opaque), r.getOrElse(Opaque)))

  // a disjunction is judged only when both sides are
  private def or(l: Option[Pred], r: Option[Pred]): Option[Pred] =
    for (x <- l; y <- r) yield Or(x, y)

  private def in(c: Col, vs: Seq[Option[Lit]]): Option[Pred] =
    if (vs.nonEmpty && vs.forall(_.isDefined)) Some(In(c, vs.flatten)) else None

  /** LIKE 'p%' is the band [p, nextPrefix(p)). With no roof (an
    * all-U+10FFFF prefix) every string ≥ p starts with p. */
  private def startsWith(c: Col, p: String): Option[Pred] =
    if (p == null || p.isEmpty || c.dt != StringType) None
    else {
      val from = Cmp(c, up = true, strict = false, Str(p))
      Some(RowGroupFilters.nextPrefix(p)
        .fold(from: Pred)(roof => And(from, Cmp(c, up = false, strict = true, Str(roof)))))
    }

  // ---- front end: DSv2 sources.Filter ------------------------------------

  /** The IR of one pushed filter over `schema` (logical names, the
    * resolved manifest's labeling); None when no stats can judge it. */
  def fromFilter(schema: StructType, f: sources.Filter): Option[Pred] = {
    def col(a: String): Option[Col] =
      schema.fields.find(_.name == a).map(fd => Col(fd.name, fd.dataType))
    def lit(c: Col, v: Any): Option[Lit] = (c.dt, v) match {
      case (StringType, s: String) => Some(Str(s))
      // dates and timestamps canonicalize exactly as the row-group
      // translation does (java.sql and java.time flavors, NTZ through its
      // local fields)
      case (DateType | TimestampType | TimestampNTZType, _) =>
        RowGroupFilters.tagOf(c.dt).flatMap(RowGroupFilters.canon(_, v)).flatMap {
          case n: Number => Num(n.doubleValue)
          case _ => None
        }
      case (_: NumericType, n: Number) => Num(n.doubleValue)
      case _ => None
    }
    def cmp(a: String, up: Boolean, strict: Boolean, v: Any): Option[Pred] =
      for (c <- col(a); x <- lit(c, v)) yield Cmp(c, up, strict, x)
    def eq(a: String, vs: Seq[Any]): Option[Pred] =
      col(a).flatMap(c => in(c, vs.map(lit(c, _))))
    def nulls(a: String, isNull: Boolean): Option[Pred] = col(a).map(Nulls(_, isNull))
    f match {
      case sources.EqualTo(a, v) => eq(a, Seq(v))
      case sources.EqualNullSafe(a, null) => nulls(a, isNull = true)
      case sources.EqualNullSafe(a, v) => eq(a, Seq(v))
      case sources.GreaterThan(a, v) => cmp(a, up = true, strict = true, v)
      case sources.GreaterThanOrEqual(a, v) => cmp(a, up = true, strict = false, v)
      case sources.LessThan(a, v) => cmp(a, up = false, strict = true, v)
      case sources.LessThanOrEqual(a, v) => cmp(a, up = false, strict = false, v)
      case sources.In(a, vs) => eq(a, vs.toSeq)
      case sources.StringStartsWith(a, p) => col(a).flatMap(startsWith(_, p))
      case sources.IsNull(a) => nulls(a, isNull = true)
      case sources.IsNotNull(a) => nulls(a, isNull = false)
      case sources.Not(sources.IsNull(a)) => nulls(a, isNull = false)
      case sources.Not(sources.IsNotNull(a)) => nulls(a, isNull = true)
      case sources.And(l, r) => and(fromFilter(schema, l), fromFilter(schema, r))
      case sources.Or(l, r) => or(fromFilter(schema, l), fromFilter(schema, r))
      case _ => None
    }
  }

  /** The conjunction of `filters`; None when none of them can be judged. */
  def fromFilters(schema: StructType, filters: Seq[sources.Filter]): Option[Pred] =
    filters.reduceOption(sources.And(_, _)).flatMap(fromFilter(schema, _))

  // ---- front end: analyzed Catalyst expressions --------------------------

  /** The IR of an ANALYZED predicate (resolved and coerced — exactly what
    * the engine will evaluate); None when no stats can judge it. */
  def fromExpr(e: X.Expression): Option[Pred] = {
    // (column, literal, reversed): `lit op col` reads as `col op' lit`
    def operands(l: X.Expression, r: X.Expression): Option[(Col, Lit, Boolean)] =
      (for (c <- colRef(l); x <- lit(r)) yield (c, x, false))
        .orElse(for (c <- colRef(r); x <- lit(l)) yield (c, x, true))
    def cmp(l: X.Expression, r: X.Expression, up: Boolean, strict: Boolean): Option[Pred] =
      operands(l, r).map { case (c, x, rev) => Cmp(c, up != rev, strict, x) }
    def eq(l: X.Expression, r: X.Expression): Option[Pred] =
      operands(l, r).map { case (c, x, _) => In(c, Seq(x)) }
    e match {
      case X.And(l, r) => and(fromExpr(l), fromExpr(r))
      case X.Or(l, r) => or(fromExpr(l), fromExpr(r))
      case X.IsNull(a) => colRef(a).map(Nulls(_, isNull = true))
      case X.IsNotNull(a) => colRef(a).map(Nulls(_, isNull = false))
      case X.Not(X.IsNull(a)) => colRef(a).map(Nulls(_, isNull = false))
      case X.Not(X.IsNotNull(a)) => colRef(a).map(Nulls(_, isNull = true))
      case X.EqualTo(l, r) => eq(l, r)
      case X.EqualNullSafe(l, r) => eq(l, r)
      case X.GreaterThan(l, r) => cmp(l, r, up = true, strict = true)
      case X.GreaterThanOrEqual(l, r) => cmp(l, r, up = true, strict = false)
      case X.LessThan(l, r) => cmp(l, r, up = false, strict = true)
      case X.LessThanOrEqual(l, r) => cmp(l, r, up = false, strict = false)
      case X.StartsWith(l, r) => (colRef(l), lit(r)) match {
        case (Some(c), Some(Str(p))) => startsWith(c, p)
        case _ => None
      }
      case X.In(a, vs) => colRef(a).flatMap(in(_, vs.map(lit)))
      case X.InSet(a, hs) => colRef(a).flatMap(in(_, hs.toSeq.map(litOf(_, a.dataType))))
      case _ => None
    }
  }

  /** A column reference, looking through order-faithful wrappers. Widening
    * casts whose target holds every source value exactly are the identity
    * on the recorded doubles. A float target rounds more coarsely than the
    * recorded bounds, and the TZ-free calendar shapes — `cast(ntz as
    * date)` (micros → days) and `year(date)` — are monotone but not
    * injective: those become transforms. Their LTZ variants depend on the
    * session zone and do not mine; truncating casts never do. */
  private def colRef(e: X.Expression): Option[Col] = e match {
    case a: X.AttributeReference => Some(Col(a.name, a.dataType))
    case c: X.Cast => (c.child.dataType, c.dataType) match {
      case (f, t) if f == t => colRef(c.child)
      case (ByteType | ShortType | IntegerType, LongType | DoubleType) |
           (LongType | FloatType | _: DecimalType, DoubleType) => colRef(c.child)
      case (ByteType | ShortType | IntegerType, FloatType) =>
        colRef(c.child).map(_.andThen(_.toFloat.toDouble))
      case (TimestampNTZType, DateType) =>
        colRef(c.child).map(_.andThen(us => math.floor(us / 86400e6)))
      case _ => None
    }
    case y: X.Year if y.child.dataType == DateType =>
      colRef(y.child).map(_.andThen(d =>
        java.time.LocalDate.ofEpochDay(d.toLong).getYear.toDouble))
    case _ => None
  }

  /** A literal operand: a Literal, or a cast of one (the analyzer coerces
    * the literal side too — `id >= 250` analyzes to `id >= cast(250 as
    * bigint)`; folding happens later, in the optimizer), evaluated to the
    * value the engine will compare against. */
  private def lit(e: X.Expression): Option[Lit] = {
    def constant(x: X.Expression): Boolean = x match {
      case _: X.Literal => true
      case c: X.Cast => constant(c.child)
      case _ => false
    }
    e match {
      case X.Literal(v, dt) => litOf(v, dt)
      case c: X.Cast if constant(c) =>
        scala.util.Try(c.eval()).toOption.flatMap(litOf(_, c.dataType))
      case _ => None
    }
  }

  /** Canonical literal of a Catalyst internal value: dates are epoch days
    * and timestamps epoch micros internally, already the stats' units. */
  private def litOf(v: Any, dt: DataType): Option[Lit] = (v, dt) match {
    case (u: UTF8String, StringType) => Some(Str(u.toString))
    case (d: Decimal, _) => Num(d.toDouble)
    case (n: Number, _: NumericType | DateType | TimestampType | TimestampNTZType) =>
      Num(n.doubleValue)
    case _ => None
  }

  // ---- evaluator ---------------------------------------------------------

  private sealed trait Face
  private case object Overlap extends Face
  private case object Accept extends Face
  private case object Reject extends Face

  /** The files of `m` (in manifest order) that might hold a row
    * satisfying `p`. Comparison bands are closed here: a strict boundary
    * file stays in, which [[exactPrune]] tightens. */
  def overlap(m: Snapshots.Manifest, p: Pred): Seq[String] = {
    val keep = eval(m, p, Overlap)
    m.files.filter(keep)
  }

  /** The files of `m` whose every live row provably satisfies `p`.
    * Deletion vectors only remove rows, so acceptance survives them. */
  def accept(m: Snapshots.Manifest, p: Pred): Set[String] = eval(m, p, Accept)

  /** [[overlap]] minus the files that provably hold no satisfying row —
    * the strictness-aware planning set. It is the set the exact-filter
    * claim proves: the claim requires every file here to be accepted, and
    * the claimed scan must plan exactly this set (the closed-band overlap
    * would re-admit a strict-boundary file whose rows all FAIL, and with
    * no residual left those rows would leak into the result). */
  def exactPrune(m: Snapshots.Manifest, p: Pred): Seq[String] = {
    val rejected = eval(m, p, Reject)
    overlap(m, p).filterNot(rejected)
  }

  private def base(f: String): String = new Path(f).getName

  private def eval(m: Snapshots.Manifest, p: Pred, face: Face): Set[String] = {
    def unknown: Set[String] = if (face == Overlap) m.files.toSet else Set.empty
    p match {
      case Opaque => unknown
      // reject(p) = accept(not p), so the connectives swap on that face
      case And(l, r) =>
        val (a, b) = (eval(m, l, face), eval(m, r, face))
        if (face == Reject) a union b else a intersect b
      case Or(l, r) =>
        val (a, b) = (eval(m, l, face), eval(m, r, face))
        if (face == Reject) a intersect b else a union b
      case Nulls(c, isNull) =>
        // every transform maps null to null and non-null to non-null
        def holds = if (isNull) allNullFiles(m, c.name) else zeroNullFiles(m, c.name)
        def fails = if (isNull) zeroNullFiles(m, c.name) else allNullFiles(m, c.name)
        face match {
          case Overlap => m.files.toSet -- fails
          case Accept => holds
          case Reject => fails
        }
      case Cmp(c, up, _, _) if nanBlind(c, up, face) => unknown
      case In(c, _) if nanBlind(c, up = false, face) => unknown
      // a transform narrows the overlap only (see [[Col]])
      case Cmp(c, up, _, Num(x)) if !c.ident =>
        if (face != Overlap) unknown
        else if (up) transformedOverlap(m, c, x, Double.PositiveInfinity)
        else transformedOverlap(m, c, Double.NegativeInfinity, x)
      case In(c, vs) if !c.ident =>
        val xs = vs.collect { case Num(x) => x }
        if (face != Overlap || xs.isEmpty) unknown
        else transformedOverlap(m, c, xs.min, xs.max)
      case Cmp(c, up, strict, v) => face match {
        case Overlap => (v match {
          case Num(x) =>
            if (up) Snapshots.candidateFiles(m, c.name, x, Double.PositiveInfinity)
            else Snapshots.candidateFiles(m, c.name, Double.NegativeInfinity, x)
          // the least string strictly above k is k+"\u0000"
          case Str(k) =>
            val lo = if (!up) "" else if (strict) k + "\u0000" else k
            val hi = if (up) None else Some(if (strict) k else k + "\u0000")
            Snapshots.candidateFilesForStringBand(m, c.name, lo, hi)
        }).toSet
        case _ =>
          // no row passes `c op v` ⟺ every non-null row passes its
          // negation (a null row passes neither)
          val (u, st) = if (face == Accept) (up, strict) else (!up, !strict)
          proven(m, c, face) { s =>
            v match {
              case Num(x) => s.slo == null && {
                val b = if (u) s.min else s.max
                clears(if (b > x) 1 else if (b < x) -1 else 0, u, st,
                  exact(c, b) && exact(c, x))
              }
              // truncated string bounds stay sound by direction: slo is a
              // lower bound, shi an upper one
              case Str(k) => s.slo != null &&
                clears(cmpUtf8(if (u) s.slo else s.shi, k), u, st, exactAt = true)
            }
          }
      }
      case In(c, vs) =>
        val nums = vs.collect { case Num(x) => x }.toArray
        val strs = vs.collect { case Str(k) => k }
        face match {
          case Overlap if nums.nonEmpty =>
            java.util.Arrays.sort(nums)
            Snapshots.candidateFilesForKeys(m, c.name, nums).toSet
          case Overlap =>
            // both string indexes constrain: the bloom and the bounds
            Snapshots.candidateFilesForStrings(m, c.name, strs.toArray).toSet intersect
              stringKeyFiles(m, c.name, strs)
          // every row equals one key: a single-valued file on a key
          case Accept if nums.nonEmpty =>
            java.util.Arrays.sort(nums)
            proven(m, c, face)(s => s.slo == null && s.min == s.max &&
              exact(c, s.min) && java.util.Arrays.binarySearch(nums, s.min) >= 0)
          case Accept =>
            val ks = strs.toSet
            proven(m, c, face)(s => s.slo != null && s.slo == s.shi && ks(s.slo))
          // a key's boundaries are already exact in the closed overlap
          case Reject => Set.empty
        }
    }
  }

  /** THE NaN-blind rule. Recorded float/double bounds are NaN-BLIND:
    * parquet footers omit NaN from min/max and the stats pass declines
    * non-finite bounds, so a foreign or doctored entry [6.0, 6.9] may sit
    * over a file hiding NaN rows. Spark orders NaN ABOVE every value
    * (`nanSafeCompareDoubles`), so a hidden NaN row FAILS `a < x`, `a <= x`,
    * `a = x` and `a IN (...)` but SATISFIES `a > x` and `a >= x`. Hence
    * such bounds never accept (a NaN row may fail), never reject on the max
    * side and never prune an up-unbounded band (a NaN row satisfies it).
    * Down-bounded bands, points and key sets still prune and reject on the
    * min side. True when `face` must not use `c`'s bounds for a comparison
    * pointing `up`. */
  private def nanBlind(c: Col, up: Boolean, face: Face): Boolean =
    (c.dt == FloatType || c.dt == DoubleType) && (face == Accept || up)

  /** Whether a file bound proves every row on the far side of a literal:
    * `cmp` orders the bound against the literal. Strictly past it always
    * proves; exactly at it proves a non-strict comparison only when both
    * doubles name unique values (`exactAt`) — value→double is not
    * injective everywhere (long 2^53+1 and 2^53 share a double), and a
    * collapse wired to a metadata delete is data loss. Strict bounds need
    * no such guard: rounding is monotone, so rd(v) > rd(x) ⟹ v > x. */
  private def clears(cmp: Int, up: Boolean, strict: Boolean, exactAt: => Boolean): Boolean =
    (if (up) cmp > 0 else cmp < 0) || (!strict && cmp == 0 && exactAt)

  private def exact(c: Col, d: Double): Boolean =
    Snapshots.exactValue(c.dt, d).isDefined

  private def cmpUtf8(x: String, y: String): Int =
    UTF8String.fromString(x).compareTo(UTF8String.fromString(y))

  /** Files of `m` whose recorded entry for `c` passes `ok`. Acceptance
    * also needs the zero-null proof: a null row fails every comparison. */
  private def proven(m: Snapshots.Manifest, c: Col, face: Face)(
      ok: Snapshots.ColStats => Boolean): Set[String] = {
    val byFile = m.stats.iterator.filter(_.col == c.name).map(s => s.file -> s).toMap
    val passing = m.files.iterator.filter(f => byFile.get(base(f)).exists(ok)).toSet
    if (face == Accept) passing intersect zeroNullFiles(m, c.name) else passing
  }

  /** Files provably ALL-NULL in `c`: a no-range tombstone whose null count
    * equals the file's recorded row count. Range-bearing entries never
    * qualify (bounds exist ⟹ some non-null row). */
  private def allNullFiles(m: Snapshots.Manifest, c: String): Set[String] = {
    val rowsBy = m.rows.iterator.map(r => r.file -> r.n).toMap
    val tomb = m.tombs.iterator
      .filter(t => t.col == c && t.nulls > 0L && rowsBy.get(t.file).contains(t.nulls))
      .map(_.file).toSet
    if (tomb.isEmpty) Set.empty else m.files.iterator.filter(f => tomb(base(f))).toSet
  }

  /** Files provably holding ZERO nulls of `c`: an exact recorded count of
    * 0, from a range entry or a tombstone (an all-NaN float file's
    * tombstone carries nulls=0 — NaN is not null). -1 means unknown. */
  private def zeroNullFiles(m: Snapshots.Manifest, c: String): Set[String] = {
    val zero = (m.stats.iterator ++ m.tombs.iterator)
      .filter(s => s.col == c && s.nulls == 0L).map(_.file).toSet
    if (zero.isEmpty) Set.empty else m.files.iterator.filter(f => zero(base(f))).toSet
  }

  /** Files whose TRANSFORMED recorded range can meet [lo, hi]; files
    * without a numeric range stay. */
  private def transformedOverlap(
      m: Snapshots.Manifest, c: Col, lo: Double, hi: Double): Set[String] = {
    val ranges = m.stats.iterator.filter(s => s.col == c.name && s.slo == null)
      .map(s => s.file -> s).toMap
    m.files.iterator.filter { f =>
      ranges.get(base(f)).forall(s => c.f(s.max) >= lo && c.f(s.min) <= hi)
    }.toSet
  }

  /** Files whose recorded string range [slo, shi] holds one of `keys`
    * (UTF8-byte order); files without string bounds stay. One binary
    * search per file, so a large runtime IN-set stays cheap. */
  private def stringKeyFiles(m: Snapshots.Manifest, c: String, keys: Seq[String]): Set[String] = {
    val ranges = m.stats.iterator.filter(s => s.col == c && s.slo != null)
      .map(s => s.file -> s).toMap
    if (ranges.isEmpty) return m.files.toSet
    val ks: Array[AnyRef] = keys.map(UTF8String.fromString).toArray
    java.util.Arrays.sort(ks)
    m.files.iterator.filter { f =>
      ranges.get(base(f)).forall { s =>
        val i = java.util.Arrays.binarySearch(ks, UTF8String.fromString(s.slo))
        val at = if (i >= 0) i else -i - 1
        at < ks.length &&
          ks(at).asInstanceOf[UTF8String].compareTo(UTF8String.fromString(s.shi)) <= 0
      }
    }.toSet
  }
}
