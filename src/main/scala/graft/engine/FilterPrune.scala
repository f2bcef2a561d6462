package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** File pruning for PUSHED DataSource-V2 filters — the batch-read half of
  * the manifest index consumers. [[Snapshots.readWhere]] mines a Catalyst
  * predicate at the API layer; a DSv2 scan instead receives
  * `org.apache.spark.sql.sources.Filter` trees from Spark's pushdown, so
  * this module mines THOSE against the same per-file [[Snapshots.ColStats]]
  * ranges, null counts, and [[Snapshots.FileBloom]] string indexes — one
  * shared set of candidate primitives ([[Snapshots.candidateFiles]] and
  * friends), so the two miners cannot diverge on the overlap test.
  *
  * Soundness contract: pruning only ever SHRINKS the file set to a superset
  * of the files that can satisfy the conjunction — the scan's residual
  * filters still evaluate row-exactly on everything that survives, so a
  * conservative miss costs I/O, never rows. Literals convert to the stats
  * index's canonical units (numbers as cast-to-double, timestamps as exact
  * epoch MICROS — the unit the stats pass records, double-exact to ±2^53 —
  * dates as epoch days) so rounding can never disagree with the recorded
  * ranges.
  */
private[graft] object FilterPrune {

  /** The files of `m` that might satisfy ALL of `filters` (logical column
    * names, the resolved manifest's labeling). Unminable filters constrain
    * nothing; an empty intersection returns empty (the scan plans zero
    * partitions). */
  def prune(
      m: Snapshots.Manifest,
      schema: StructType,
      filters: Seq[Filter]): Seq[String] = {
    val sets = filters.flatMap(f => overlap(m, schema, f).map(_.toSet))
    if (sets.isEmpty) m.files
    else {
      val keep = sets.reduce(_ intersect _)
      m.files.filter(keep)
    }
  }

  /** Structural minability — used to report `pushedFilters` honestly at
    * build time, before any manifest is read. Same code path as [[prune]]
    * over a stat-less dummy, so the report can't drift from the pruning.
    * Null-ness shapes are special-cased: their overlap arms key off
    * recorded null counts / tombstones the dummy cannot carry, yet they
    * DO mine on real manifests (round 19 — the IS NULL claim). */
  def minable(schema: StructType, f: Filter): Boolean = f match {
    case IsNull(_) | IsNotNull(_) | EqualNullSafe(_, null) => true
    case Not(IsNull(_)) | Not(IsNotNull(_)) => true
    case _ => overlap(Snapshots.Manifest(1L, Seq("dummy.parquet"), 0L,
      stats = Seq(Snapshots.ColStats("dummy.parquet", "*", 0, 0, 0)),
      schema = schema.json), schema, f).isDefined
  }

  /** Canonical-unit double of a pushed literal for a column of type `dt` —
    * None when the pair isn't index-comparable. */
  private def canon(dt: DataType, v: Any): Option[Double] = (dt, v) match {
    case (_, null) => None
    case (DateType, d: java.sql.Date) =>
      Some(DateTimeUtils.fromJavaDate(d).toDouble)
    case (DateType, ld: java.time.LocalDate) =>
      Some(DateTimeUtils.localDateToDays(ld).toDouble)
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(DateTimeUtils.fromJavaTimestamp(t).toDouble)
    case (TimestampType, i: java.time.Instant) =>
      Some(DateTimeUtils.instantToMicros(i).toDouble)
    case (TimestampNTZType, l: java.time.LocalDateTime) =>
      Some(DateTimeUtils.localDateTimeToMicros(l).toDouble)
    // NTZ stores wall-clock micros: go through the LOCAL fields, never
    // fromJavaTimestamp (instant-based — shifts by the JVM zone offset)
    case (TimestampNTZType, t: java.sql.Timestamp) =>
      Some(DateTimeUtils.localDateTimeToMicros(t.toLocalDateTime).toDouble)
    // a NaN literal is UNMINABLE, not a range probe: Spark orders NaN
    // above every value and equal to itself, while recorded bounds are
    // NaN-blind (footers omit NaN) — comparing the literal against them
    // would prune files whose hidden NaN rows DO satisfy `a = NaN` /
    // `a > x`. None → no constraint, the residual Filter decides.
    case (_: NumericType, n: Number) =>
      Some(n.doubleValue).filterNot(_.isNaN)
    case _ => None
  }

  // ---- shared miner primitives (fullAccept + fullReject): ONE definition
  // per rule so the two proof faces cannot drift (the exact-claim
  // consumer needs them to agree on what "proven" means) ----

  private def fieldType(schema: StructType, a: String): Option[DataType] =
    schema.fields.find(_.name == a).map(_.dataType)

  private def litCanon(schema: StructType, a: String, v: Any): Option[Double] =
    fieldType(schema, a).flatMap(canon(_, v))

  private def injective(schema: StructType, a: String, d: Double): Boolean =
    fieldType(schema, a).exists(dt => Snapshots.exactValue(dt, d).isDefined)

  private def stringTyped(schema: StructType, a: String): Boolean =
    fieldType(schema, a).contains(StringType)

  /** Recorded float/double bounds are NaN-BLIND: parquet footers omit NaN
    * from min/max (and the distributed stats pass declines non-finite
    * bounds), so a finite recorded range proves nothing about EVERY row —
    * a file [6.0, NaN] records min=max=6.0 and `price > 5.0` would
    * full-accept it while the NaN row fails the comparison. ACCEPTANCE
    * must therefore never trust float/double bounds (the non-strict arms
    * already decline through [[Snapshots.exactValue]], which has no
    * float arm; strict arms need this guard). REJECTION splits by side:
    * Spark orders NaN ABOVE every value (`nanSafeCompareDoubles`), so a
    * hidden NaN row FAILS `a < x` / `a <= x` — min-side rejection stays
    * sound unguarded — but SATISFIES `a > x` / `a >= x`, so max-side
    * rejection (and the overlap prune's max-side test for up-unbounded
    * bands, [[Snapshots.candidateFiles]]) must refuse NaN-blind bounds
    * exactly as acceptance does: a doctored/foreign entry [6.0, 6.9]
    * over a file hiding NaN would otherwise prune the file and silently
    * drop a row `fv > 7` returns, with no residual left to recover it. */
  private def nanBlind(schema: StructType, a: String): Boolean =
    fieldType(schema, a).exists {
      case FloatType | DoubleType => true
      case _ => false
    }

  private def cmpUtf8(x: String, y: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(x)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))

  /** Files provably ALL-NULL in `a`: a no-range tombstone whose (real)
    * null count equals the file's recorded row count. Range-bearing
    * entries can never qualify — bounds exist ⟹ some non-null row — so
    * the tombstone is the ONLY source. Deletion vectors only remove
    * rows, so the proof survives them (IS NULL acceptance, IS NOT NULL
    * rejection). */
  private def allNullFiles(m: Snapshots.Manifest, a: String): Set[String] = {
    val rowsBy = m.rows.iterator.map(r => r.file -> r.n).toMap
    val tomb = m.tombs.iterator
      .filter(t => t.col == a && t.nulls > 0L &&
        rowsBy.get(t.file).contains(t.nulls))
      .map(_.file).toSet
    if (tomb.isEmpty) Set.empty
    else m.files.iterator.filter(f => tomb(new Path(f).getName)).toSet
  }

  /** Files provably holding ZERO nulls of `a` — exact recorded counts
    * from range entries or tombstones (an all-NaN float file's tombstone
    * carries nulls=0). IS NULL rejection, IS NOT NULL acceptance. */
  private def zeroNullFiles(m: Snapshots.Manifest, a: String): Set[String] = {
    val zero = (m.stats.iterator ++ m.tombs.iterator)
      .filter(s => s.col == a && s.nulls == 0L).map(_.file).toSet
    if (zero.isEmpty) Set.empty
    else m.files.iterator.filter(f => zero(new Path(f).getName)).toSet
  }

  /** Per-file recorded stats of one column, keyed by basename. */
  private def statsBy(
      m: Snapshots.Manifest, a: String): Map[String, Snapshots.ColStats] =
    m.stats.iterator.filter(_.col == a).map(s => s.file -> s).toMap

  /** The overlap set of one filter: Some(files that might hold a
    * satisfying row) or None (opaque — no constraint). */
  private def overlap(
      m: Snapshots.Manifest,
      schema: StructType,
      f: Filter): Option[Seq[String]] = {
    def typeOf(a: String): Option[DataType] =
      schema.fields.find(_.name == a).map(_.dataType)
    def num(a: String, v: Any): Option[Double] = typeOf(a).flatMap(canon(_, v))
    def isString(a: String): Boolean = typeOf(a).contains(StringType)

    // files that might hold a NULL of column a: recorded zero-null files
    // prune (tombstones' null counts are real too — an all-NaN float
    // file's tombstone carries nulls=0 and prunes); unknown null counts
    // (-1, pre-index shards) stay conservative
    def nullable(a: String): Option[Seq[String]] = {
      val byFile = (m.stats ++ m.tombs).filter(_.col == a)
        .map(s => s.file -> s).toMap
      if (byFile.isEmpty) None
      else Some(m.files.filter { file =>
        byFile.get(new Path(file).getName).forall(_.nulls != 0L)
      })
    }

    // files that might hold a NON-null of column a: a tombstone covering
    // every recorded row proves the file all-null — no satisfying row.
    // Range-bearing entries prove nothing here (min/max exist ⟹ some
    // non-null row, which only CONFIRMS candidacy). None when no
    // tombstone constrains (conservative, and the pre-round-19 behavior).
    def notNullable(a: String): Option[Seq[String]] = {
      val rowsBy = m.rows.iterator.map(r => r.file -> r.n).toMap
      val allNull = m.tombs.iterator
        .filter(t => t.col == a && t.nulls > 0L &&
          rowsBy.get(t.file).contains(t.nulls))
        .map(_.file).toSet
      if (allNull.isEmpty) None
      else Some(m.files.filterNot(f => allNull(new Path(f).getName)))
    }

    def point(a: String, v: Any): Option[Seq[String]] =
      num(a, v).map(x => Snapshots.candidateFiles(m, a, x, x))
        .orElse(v match {
          case s: String if isString(a) =>
            // string equality prunes through the per-file bloom index AND
            // the slo/shi string bounds (sorted/z-ordered string keys
            // prune by range even where no bloom was recorded); either
            // index absent = conservative
            val viaBloom = Snapshots.candidateFilesForStrings(m, a, Array(s)).toSet
            Some(Snapshots.candidateFilesForStringBand(m, a, s, Some(s + "\u0000"))
              .filter(viaBloom))
          case _ => None
        })

    // string comparisons prune through the slo/shi bounds in UTF8-byte
    // order; the least string strictly above s is s+"\u0000", which turns
    // the exclusive/inclusive variants into half-open bands
    def strBand(a: String, v: Any)(band: String => (String, Option[String]))
        : Option[Seq[String]] = v match {
      case s: String if isString(a) =>
        val (lo, hi) = band(s)
        Some(Snapshots.candidateFilesForStringBand(m, a, lo, hi))
      case _ => None
    }

    f match {
      case EqualTo(a, v) => point(a, v)
      case EqualNullSafe(a, null) => nullable(a)
      case EqualNullSafe(a, v) => point(a, v)
      case GreaterThan(a, v) =>
        num(a, v).map(x => Snapshots.candidateFiles(m, a, x, Double.PositiveInfinity))
          .orElse(strBand(a, v)(s => (s + "\u0000", None)))
      case GreaterThanOrEqual(a, v) =>
        num(a, v).map(x => Snapshots.candidateFiles(m, a, x, Double.PositiveInfinity))
          .orElse(strBand(a, v)(s => (s, None)))
      case LessThan(a, v) =>
        num(a, v).map(x => Snapshots.candidateFiles(m, a, Double.NegativeInfinity, x))
          .orElse(strBand(a, v)(s => ("", Some(s))))
      case LessThanOrEqual(a, v) =>
        num(a, v).map(x => Snapshots.candidateFiles(m, a, Double.NegativeInfinity, x))
          .orElse(strBand(a, v)(s => ("", Some(s + "\u0000"))))
      // LIKE 'p%' == the band [p, nextPrefix(p)) — min/max bounds answer
      // prefix ranges exactly (round-15 close of the :142 punt)
      case StringStartsWith(a, p) if p != null && p.nonEmpty && isString(a) =>
        Some(Snapshots.candidateFilesForStringBand(m, a, p,
          RowGroupFilters.nextPrefix(p)))
      case In(a, vs) if vs.nonEmpty && !vs.contains(null) =>
        val nums = vs.flatMap(num(a, _))
        if (nums.length == vs.length) {
          val arr = nums; java.util.Arrays.sort(arr)
          Some(Snapshots.candidateFilesForKeys(m, a, arr))
        } else if (isString(a) && vs.forall(_.isInstanceOf[String]))
          Some(Snapshots.candidateFilesForStrings(m, a,
            vs.map(_.asInstanceOf[String])))
        else None
      case IsNull(a) => nullable(a)
      case IsNotNull(a) => notNullable(a)
      case Not(IsNull(a)) => notNullable(a)
      case Not(IsNotNull(a)) => nullable(a)
      // conjunction: each minable side constrains independently
      case And(l, r) =>
        (overlap(m, schema, l), overlap(m, schema, r)) match {
          case (Some(x), Some(y)) =>
            val ys = y.toSet; Some(x.filter(ys))
          case (x @ Some(_), None) => x
          case (None, y) => y
        }
      // disjunction: sound only when BOTH sides mine (union of overlaps)
      case Or(l, r) =>
        for {
          x <- overlap(m, schema, l)
          y <- overlap(m, schema, r)
        } yield {
          val xs = x.toSet ++ y
          m.files.filter(xs)
        }
      case _ => None // Not / StringStartsWith / ... : no pruning, never wrong
    }
  }

  /** FULL-ACCEPTANCE mining of one pushed filter — the `sources.Filter`
    * twin of the Catalyst miner's full set ([[Snapshots.deleteWhere]]'s
    * `MinedConjunct.full`): the files whose EVERY LIVE ROW provably
    * satisfies `f`, from the recorded per-file stats alone. Dual contract
    * to [[overlap]]: it never OVERSTATES — a shape (or file) it cannot
    * prove simply isn't in the set, which costs opportunity, never rows.
    * What constitutes a proof:
    *  - a recorded stats entry with ZERO nulls (a null row fails every
    *    comparison; unknown null counts — footer-legacy -1 — don't prove);
    *  - equality / non-strict bounds / IN additionally pass the shared
    *    exact-double injectivity rule ([[Snapshots.exactValue]], the
    *    2^53 / p≤15 rule) on BOTH the literal and the file bound, so two
    *    distinct values can never collapse onto one double; STRICT bounds
    *    are monotone-safe unguarded (rd(v) ≤ rd(lit) whenever v ≤ lit, so
    *    rd-min > rd(lit) proves every v > lit);
    *  - string bounds compare exactly in UTF8-byte order; truncated
    *    parquet bounds stay sound by direction (slo is a LOWER bound —
    *    slo ≥ k proves every row ≥ k; shi an UPPER one);
    *  - And intersects; Or unions (a file wholly inside either side is
    *    wholly inside the disjunction); deletion vectors only REMOVE
    *    rows, so acceptance survives them.
    * Consumer: the snapshot scan builder's EXACT-FILTER claim — when every
    * file a pushed conjunction overlaps is also fully accepted by it, the
    * scan's output needs no residual re-evaluation, which is what unlocks
    * aggregate pushdown and limit/top-n file capping UNDER a filter. */
  def fullAccept(
      m: Snapshots.Manifest,
      schema: StructType,
      f: Filter): Set[String] = {
    def num(a: String, v: Any): Option[Double] = litCanon(schema, a, v)
    def inj(a: String, d: Double): Boolean = injective(schema, a, d)
    def isString(a: String): Boolean = stringTyped(schema, a)
    def cmpU(x: String, y: String): Int = cmpUtf8(x, y)
    def full(a: String)(ok: Snapshots.ColStats => Boolean): Set[String] = {
      val byFile = statsBy(m, a)
      m.files.iterator.filter { file =>
        byFile.get(new Path(file).getName).exists(s => s.nulls == 0L && ok(s))
      }.toSet
    }
    def point(a: String, v: Any): Set[String] = num(a, v) match {
      case Some(x) => full(a)(s => s.slo == null && !nanBlind(schema, a) &&
        inj(a, x) && inj(a, s.min) && s.min == x && s.max == x)
      case None => v match {
        case k: String if isString(a) => full(a)(s => s.slo == k && s.shi == k)
        case _ => Set.empty
      }
    }
    def bound(a: String, v: Any, isLo: Boolean, strict: Boolean): Set[String] =
      num(a, v) match {
        // NaN-blind bounds never ACCEPT (see [[nanBlind]]): a float file's
        // finite range cannot prove every row passes the comparison
        case Some(x) => full(a) { s =>
          s.slo == null && !nanBlind(schema, a) && {
            if (isLo) {
              if (strict) s.min > x else inj(a, x) && inj(a, s.min) && s.min >= x
            } else {
              if (strict) s.max < x else inj(a, x) && inj(a, s.max) && s.max <= x
            }
          }
        }
        case None => v match {
          case k: String if isString(a) => full(a) { s =>
            s.slo != null && {
              if (isLo) { if (strict) cmpU(s.slo, k) > 0 else cmpU(s.slo, k) >= 0 }
              else { if (strict) cmpU(s.shi, k) < 0 else cmpU(s.shi, k) <= 0 }
            }
          }
          case _ => Set.empty
        }
      }
    f match {
      case EqualTo(a, v) if v != null => point(a, v)
      case EqualNullSafe(a, v) if v != null => point(a, v)
      case GreaterThan(a, v) => bound(a, v, isLo = true, strict = true)
      case GreaterThanOrEqual(a, v) => bound(a, v, isLo = true, strict = false)
      case LessThan(a, v) => bound(a, v, isLo = false, strict = true)
      case LessThanOrEqual(a, v) => bound(a, v, isLo = false, strict = false)
      case In(a, vs) if vs.nonEmpty && !vs.contains(null) =>
        val nums = vs.flatMap(num(a, _))
        if (nums.length == vs.length) {
          val arr = nums; java.util.Arrays.sort(arr)
          full(a)(s => s.slo == null && s.min == s.max && inj(a, s.min) &&
            java.util.Arrays.binarySearch(arr, s.min) >= 0)
        } else if (isString(a) && vs.forall(_.isInstanceOf[String])) {
          val ks = vs.iterator.map(_.asInstanceOf[String]).toSet
          full(a)(s => s.slo != null && s.slo == s.shi && ks.contains(s.slo))
        } else Set.empty
      // LIKE 'p%': a file is wholly inside [p, nextPrefix(p)) — needs the
      // finite roof (an all-0xFF prefix has none: every-row-≥-p alone
      // proves nothing about the prefix)
      case StringStartsWith(a, p) if p != null && p.nonEmpty && isString(a) =>
        RowGroupFilters.nextPrefix(p) match {
          case Some(roof) => full(a)(s =>
            s.slo != null && cmpU(s.slo, p) >= 0 && cmpU(s.shi, roof) < 0)
          case None => Set.empty
        }
      // zeroNullFiles ⊇ the classic zero-null range entries, plus
      // tombstoned all-NaN files (NaN is not null)
      case IsNotNull(a) => zeroNullFiles(m, a)
      // round 19: the all-null tombstone is the IS NULL proof — nulls ==
      // recorded rows pins every row null (mixed files can never accept)
      case IsNull(a) => allNullFiles(m, a)
      case EqualNullSafe(a, null) => allNullFiles(m, a)
      case Not(IsNull(a)) => zeroNullFiles(m, a)
      case Not(IsNotNull(a)) => allNullFiles(m, a)
      case And(l, r) => fullAccept(m, schema, l) intersect fullAccept(m, schema, r)
      case Or(l, r) => fullAccept(m, schema, l) union fullAccept(m, schema, r)
      case _ => Set.empty // Not(...), opaque shapes
    }
  }

  /** FULL-REJECTION mining of one pushed filter: the files PROVABLY
    * holding NO satisfying row. The third miner face — overlap is the
    * conservative superset, full-accept the all-rows proof, full-reject
    * the no-rows proof. Unlike acceptance it needs NO zero-null guard (a
    * null row never satisfies a comparison, so it strengthens rejection),
    * and the injectivity rule applies on the OPPOSITE bounds: a strict
    * bound rejects its closed boundary only when both doubles provably
    * name the original values (`id < 600` rejects a min==600 file only if
    * 600 names min exactly), while a NON-strict bound rejects strictly
    * past the boundary unguarded (rd monotone: rd(min) > rd(lit) ⟹
    * min > lit). Consumer: [[exactPrune]] — the strictness-aware planning
    * set the exact-filter claim covers. */
  def fullReject(
      m: Snapshots.Manifest,
      schema: StructType,
      f: Filter): Set[String] = {
    def num(a: String, v: Any): Option[Double] = litCanon(schema, a, v)
    def inj(a: String, d: Double): Boolean = injective(schema, a, d)
    def isString(a: String): Boolean = stringTyped(schema, a)
    def cmpU(x: String, y: String): Int = cmpUtf8(x, y)
    // NaN-blind float/double bounds are usable HERE only on the MIN side:
    // NaN sorts above every value, so a hidden NaN row genuinely fails
    // `a < x` / `a <= x` (min-side rejection sound unguarded) but
    // SATISFIES `a > x` / `a >= x` — max-side rejection must refuse
    // NaN-blind bounds like acceptance does (see [[nanBlind]])
    def rej(a: String)(ok: Snapshots.ColStats => Boolean): Set[String] = {
      val byFile = statsBy(m, a)
      m.files.iterator.filter { file =>
        byFile.get(new Path(file).getName).exists(ok)
      }.toSet
    }
    // every row fails `a OP x` ⟺ the file's whole range sits on the
    // losing side; `boundary` = the file bound that must clear the literal
    def side(a: String, v: Any, rejectBelow: Boolean, strictOp: Boolean): Set[String] =
      num(a, v) match {
        case Some(x) => rej(a) { s =>
          s.slo == null && !(rejectBelow && nanBlind(schema, a)) && {
            // rejectBelow: OP wants values ABOVE x, so a file wholly at or
            // under x rejects (s.max vs x — the NaN-blind-guarded side);
            // else mirror on s.min
            val b = if (rejectBelow) s.max else s.min
            val past = if (rejectBelow) b < x else b > x
            // a strict OP also rejects the exact boundary (v == x fails it)
            past || (strictOp && b == x && inj(a, x) && inj(a, b))
          }
        }
        case None => v match {
          case k: String if isString(a) => rej(a) { s =>
            s.slo != null && {
              val c = if (rejectBelow) cmpU(s.shi, k) else -cmpU(s.slo, k)
              if (strictOp) c <= 0 else c < 0
            }
          }
          case _ => Set.empty
        }
      }
    f match {
      case GreaterThan(a, v) => side(a, v, rejectBelow = true, strictOp = true)
      case GreaterThanOrEqual(a, v) => side(a, v, rejectBelow = true, strictOp = false)
      case LessThan(a, v) => side(a, v, rejectBelow = false, strictOp = true)
      case LessThanOrEqual(a, v) => side(a, v, rejectBelow = false, strictOp = false)
      // null-ness rejection (round 19): exact zero-null counts prove no
      // IS NULL row; an all-null tombstone proves no IS NOT NULL row
      case IsNull(a) => zeroNullFiles(m, a)
      case EqualNullSafe(a, null) => zeroNullFiles(m, a)
      case IsNotNull(a) => allNullFiles(m, a)
      case Not(IsNull(a)) => allNullFiles(m, a)
      case Not(IsNotNull(a)) => zeroNullFiles(m, a)
      case And(l, r) => fullReject(m, schema, l) union fullReject(m, schema, r)
      case Or(l, r) => fullReject(m, schema, l) intersect fullReject(m, schema, r)
      // equality/IN boundaries are already exact in the closed overlap;
      // everything else proves nothing here (overlap alone constrains)
      case _ => Set.empty
    }
  }

  /** Strictness-aware planning set: [[prune]]'s overlap minus the files
    * every conjunct provably rejects. Always a sound file-pruning set (a
    * rejected file holds no satisfying row); specifically it is THE set
    * the exact-filter claim proves — the claim requires every file here
    * to be fully accepted, and the claimed scan must plan exactly this
    * set (the closed-band [[prune]] would re-admit a strict-boundary file
    * whose rows all FAIL the filter, and with no residual left those rows
    * would leak into the result). */
  def exactPrune(
      m: Snapshots.Manifest,
      schema: StructType,
      filters: Seq[Filter]): Seq[String] = {
    val rejected = filters.foldLeft(Set.empty[String]) { (acc, f) =>
      acc union fullReject(m, schema, f)
    }
    prune(m, schema, filters).filterNot(rejected)
  }

  // ---- pushed LIMIT / TOP-N file capping (round 16) --------------------
  //
  // Both cappers run ONLY on a filterless scan (no static pushed filters,
  // no runtime IN-sets, not a row-level rewrite) — the caller guards —
  // because a residual filter makes "this file's recorded rows" an upper
  // bound on its OUTPUT rows, and a cap that trusts it could under-deliver.

  /** Cap a planned file list for a pushed plain LIMIT: walk `kept` in
    * order, accumulating each file's recorded LIVE rows (per-file count
    * minus its deletion vector's cardinality), and stop adding files once
    * the accumulated rows already cover `limit` — LIMIT without ORDER BY
    * is any-k-rows, so the prefix alone is a complete answer and Spark's
    * retained GlobalLimit trims it exactly. Files without a recorded
    * count contribute zero (kept, never trusted), so an incomplete index
    * degrades to planning more files, never to missing rows. At 100 TB
    * this is `LIMIT 10` planning O(1) files instead of O(table). */
  def capForLimit(
      m: Snapshots.Manifest, kept: Seq[String], limit: Int): Seq[String] = {
    if (limit <= 0) return kept
    val rows = m.rows.map(r => r.file -> r.n).toMap
    val dvd = m.dvs.map(d => d.file -> d.deleted).toMap
    var covered = 0L
    val out = Seq.newBuilder[String]
    val it = kept.iterator
    while (it.hasNext && covered < limit) {
      val f = it.next()
      val name = new Path(f).getName
      out += f
      covered += math.max(0L, rows.getOrElse(name, 0L) - dvd.getOrElse(name, 0L))
    }
    out.result()
  }

  /** Cap a planned file list for a pushed TOP-N (`ORDER BY col [DESC]
    * LIMIT n`, default null ordering) from the manifest's per-file bounds:
    * pick a threshold T such that the accumulated files PROVABLY hold ≥ n
    * live rows on the winning side of T, then drop every file whose whole
    * recorded range lies strictly on the losing side. The boundary-file
    * read at 100 TB: "latest n events" over a range-laid-out table plans
    * the tail files, not the table.
    *
    * Besides the capped list, returns the threshold as a residual-style
    * filter (`col <= T` asc / `col >= T` desc) when one is provably safe
    * to push INSIDE the surviving files as a row-group predicate — the
    * within-file half: a 1 GB boundary file then decodes its boundary row
    * groups, not all of it. Ascending requires a zero recorded null count
    * on EVERY kept file (NULLS FIRST rows may be in the top-n, and a
    * page/group of nulls fails a comparison predicate); descending drops
    * nulls safely (NULLS LAST can never reach a top the budget already
    * filled). Types whose canonical stat can't convert back exactly-or-
    * conservatively (decimals beyond a double's 15 digits; long/timestamp
    * values outside ±2^53) emit no threshold filter — the file cap alone
    * stands. Timestamps record exact epoch micros (round 17), so "latest
    * n events by ts" — THE 100 TB top-n shape — gets both halves.
    *
    * Soundness rests only on the stats being conservative BOUNDS in a
    * monotone canonical order (numeric cast-to-double, string UTF8-byte —
    * both recorded that way, truncated parquet binary bounds included):
    *  - ascending (NULLS FIRST): files sorted by hi; every live row of an
    *    accumulated file sorts ≤ its hi ≤ T (nulls sort first, so they
    *    count too) — once ≥ n such rows exist, the n smallest all sort
    *    ≤ T, and a file with lo > T AND provably zero nulls cannot hold
    *    one. Unknown null counts keep the file.
    *  - descending (NULLS LAST): files sorted by lo descending; only a
    *    file's NON-NULL live rows (count − DV − nulls, requiring a
    *    recorded null count) are provably ≥ its lo ≥ T — once ≥ n exist,
    *    nulls can never reach the top, so a file with hi < T drops
    *    regardless of its nulls.
    * Float/double columns never cap: NaN sorts above every value but is
    * invisible to min/max bounds. If the bounds can't cover n rows
    * (incomplete index, table smaller than n), nothing is dropped. */
  def capForTopN(
      m: Snapshots.Manifest,
      schema: StructType,
      kept: Seq[String],
      col: String,
      desc: Boolean,
      limit: Int): (Seq[String], Option[Filter]) = {
    if (limit <= 0) return (kept, None)
    val dt = schema.fields.find(_.name == col).map(_.dataType)
      .getOrElse(return (kept, None))
    val stats = m.stats.filter(_.col == col).map(s => s.file -> s).toMap
    val rows = m.rows.map(r => r.file -> r.n).toMap
    val dvd = m.dvs.map(d => d.file -> d.deleted).toMap

    def cap[T](bounds: Snapshots.ColStats => Option[(T, T)],
        // external-typed threshold literal for the within-file predicate;
        // None when no exact-or-conservative conversion exists
        lit: T => Option[Any])(
        implicit ord: Ordering[T]): (Seq[String], Option[Filter]) = {
      final case class E(lo: T, hi: T, live: Long)
      val entries = kept.flatMap { uri =>
        val name = new Path(uri).getName
        for {
          s <- stats.get(name)
          b <- bounds(s)
          n <- rows.get(name)
          dv = dvd.getOrElse(name, 0L)
          live = if (desc) { if (s.nulls >= 0L) n - dv - s.nulls else 0L }
                 else n - dv
          if live > 0L
        } yield E(b._1, b._2, live)
      }
      val ordered =
        if (desc) entries.sortBy(_.lo)(ord.reverse) else entries.sortBy(_.hi)(ord)
      var covered = 0L
      var thr: Option[T] = None
      val it = ordered.iterator
      while (it.hasNext && covered < limit) {
        val e = it.next()
        covered += e.live
        thr = Some(if (desc) e.lo else e.hi)
      }
      if (covered < limit) return (kept, None)
      val t = thr.get
      val capped = kept.filter { uri =>
        stats.get(new Path(uri).getName).flatMap(s => bounds(s).map(b => (s, b))) match {
          case Some((s, (lo, hi))) =>
            if (desc) ord.gteq(hi, t)
            else ord.lteq(lo, t) || s.nulls != 0L
          case None => true
        }
      }
      // the within-file threshold: asc only when every KEPT file is
      // provably null-free on the sort column
      val nullFree = capped.forall(uri =>
        stats.get(new Path(uri).getName).exists(_.nulls == 0L))
      val thrFilter =
        if (desc) lit(t).map(GreaterThanOrEqual(col, _))
        else if (nullFree) lit(t).map(LessThanOrEqual(col, _))
        else None
      (capped, thrFilter)
    }

    dt match {
      case StringType =>
        implicit val utf8: Ordering[org.apache.spark.unsafe.types.UTF8String] =
          (a, b) => a.compareTo(b)
        cap(s => Option(s.slo).map(lo =>
          (org.apache.spark.unsafe.types.UTF8String.fromString(lo),
            org.apache.spark.unsafe.types.UTF8String.fromString(s.shi))),
          (t: org.apache.spark.unsafe.types.UTF8String) => Some(t.toString))
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | _: DecimalType =>
        // the threshold literal emits only when the stat double provably
        // names the UNIQUE original value — the one shared 2^53/p≤15 rule
        // ([[Snapshots.exactValue]]); a type/value outside it keeps the
        // file cap alone (a back-converted literal could round to the
        // wrong side). Filters carry EXTERNAL values, so the catalyst
        // value converts (days → Date, micros → Timestamp/LocalDateTime,
        // Decimal → BigDecimal).
        cap(s => if (s.slo == null) Some((s.min, s.max)) else None,
          (t: Double) => Snapshots.exactValue(dt, t).map(v => (dt, v) match {
            case (DateType, days: Int) =>
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
            case (TimestampType, us: Long) => DateTimeUtils.toJavaTimestamp(us)
            case (TimestampNTZType, us: Long) =>
              DateTimeUtils.microsToLocalDateTime(us)
            case (_: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
              d.toJavaBigDecimal
            case (_, x) => x // byte/short/int/long box as-is
          }))
      case _ => (kept, None) // float/double (NaN-blind bounds), nested, binary
    }
  }
}
