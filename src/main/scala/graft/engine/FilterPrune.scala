package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Pushed LIMIT / TOP-N file capping for the DSv2 snapshot scan: plan only
  * the files whose recorded live rows provably cover the limit. Filters are
  * judged by [[StatsPredicate]]; these cappers read the same manifest
  * stats but answer a different question (how many rows, not which rows).
  */
private[graft] object FilterPrune {

  // ---- pushed LIMIT / TOP-N file capping (round 16) --------------------
  //
  // Both cappers run ONLY on a scan with no residual filter (no pushed
  // filters, or an exactly-claimed conjunction; no runtime IN-sets; not a
  // row-level rewrite) — the caller guards — because a residual filter
  // makes "this file's recorded rows" an upper bound on its OUTPUT rows,
  // and a cap that trusts it could under-deliver.

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
