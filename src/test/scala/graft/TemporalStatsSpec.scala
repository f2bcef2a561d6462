package graft

import java.nio.file.Files
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.functions._

import graft.engine.Snapshots

/** Temporal columns in the stats index: timestamps (NTZ and LTZ) record
  * exact epoch MICROS (round 17 — double-exact to ±2^53, so equality/
  * top-n/min-max pushdowns never decline for rounding) and dates epoch
  * DAYS, and the predicate miner converts literals to the same units — so
  * `ts >= '...'` readWhere/countWhere prune files by time range, the
  * single most common lake predicate. The unit discipline is the point:
  * a literal mined in the wrong unit against the recorded stats would
  * prune every file out of a valid band (a silently-empty result).
  */
class TemporalStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    "file:" + Files.createTempDirectory("tstats").toString + "/t"

  private def day(d: Int): LocalDateTime = LocalDateTime.of(2024, 3, d, 12, 0)

  test("NTZ timestamp stats: readWhere prunes by time band, exactly") {
    val root = tmp()
    val rows = (1 to 20).map(d => (d.toLong, day(d)))
    Snapshots.commit(rows.toDF("id", "ts").repartitionByRange(4, $"ts"),
      root, statsCols = Seq("ts"))
    val cond = col("ts") >= lit(day(6)) && col("ts") < lit(day(16))
    val got = Snapshots.readWhere(spark, root, cond)
      .select("id").as[Long].collect().toSet
    assert(got === (6L to 15L).toSet, "time-band readWhere lost or gained rows")
    // the pruning actually fired: the planned scan reads fewer files than
    // the table holds (4 range files, the band covers ~2)
    val scanned = Snapshots.readWhere(spark, root, cond)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.sum
    val total = Snapshots.manifest(spark, root,
      Snapshots.headVersion(spark, root)).files.size
    assert(scanned < total, s"no files pruned ($scanned of $total)")
    // metadata counting stays consistent under the same predicate
    assert(Snapshots.countWhere(spark, root, cond) === 10L)
  }

  test("LTZ timestamp stats: the micros-vs-seconds literal trap stays closed") {
    val root = tmp()
    val rows = (1 to 12).map(d =>
      (d.toLong, day(d).toInstant(java.time.ZoneOffset.UTC)))
    Snapshots.commit(rows.toDF("id", "ts").repartitionByRange(3, $"ts"),
      root, statsCols = Seq("ts"))
    val cond = col("ts") >= lit(day(4).toInstant(java.time.ZoneOffset.UTC))
    // the regression this spec exists for: micros-mined literals against
    // seconds-valued stats found NO candidate file and returned empty
    val got = Snapshots.readWhere(spark, root, cond)
      .select("id").as[Long].collect().toSet
    assert(got === (4L to 12L).toSet,
      "LTZ band read lost rows — literal/stats unit mismatch")
  }

  test("date stats: epoch-day literals mine against epoch-day ranges") {
    val root = tmp()
    val rows = (1 to 20).map(d => (d.toLong, LocalDate.of(2024, 3, d)))
    Snapshots.commit(rows.toDF("id", "d").repartitionByRange(4, $"d"),
      root, statsCols = Seq("d"))
    val cond = col("d") >= lit(LocalDate.of(2024, 3, 8)) &&
      col("d") <= lit(LocalDate.of(2024, 3, 12))
    val got = Snapshots.readWhere(spark, root, cond)
      .select("id").as[Long].collect().toSet
    assert(got === (8L to 12L).toSet)
    assert(Snapshots.countWhere(spark, root, cond) === 5L)
  }

  test("calendar-shape mining: cast-to-date and year() prune TZ-free") {
    val root = tmp()
    // three years of NTZ wall-clock data, range-clustered by ts
    val rows = for (y <- 2023 to 2025; m <- 1 to 12)
      yield ((y.toLong * 100 + m), LocalDateTime.of(y, m, 15, 9, 30))
    Snapshots.commit(rows.toDF("id", "ts").repartitionByRange(6, $"ts"),
      root, statsCols = Seq("ts"))
    val total = Snapshots.manifest(spark, root,
      Snapshots.headVersion(spark, root)).files.size

    def prunedScan(cond: org.apache.spark.sql.Column): (Set[Long], Int) = {
      val df = Snapshots.readWhere(spark, root, cond)
      val files = df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.sum
      (df.select("id").as[Long].collect().toSet, files)
    }

    // year(ts): analyzer compiles to year(cast(ts as date)) — wall-clock
    // year, TZ-free for NTZ, mined through the composed transform
    val (yr, yrFiles) = prunedScan(year($"ts") === 2024)
    assert(yr === (1 to 12).map(m => 2024L * 100 + m).toSet)
    assert(yrFiles < total, s"year() pruned nothing ($yrFiles of $total)")

    // cast-to-date band
    val (dd, ddFiles) = prunedScan(
      $"ts".cast("date") >= lit(LocalDate.of(2025, 6, 1)))
    assert(dd === (6 to 12).map(m => 2025L * 100 + m).toSet)
    assert(ddFiles < total, s"cast(date) pruned nothing ($ddFiles of $total)")

    // randomized equivalence sweep: every calendar shape must agree with
    // the unpruned filter, whatever the band
    val rnd = new scala.util.Random(7L)
    for (_ <- 1 to 10) {
      val y = 2023 + rnd.nextInt(3)
      val m0 = 1 + rnd.nextInt(12)
      val cond = rnd.nextInt(3) match {
        case 0 => year($"ts") >= y
        case 1 => $"ts".cast("date") < lit(LocalDate.of(y, m0, 1))
        case _ => year($"ts") === y && $"ts".cast("date") >= lit(LocalDate.of(y, m0, 1))
      }
      val viaIndex = Snapshots.readWhere(spark, root, cond)
        .select("id").as[Long].collect().toSet
      val direct = Snapshots.read(spark, root).filter(cond)
        .select("id").as[Long].collect().toSet
      assert(viaIndex === direct, s"divergence under $cond")
    }
  }

  test("readRange speaks the column's own type for temporal bounds") {
    val root = tmp()
    val rows = (1 to 10).map(d => (d.toLong, day(d)))
    Snapshots.commit(rows.toDF("id", "ts").repartitionByRange(2, $"ts"),
      root, statsCols = Seq("ts"))
    // canonical epoch-MICROS bounds (round 17) — the exact filter must
    // compare natively (the double cast is refused for NTZ and would
    // crash here)
    def us(d: Int): Double =
      day(d).toEpochSecond(java.time.ZoneOffset.UTC).toDouble * 1e6
    val got = Snapshots.readRange(spark, root, "ts", us(3), us(7))
      .select("id").as[Long].collect().toSet
    assert(got === (3L to 7L).toSet)
    // date column variant
    val root2 = tmp()
    Snapshots.commit((1 to 10).map(d => (d.toLong, LocalDate.of(2024, 3, d)))
      .toDF("id", "d").repartitionByRange(2, $"d"), root2, statsCols = Seq("d"))
    val day0 = LocalDate.of(2024, 3, 4).toEpochDay.toDouble
    val got2 = Snapshots.readRange(spark, root2, "d", day0, day0 + 3)
      .select("id").as[Long].collect().toSet
    assert(got2 === (4L to 7L).toSet)
  }

  test("date-keyed delete prunes through epoch-day stats (probe no longer opaque)") {
    // the per-day upsert/delete shape: a DATE key column now probes as
    // canonical epoch DAYS (unix_date) instead of going opaque on the
    // refused double cast — a keyed CoW delete must rewrite ONLY the file
    // whose recorded day range can hold the keys, carrying the rest by
    // reference
    val root = tmp()
    val rows = (1 to 20).map(i => (i.toLong, LocalDate.of(2024, 3, i)))
    Snapshots.commit(rows.toDF("id", "d").repartitionByRange(4, $"d"),
      root, statsCols = Seq("d"))
    val before = Snapshots.manifest(spark, root, 1L).files.toSet
    assert(before.size === 4)
    val keys = Seq(LocalDate.of(2024, 3, 18), LocalDate.of(2024, 3, 20)).toDF("d")
    val v = Snapshots.delete(keys, root, key = "d")
    val after = Snapshots.manifest(spark, root, v).files.toSet
    assert(before.intersect(after).size === before.size - 1,
      s"only the one file holding days 18-20 may rewrite " +
        s"(carried ${before.intersect(after).size} of ${before.size})")
    val got = Snapshots.read(spark, root).select("id").as[Long].collect().toSet
    assert(got === (1L to 20L).toSet -- Set(18L, 20L))
  }

  test("NTZ-keyed delete degrades to opaque instead of crashing the probe's analysis") {
    // try_cast(ntz as double) is an ANALYSIS error (DATATYPE_MISMATCH), not
    // a runtime null — the probe must route NTZ keys to the opaque branch
    // deliberately (every file a candidate, exact result)
    val root = tmp()
    val rows = (1 to 10).map(d => (d.toLong, day(d)))
    Snapshots.commit(rows.toDF("id", "ts").repartitionByRange(2, $"ts"),
      root, statsCols = Seq("ts"))
    val keys = Seq(day(3), day(7)).toDF("ts")
    Snapshots.delete(keys, root, key = "ts")
    assert(Snapshots.read(spark, root).select("id").as[Long].collect().toSet ===
      (1L to 10L).toSet -- Set(3L, 7L))
  }

  test("temporal stats survive merge maintenance and row-TTL pruning composes") {
    import graft.engine.{Maintain, MaintenancePolicy}
    val root = tmp()
    val now = LocalDateTime.now(java.time.ZoneOffset.UTC)
    val rows = Seq(
      (1L, now.minusDays(30)), (2L, now.minusDays(20)),
      (3L, now.minusDays(2)), (4L, now.minusDays(1)))
    Snapshots.commit(rows.toDF("id", "ts").repartitionByRange(2, $"ts"),
      root, statsCols = Seq("ts"))
    // the TTL sweep's deleteWhere mines ts < cutoff through the same index
    Maintain.maintain(spark, root,
      MaintenancePolicy(rowTtlCol = "ts", rowTtlMs = 7L * 86400000L,
        statsCols = Seq("ts")))
    assert(Snapshots.read(spark, root).select("id").as[Long].collect().toSet ===
      Set(3L, 4L))
  }
}
