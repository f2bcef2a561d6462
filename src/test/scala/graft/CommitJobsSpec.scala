package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.{Incremental, Scd, Snapshots}

/** Jobs-per-commit pins — the round-9 overhead attribution. A snapshot
  * commit's cost at scale is (write I/O) + (number of Spark jobs × scheduling
  * and scan latency); rounds 7-8 grew the job count per keyed commit to ~8
  * (probe×2 twice, emptiness count, ts-bound agg, stats re-scan of the
  * written bytes, write). Round 9 collapses that: footer-derived stats
  * (zero jobs), one shared key probe, fused gate aggregations. These pins
  * hold the line — a regression that re-adds a per-commit pass fails
  * loudly here, not as a silent 2× in the bench.
  */
class CommitJobsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    "file:" + Files.createTempDirectory("jobs").toString + "/t"

  /** Run `body` with AQE disabled: adaptive execution materializes every
    * exchange as its own sub-job, which is healthy at scale but makes job
    * counts plan-shape-dependent noise. With it off, jobs = actions +
    * broadcast builds — the stable quantity these pins guard. */
  private def withAqeOff[A](body: => A): A = {
    val old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", old)
  }

  test("plain commit with statsCols runs ONE job (stats come from footers)") {
    val root = tmp()
    val df = spark.range(0, 1000).select($"id", ($"id" % 7).as("x"))
    val jobs = countJobs {
      withAqeOff(Snapshots.commit(df, root, statsCols = Seq("id")))
    }
    assert(jobs <= 1, s"commit ran $jobs jobs — the stats scan is back?")
    // and the footer-derived metadata is complete: stats + row counts exact
    val m = Snapshots.manifest(spark, root, 1)
    assert(m.stats.nonEmpty && m.stats.forall(_.col == "id"))
    assert(m.rows.map(_.n).sum === 1000L)
    assert(m.stats.map(_.min).min === 0.0 && m.stats.map(_.max).max === 999.0)
    assert(m.stats.forall(_.nulls === 0L))
  }

  test("a many-file commit mines footers as ONE bounded fan-out job, exact") {
    val root = tmp()
    // 80 files > the fan-out cutoff: the stats pass becomes a Spark job
    // (bounded by the cluster, not one driver thread's round-trips) —
    // and costs exactly one job, with the metadata identical to the
    // serial path's
    val df = spark.range(0, 20000).select($"id", ($"id" % 97).as("k"))
      .repartition(80)
    val jobs = countJobs {
      withAqeOff(Snapshots.commit(df, root, statsCols = Seq("id")))
    }
    assert(jobs <= 2, s"write + one footer fan-out expected, got $jobs jobs")
    val m = Snapshots.manifest(spark, root, 1)
    assert(m.files.size === 80)
    assert(m.rows.map(_.n).sum === 20000L)
    assert(m.stats.count(_.col == "id") === 80)
    assert(m.stats.map(_.min).min === 0.0 && m.stats.map(_.max).max === 19999.0)
    assert(m.stats.forall(_.nulls === 0L))
  }

  test("footer stats equal scan stats on a range-clustered multi-file commit") {
    val rootF = tmp()
    val df = spark.range(0, 800)
      .select($"id", when($"id" % 10 === 0, lit(null)).otherwise($"id" * 2).as("v"))
      .repartitionByRange(8, $"id").sortWithinPartitions("id")
    Snapshots.commit(df, rootF, statsCols = Seq("id", "v"))
    val m = Snapshots.manifest(spark, rootF, 1)
    assert(m.files.size === 8)
    assert(m.stats.count(_.col === "id") === 8)
    assert(m.stats.count(_.col === "v") === 8)
    // ranges are the true per-file ranges (footer chunk stats are exact for
    // int64), null counts exact, and range pruning works off them
    m.stats.filter(_.col === "id").foreach(s => assert(s.min <= s.max && s.nulls === 0L))
    assert(m.stats.filter(_.col === "v").map(_.nulls).sum === 80L)
    assert(Snapshots.candidateFiles(m, "id", 250, 349).size <= 2)
    val pruned = Snapshots.readRange(spark, rootF, "id", 250, 349)
      .select("id").as[Long].collect().sorted
    assert(pruned.toSeq === (250L to 349L))
  }

  test("Scd.merge on an incremental batch stays under the job budget") {
    val root = tmp()
    val base = spark.range(0, 800)
      .select($"id", concat(lit("s"), ($"id" % 50).cast("string")).as("seg"))
      .repartitionByRange(8, $"id").sortWithinPartitions("id")
    Scd.merge(base, root, "id", ts = 1000, statsCols = Seq("id"))
    val batch = spark.range(100, 110).select($"id", lit("MOVED").as("seg"))
    val jobs = countJobs {
      withAqeOff(Scd.merge(batch, root, "id", ts = 2000, statsCols = Seq("id")))
    }
    // 3 actions (single-pass probe collect, fused gate agg, rewrite
    // write) + broadcast builds = 7 measured. Round 8 ran 8 ACTIONS
    // (separate emptiness count, ts-bound agg, stats re-scan, re-probe×2,
    // exact-filtered history read); the pin fails before any of those
    // passes creeps back.
    assert(jobs <= 8, s"Scd.merge ran $jobs jobs (budget 8)")
    // and it still merged correctly
    val cur = Scd.current(spark, root).filter($"seg" === "MOVED")
      .select("id").as[Long].collect().toSet
    assert(cur === (100L until 110L).toSet)
  }

  test("keyed incremental refresh stays under the job budget") {
    val src = tmp()
    val st = tmp()
    val docs = spark.range(0, 2000)
      .select($"id", ($"id" % 5).cast("string").as("g"), lit(1L).as("n"))
    Snapshots.commit(docs.repartitionByRange(8, $"id"), src, statsCols = Seq("id"))
    Incremental.refreshKeyed(spark, src, st, Seq("g"), Seq("n"))
    // incremental step: merge 20 repriced rows, refresh the keyed state
    Snapshots.merge(
      docs.filter($"id" % 100 === 0).withColumn("n", lit(5L)),
      src, key = "id", statsCols = Seq("id"))
    val jobs = countJobs {
      withAqeOff(Incremental.refreshKeyed(spark, src, st, Seq("g"), Seq("n")))
    }
    // 3 actions (single-pass shared probe, fold-and-write — the merge
    // writes the fold directly, no survivors re-read — and the tombstone
    // gate) + broadcast builds = 5 measured; round 8 ran 8 actions.
    assert(jobs <= 7, s"refreshKeyed ran $jobs jobs (budget 7)")
    val got = Incremental.readKeyed(spark, st, Seq("n"))
      .select($"g", $"sum_n".cast("long")).as[(String, Long)].collect().toMap
    // groups 0: ids 0,100,...1900 → 20 ids with n=5 (id%100==0) → those 20
    // are all in g = (id%5): id%100==0 → id%5==0 → group "0" gains 20×4
    assert(got("0") === 400L + 80L && got("1") === 400L)
  }
}
