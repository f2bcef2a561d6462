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

  /** A range-clustered 2,000-row table over 8 files with `id` stats. */
  private def lakeTable(): String = {
    val root = tmp()
    Snapshots.commit(spark.range(0, 2000).select($"id", ($"id" % 7).as("x"))
      .repartitionByRange(8, $"id"), root, statsCols = Seq("id"))
    root
  }

  // The pins below run under the session's own settings (AQE on, as the
  // lake benchmark runs), where every exchange or broadcast is a job of its
  // own. The join forms these verbs used measured: readForKeys 5 jobs
  // (6 over vectored files), a read over vectored files 2, countWhere 2
  // (3 over vectored files), merge 5 (6), keyed delete 5, vectored keyed
  // delete 6.

  test("readForKeys with a driver-resident key frame runs ONE job") {
    val root = lakeTable()
    val keys = Seq(5L, 300L, 1999L, 5000L).toDF("id")
    var got: Array[Long] = null
    val jobs = countJobs {
      got = Snapshots.readForKeys(spark, root, "id", keys).select("id").as[Long].collect()
    }
    assert(jobs <= 1, s"readForKeys ran $jobs jobs — the probe or the semi join is back?")
    assert(got.sorted.toSeq === Seq(5L, 300L, 1999L))
    Snapshots.deleteWhere(spark, root, $"id" % 10 === 5)
    val dvJobs = countJobs(Snapshots.readForKeys(spark, root, "id", keys).collect())
    assert(dvJobs <= 1, s"readForKeys over vectored files ran $dvJobs jobs")
  }

  test("a read over deletion-vectored files runs ONE job") {
    val root = lakeTable()
    Snapshots.deleteWhere(spark, root, $"id" % 10 === 3)
    assert(Snapshots.manifest(spark, root, 2).dvs.nonEmpty)
    var n = 0L
    val jobs = countJobs { n = Snapshots.read(spark, root).collect().length.toLong }
    assert(jobs <= 1, s"a vectored read ran $jobs jobs — the positions join is back?")
    assert(n === 1800L)
    val point = countJobs(Snapshots.readWhere(spark, root, $"id" === 13L).collect())
    assert(point <= 1, s"a vectored point read ran $point jobs")
  }

  test("countWhere scanning boundary files runs ONE job, with and without vectors") {
    val root = lakeTable()
    val cond = $"id" >= 150 && $"id" < 1100
    var n = 0L
    val jobs = countJobs { n = Snapshots.countWhere(spark, root, cond) }
    assert(jobs <= 1, s"countWhere ran $jobs jobs — an aggregating count is back?")
    assert(n === 950L)
    Snapshots.deleteWhere(spark, root, $"id" % 10 === 3)
    val dvJobs = countJobs { n = Snapshots.countWhere(spark, root, cond) }
    assert(dvJobs <= 1, s"countWhere over vectored files ran $dvJobs jobs")
    assert(n === 855L)
  }

  test("merge and keyed delete of driver-resident batches run fewer jobs than their joins") {
    val root = lakeTable()
    val batch = Seq((5L, 1L), (300L, 2L), (2500L, 3L)).toDF("id", "x")
    val merge = countJobs(Snapshots.merge(batch, root, "id", statsCols = Seq("id")))
    assert(merge <= 1, s"merge ran $merge jobs (the join form ran 5)")
    val delete = countJobs(Snapshots.delete(Seq(7L, 900L).toDF("id"), root, "id", statsCols = Seq("id")))
    assert(delete <= 1, s"keyed delete ran $delete jobs (the join form ran 5)")
    val vectored = countJobs(Snapshots.delete(Seq(8L, 901L).toDF("id"), root, "id",
      statsCols = Seq("id"), mergeOnRead = true))
    assert(vectored <= 2, s"vectored keyed delete ran $vectored jobs (the join form ran 6)")
    val ids = Snapshots.read(spark, root).select("id", "x").as[(Long, Long)].collect().toMap
    assert(ids.size === 1997 && ids(5L) === 1L && ids(2500L) === 3L)
    assert(!ids.contains(7L) && !ids.contains(900L) && !ids.contains(8L) && !ids.contains(901L))
    Snapshots.deleteWhere(spark, root, $"id" % 10 === 3)
    val dvMerge = countJobs(Snapshots.merge(batch, root, "id", statsCols = Seq("id")))
    assert(dvMerge <= 1, s"merge over vectored files ran $dvMerge jobs (the join form ran 6)")
  }

  test("a driver-resident append runs NO job; a distributed commit runs ONE") {
    val root = lakeTable()
    val batch = (3000L until 3400L).map(i => (i, i % 7)).toDF("id", "x")
    assert(batch.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val local = countJobs(Snapshots.commit(batch, root, append = true, statsCols = Seq("id")))
    assert(local === 0, s"a driver-resident append ran $local jobs — its write left the driver?")
    val m = Snapshots.manifest(spark, root, Snapshots.headVersion(spark, root))
    assert(m.rows.map(_.n).sum === 2400L)
    assert(m.stats.count(_.col == "id") === m.files.size)
    val wide = spark.range(4000, 6000).select($"id", ($"id" % 7).as("x"))
    val distributed = countJobs(withAqeOff(
      Snapshots.commit(wide, root, append = true, statsCols = Seq("id"))))
    assert(distributed === 1, s"a distributed commit ran $distributed jobs")
    assert(Snapshots.read(spark, root).count() === 4400L)
  }
}
