package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.engine.Snapshots

/** The round-18 EXACT filter claim: when the manifest proves every file a
  * pushed conjunction OVERLAPS is also FULLY accepted by the conjunction
  * ([[graft.engine.StatsPredicate.accept]] — zero recorded nulls, the
  * shared 2^53/p≤15 injectivity rule on equality/non-strict bounds, UTF8
  * string bounds), the scan builder claims the whole conjunction: Spark
  * keeps no residual Filter, and the pushdowns a residual always blocked
  * light up — grouped/ungrouped aggregates over a band answer from the
  * manifest, LIMIT under a filter caps planned files.
  *
  * Soundness pins: a BOUNDARY file (partially overlapping) kills the
  * claim; recorded nulls kill it; results stay hash-identical to the
  * residual path either way.
  */
class ExactClaimSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    "file:" + Files.createTempDirectory("exact").toString + "/t"

  private def batchRead(root: String): DataFrame =
    spark.read.format("graft.streaming.SnapshotSourceProvider")
      .option("root", root).load()

  private def plans(q: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    q.collect() // materialize the adaptive plan
    def go(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: go(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => p +: go(s.plan)
      case o => p +: o.children.flatMap(go)
    }
    go(q.queryExecution.executedPlan)
  }

  private def descOf(q: DataFrame): String =
    plans(q).collect { case b: BatchScanExec => b.scan.description() }.mkString("\n")

  private def hasResidualFilter(q: DataFrame): Boolean =
    plans(q).exists(_.isInstanceOf[org.apache.spark.sql.execution.FilterExec])

  private def scanParts(q: DataFrame): Int =
    plans(q).collect { case b: BatchScanExec => b.inputRDD.getNumPartitions }.sum

  private def deleteDataFiles(root: String): Unit = {
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(s"$root/data"), true)
  }

  /** 8 range-tight files on id ∈ [0, 800): file k holds [100k, 100k+100).
    * The decimal stats column forces the DISTRIBUTED stats pass (footer
    * mining can't serve decimals), so per-file exact SUMs are recorded
    * and SUM pushdown has metadata to answer from. */
  private def rangeTable(): String = {
    val root = tmp()
    (0 until 8).foreach { k =>
      Snapshots.commit(
        spark.range(100L * k, 100L * k + 100)
          .select($"id", (($"id" / 100).cast("int")).as("bucket"),
            concat(lit("s"), ($"id" % 3).cast("string")).as("tag"),
            $"id".cast("decimal(12,2)").as("price"))
          .coalesce(1), // one range-tight file per commit
        root, append = k > 0, statsCols = Seq("id", "bucket", "tag", "price"))
    }
    root
  }

  test("a file-aligned band claims exact: no residual Filter, same rows") {
    val root = rangeTable()
    // [200, 600): exactly files 2..5, each wholly inside the band
    val q = batchRead(root).filter($"id" >= 200L && $"id" < 600L)
    assert(q.count() === 400L)
    val d = descOf(q)
    assert(d.contains("ExactPushedFilters"), s"claim must fire:\n$d")
    assert(!hasResidualFilter(q), "claimed scan must plan no residual Filter")
    // row-identical to the residual path's answer
    assert(q.agg(sum("id")).as[Long].head() === (200L until 600L).sum)
  }

  test("a boundary file kills the claim; the residual path stays exact") {
    val root = rangeTable()
    // 250 splits file 2: overlap ⊄ full — no claim, Filter retained
    val q = batchRead(root).filter($"id" >= 250L && $"id" < 600L)
    val d = descOf(q)
    assert(!d.contains("ExactPushedFilters"), s"boundary must decline:\n$d")
    assert(d.contains("PushedFilters"), s"pruning must still report:\n$d")
    assert(hasResidualFilter(q), "residual Filter must re-evaluate rows")
    assert(q.count() === 350L)
  }

  test("grouped aggregate under a claimed band answers from the manifest") {
    val root = rangeTable()
    val q = batchRead(root)
      .filter($"id" >= 200L && $"id" < 600L)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("id").as("lo"),
        max("id").as("hi"), sum("id").as("s"))
      .orderBy("bucket")
    val want = (2 to 5).map(k =>
      (k, 100L, 100L * k, 100L * k + 99, (100L * k until 100L * k + 100).sum))
    assert(q.as[(Int, Long, Long, Long, Long)].collect().toSeq === want)
    val d = descOf(q)
    assert(d.contains("PushedAggregates") && d.contains("group by [bucket]"),
      s"filtered grouped agg must push:\n$d")
    // the no-I/O pin: identical answers with every data byte destroyed
    deleteDataFiles(root)
    val q2 = batchRead(root)
      .filter($"id" >= 200L && $"id" < 600L)
      .groupBy("bucket").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .orderBy("bucket")
    assert(q2.as[(Int, Long, Long)].collect().toSeq ===
      (2 to 5).map(k => (k, 100L, (100L * k until 100L * k + 100).sum)))
  }

  test("a boundary file declines the filtered aggregate whole; scan stays exact") {
    val root = rangeTable()
    val q = batchRead(root)
      .filter($"id" >= 250L && $"id" < 600L)
      .groupBy("bucket").agg(count(lit(1)).as("n")).orderBy("bucket")
    val d = descOf(q)
    assert(!d.contains("PushedAggregates"), s"boundary must scan:\n$d")
    assert(q.as[(Int, Long)].collect().toSeq ===
      Seq((2, 50L), (3, 100L), (4, 100L), (5, 100L)))
  }

  test("ungrouped filtered aggregate answers from the manifest") {
    val root = rangeTable()
    val q = batchRead(root).filter($"id" >= 200L && $"id" < 600L)
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
    assert(q.as[(Long, Long, Long)].head() === ((400L, 200L, 599L)))
    assert(descOf(q).contains("PushedAggregates"), descOf(q))
    deleteDataFiles(root)
    assert(batchRead(root).filter($"id" >= 200L && $"id" < 600L)
      .agg(count(lit(1))).as[Long].head() === 400L)
  }

  test("string partition equality claims; per-lang rollup is O(manifest)") {
    val root = tmp()
    Seq("de", "en", "fr").zipWithIndex.foreach { case (l, i) =>
      Snapshots.commit(
        spark.range(0, 50 * (i + 1)).select(lit(l).as("lang"), $"id"),
        root, append = i > 0, statsCols = Seq("lang", "id"))
    }
    val q = batchRead(root).filter($"lang" === "en")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    assert(q.as[(String, Long)].collect().toSeq === Seq(("en", 100L)))
    val d = descOf(q)
    assert(d.contains("ExactPushedFilters") && d.contains("PushedAggregates"),
      s"string-pinned claim + agg must both fire:\n$d")
    // groups outside the claimed filter never appear
    deleteDataFiles(root)
    assert(batchRead(root).filter($"lang" === "en")
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSeq === Seq(("en", 100L)))
  }

  test("recorded nulls kill the claim (a null row fails every comparison)") {
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 100)
        .select(when($"id" === 7L, lit(null)).otherwise($"id").as("id")),
      root, statsCols = Seq("id"))
    val q = batchRead(root).filter($"id" >= 0L)
    val d = descOf(q)
    assert(!d.contains("ExactPushedFilters"), s"nulls must decline:\n$d")
    assert(q.count() === 99L)
  }

  test("LIMIT under a claimed filter caps planned files") {
    val root = rangeTable()
    // the band covers 4 files; LIMIT 10 is covered by the first one alone
    val q = batchRead(root).filter($"id" >= 200L && $"id" < 600L).limit(10)
    assert(q.count() === 10L)
    assert(scanParts(q) < 4,
      s"capForLimit must engage under the exact claim (planned ${scanParts(q)})")
    // without the claim (boundary), the cap must NOT engage
    val q2 = batchRead(root).filter($"id" >= 250L && $"id" < 600L).limit(10)
    assert(q2.count() === 10L)
  }

  test("decimal MIN/MAX and decimal group keys answer via the p<=15 rule") {
    val root = tmp()
    // per-rate ingest: every file pins `rate` (decimal key) to one value;
    // `price` decimal(12,2) has exact-double per-file bounds
    Seq("1.25", "2.50").zipWithIndex.foreach { case (r, i) =>
      Snapshots.commit(
        spark.range(0, 100)
          .select(lit(new java.math.BigDecimal(r)).cast("decimal(6,2)").as("rate"),
            (($"id" * 100 + 25 + i * 10000) / 100).cast("decimal(12,2)").as("price")),
        root, append = i > 0, statsCols = Seq("rate", "price"))
    }
    val q = batchRead(root).groupBy("rate")
      .agg(min("price").as("lo"), max("price").as("hi"), count(lit(1)).as("n"))
      .orderBy("rate")
    val d = descOf(q)
    assert(d.contains("PushedAggregates") && d.contains("group by [rate]"),
      s"decimal groups + extremes must push:\n$d")
    val got = q.collect().map(r =>
      (r.getDecimal(0).toPlainString, r.getDecimal(1).toPlainString,
        r.getDecimal(2).toPlainString, r.getLong(3))).toSeq
    assert(got === Seq(("1.25", "0.25", "99.25", 100L),
      ("2.50", "100.25", "199.25", 100L)))
    // the no-I/O pin
    deleteDataFiles(root)
    assert(batchRead(root).groupBy("rate").agg(max("price").as("hi")).orderBy("rate")
      .collect().map(_.getDecimal(1).toPlainString).toSeq === Seq("99.25", "199.25"))
    // a decimal beyond 15 digits of precision declines (injectivity gone)
    val root2 = tmp()
    Snapshots.commit(
      spark.range(0, 10).select($"id".cast("decimal(20,2)").as("wide")),
      root2, statsCols = Seq("wide"))
    val q2 = batchRead(root2).agg(max("wide").as("hi"))
    assert(!descOf(q2).contains("PushedAggregates"), descOf(q2))
    assert(q2.collect().head.getDecimal(0).toPlainString === "9.00")
  }

  test("deletion vectors under a claimed band: COUNT(*) subtracts per group") {
    val root = rangeTable()
    // vector some rows out of file 3 (bucket 3) — acceptance survives
    // removal; grouped COUNT(*) subtracts exactly, SUM declines per-group
    Snapshots.deleteWhere(spark, root, $"id" >= 300L && $"id" < 310L)
    val q = batchRead(root).filter($"id" >= 200L && $"id" < 600L)
      .groupBy("bucket").agg(count(lit(1)).as("n")).orderBy("bucket")
    assert(q.as[(Int, Long)].collect().toSeq ===
      Seq((2, 100L), (3, 90L), (4, 100L), (5, 100L)))
    assert(descOf(q).contains("PushedAggregates"), descOf(q))
    // SUM on the vectored group's files declines whole (grouped pushdown
    // is all-or-nothing) but survivor-group SUM still answers when the
    // vectored files are NOT in the claimed band
    val q2 = batchRead(root).filter($"id" >= 400L && $"id" < 600L)
      .groupBy("bucket").agg(sum("id").as("s")).orderBy("bucket")
    assert(descOf(q2).contains("PushedAggregates"),
      s"a vector outside the answered set must not decline SUM:\n${descOf(q2)}")
    assert(q2.as[(Int, Long)].collect().toSeq ===
      Seq((4, (400L until 500L).sum), (5, (500L until 600L).sum)))
  }

  test("NaN-blind float bounds never claim: a hidden NaN row must not leak") {
    // Spark orders NaN ABOVE every value, so for `fv < 7` a NaN row fails
    // the filter while a NaN-blind recorded range [6.0, 6.9] (legacy /
    // foreign parquet footers omit NaN) would full-accept the file — a
    // claimed scan would return the NaN row with no residual to stop it.
    // The engine's own stats pass drops NaN-polluted entries, so DOCTOR
    // one in to model the foreign-footer shape.
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 11)
        .select($"id", when($"id" === 10L, lit(Float.NaN))
          .otherwise(($"id".cast("float") / 10f) + lit(6.0f)).as("fv"))
        .coalesce(1), // ONE file so the NaN poisons the whole column's stats
      root, statsCols = Seq("id", "fv"))
    rewriteShard(root) { body =>
      // the NaN-polluted float column must record no usable RANGE: footer
      // mining leaves it absent (parquet-mr omits NaN-polluted float
      // bounds), the distributed pass records a no-range tombstone (round
      // 19) — either way nothing a miner could trust
      val fvEntries = """\{[^}]*"col":"fv"[^}]*\}""".r.findAllIn(body).toList
      assert(fvEntries.forall(_.contains("\"nr\":1")),
        s"a NaN-polluted float column must record no usable range: $fvEntries")
      val fname = """"file":"([^"]+)"""".r.findFirstMatchIn(body).get.group(1)
      body.replace("\"stats\":[",
        s""""stats":[{"file":"$fname","col":"fv","min":6.0,"max":6.9,"nulls":0},""")
    }

    val q = batchRead(root).filter($"fv" < 7.0f)
    val d = descOf(q)
    assert(!d.contains("ExactPushedFilters"),
      s"NaN-blind float bounds must never claim:\n$d")
    assert(hasResidualFilter(q), "the residual Filter must drop the NaN row")
    assert(q.count() === 10L, "NaN fails fv < 7 under Spark's NaN ordering")

    // ---- the REJECTION face of the same threat model (round 19) ----
    // Spark orders NaN ABOVE every value, so `fv > 7` is TRUE for the
    // hidden NaN row — the doctored max 6.9 must not full-reject or
    // overlap-prune the file (either would silently drop the NaN row
    // with no residual able to recover it: the file never gets scanned).
    val gt = batchRead(root).filter($"fv" > 7.0f)
    assert(gt.count() === 1L,
      "the hidden NaN row satisfies fv > 7 — NaN-blind max bounds must not prune")
    assert(batchRead(root).filter($"fv" >= 7.0f).count() === 1L)
    // equality with a finite literal stays prunable: NaN never equals 7
    assert(batchRead(root).filter($"fv" === 7.0f).count() === 0L)
    // the MIN side genuinely rejects: every row (NaN included) fails
    // fv < 5, and the doctored min 6.0 > 5 proves it — sound prune
    assert(batchRead(root).filter($"fv" < 5.0f).count() === 0L)
  }

  test("IS NULL / IS NOT NULL claim from tombstones: null-partitioned rollup answers O(manifest)") {
    // round 19 (pairs with the all-null tombstone): a layout that
    // separates null from non-null files makes `WHERE c IS NULL` an
    // exact claim — all-null files FULLY accept via their tombstone
    // (nulls == recorded rows), zero-null files prune via their exact
    // null counts, so no residual remains and the grouped rollup answers
    // from the manifest. IS NOT NULL claims the complement. A MIXED file
    // kills both claims (its rows need the residual).
    val root = tmp()
    def part(lo: Long, hi: Long, nul: Boolean, b: Int) =
      spark.range(lo, hi).select($"id",
        (if (nul) lit(null).cast("string") else concat(lit("n"), $"id")).as("note"),
        lit(b).as("bucket")).coalesce(1)
    val sc = Seq("id", "note", "bucket")
    Snapshots.commit(part(0, 100, nul = true, 1), root, statsCols = sc)
    Snapshots.commit(part(100, 200, nul = true, 2), root, append = true, statsCols = sc)
    Snapshots.commit(part(200, 300, nul = false, 3), root, append = true, statsCols = sc)

    val q = batchRead(root).filter($"note".isNull)
      .groupBy("bucket").agg(count(lit(1)).as("n"),
        min("id").as("lo"), max("id").as("hi"))
      .coalesce(1).sortWithinPartitions("bucket")
    assert(q.as[(Int, Long, Long, Long)].collect().toSeq ===
      Seq((1, 100L, 0L, 99L), (2, 100L, 100L, 199L)))
    val d = descOf(q)
    assert(d.contains("ExactPushedFilters"), s"IS NULL must claim:\n$d")
    assert(d.contains("PushedAggregates"), s"the rollup must answer from metadata:\n$d")
    assert(!hasResidualFilter(q), "no residual under the IS NULL claim")

    val q2 = batchRead(root).filter($"note".isNotNull)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .coalesce(1).sortWithinPartitions("bucket")
    assert(q2.as[(Int, Long)].collect().toSeq === Seq((3, 100L)))
    assert(descOf(q2).contains("ExactPushedFilters"),
      s"IS NOT NULL must claim the complement:\n${descOf(q2)}")

    // a mixed-null file (bucket 4): neither side can claim it — residual
    // semantics return, results stay exact
    Snapshots.commit(
      spark.range(300, 400).select($"id",
        when($"id" % 2 === 0, concat(lit("n"), $"id")).as("note"),
        lit(4).as("bucket")).coalesce(1),
      root, append = true, statsCols = sc)
    val q3 = batchRead(root).filter($"note".isNull)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .coalesce(1).sortWithinPartitions("bucket")
    assert(q3.as[(Int, Long)].collect().toSeq ===
      Seq((1, 100L), (2, 100L), (4, 50L)))
    assert(!descOf(q3).contains("ExactPushedFilters"),
      "a mixed-null file must kill the claim")
    assert(hasResidualFilter(q3), "mixed file: the residual must filter")
  }

  test("one pushed-aggregate compile resolves the manifest once (memo across support/push)") {
    val root = rangeTable()
    val q = batchRead(root).groupBy("bucket").agg(count(lit(1)).as("n"))
    val before = graft.streaming.AggPushProbe.misses.get()
    q.collect() // one compile: supportCompletePushDown THEN pushAggregation
    val delta = graft.streaming.AggPushProbe.misses.get() - before
    assert(descOf(q).contains("PushedAggregates"), descOf(q))
    assert(delta === 1L,
      s"aggAnswer must resolve the manifest once per compile (ran $delta times)")
  }

  test("IN over pinned keys claims; a non-member file is pruned, not filtered") {
    val root = rangeTable()
    val q = batchRead(root).filter($"bucket".isin(1, 4))
      .agg(count(lit(1)).as("n"), sum("id").as("s"))
    assert(q.as[(Long, Long)].head() ===
      ((200L, (100L until 200L).sum + (400L until 500L).sum)))
    assert(descOf(q).contains("PushedAggregates"), descOf(q))
  }
}
