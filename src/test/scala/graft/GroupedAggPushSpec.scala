package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.engine.Snapshots

/** GROUP BY pushdown into the manifest aggregate path (round 16 extension
  * of the ungrouped COUNT/MIN/MAX pushdown): when every live file is
  * single-valued on every group column (numeric min==max / string
  * slo==shi, zero recorded nulls), a grouped COUNT(*)/COUNT(col)/MIN/MAX
  * answers entirely from per-file metadata — the scan emits one row per
  * group and opens no data file. The natural producer of that layout is
  * an ingest that appends one partition-key value per commit (per-day /
  * per-source event batches).
  *
  * Soundness pins mirror the ungrouped suite: single-valuedness is
  * required per file (a mixed file declines the WHOLE pushdown), nulls in
  * a group column decline (metadata can't see the null group), deletion
  * vectors keep COUNT(*) exact per group (a single-valued file belongs
  * wholly to its group) but poison extremes, and every answer equals the
  * scan-computed reference.
  */
class GroupedAggPushSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    "file:" + Files.createTempDirectory("gagg").toString + "/t"

  private def batchRead(root: String): DataFrame =
    spark.read.format("graft.streaming.SnapshotSourceProvider")
      .option("root", root).load()

  /** Scan descriptions through the adaptive wrappers (grouped plans are
    * AQE-wrapped; TreeNode.collect stops at the adaptive boundary). */
  private def descOf(q: DataFrame): String = {
    q.collect() // materialize the adaptive plan
    def go(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        go(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => go(s.plan)
      case b: BatchScanExec => Seq(b.scan.description())
      case o => o.children.flatMap(go)
    }
    go(q.queryExecution.executedPlan).mkString("\n")
  }

  private def deleteDataFiles(root: String): Unit = {
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(s"$root/data"), true)
  }

  /** Per-source appends: each commit lands files holding ONE src value. */
  private def perKeyTable(): String = {
    val root = tmp()
    Seq("a", "b", "c").zipWithIndex.foreach { case (s, i) =>
      val n = 100 * (i + 1)
      val df = spark.range(0, n)
        .select(lit(s).as("src"), ($"id" + i * 1000).as("id"),
          (($"id" % 50) + i).cast("int").as("v"))
      Snapshots.commit(df.repartition(2), root, append = i > 0,
        statsCols = Seq("src", "id", "v"))
    }
    root
  }

  test("grouped COUNT(*)/MIN/MAX answers from the manifest with no data I/O") {
    val root = perKeyTable()
    val q = batchRead(root).groupBy("src")
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
      .orderBy("src")
    val want = Seq(("a", 100L, 0L, 99L), ("b", 200L, 1000L, 1199L),
      ("c", 300L, 2000L, 2299L))
    assert(q.as[(String, Long, Long, Long)].collect().toSeq === want)
    val d = descOf(q)
    assert(d.contains("PushedAggregates") && d.contains("group by [src]"),
      s"got: $d")
    // the strongest pin: the same answer with the data files GONE
    deleteDataFiles(root)
    assert(batchRead(root).groupBy("src")
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
      .orderBy("src")
      .as[(String, Long, Long, Long)].collect().toSeq === want)
  }

  test("a file holding two group values declines the whole pushdown, stays exact") {
    val root = tmp()
    // one commit, one partition → one file with both 'x' and 'y'
    Snapshots.commit(
      Seq(("x", 1L), ("x", 2L), ("y", 3L)).toDF("src", "id").coalesce(1),
      root, statsCols = Seq("src", "id"))
    val q = batchRead(root).groupBy("src").agg(count(lit(1)).as("n")).orderBy("src")
    assert(!descOf(q).contains("PushedAggregates"), descOf(q))
    assert(q.as[(String, Long)].collect().toSeq === Seq(("x", 2L), ("y", 1L)))
  }

  test("a stats-less file declines the whole grouped pushdown (mixed manifest)") {
    // compacted history with recorded stats + a fresh append without them:
    // the DOCUMENTED decision (SURVEY §11) is to decline WHOLE — partial
    // metadata answering would need a hybrid scan for a layout the scale
    // curve has not surfaced, and the decline costs one ordinary scan
    val root = tmp()
    // the stat-less file must come FIRST: round 17's appends inherit the
    // head's index declaration, so a stats-bearing head would index the
    // second file automatically (exactly the decay the inheritance fixes)
    Snapshots.commit(
      spark.range(0, 40).select(lit("b").as("src"), $"id").coalesce(1),
      root) // no statsCols: this file pins nothing, ever
    Snapshots.commit(
      spark.range(0, 60).select(lit("a").as("src"), $"id").coalesce(1),
      root, append = true, statsCols = Seq("src", "id"))
    val q = batchRead(root).groupBy("src").agg(count(lit(1)).as("n")).orderBy("src")
    assert(!descOf(q).contains("PushedAggregates"), descOf(q))
    assert(q.as[(String, Long)].collect().toSeq === Seq(("a", 60L), ("b", 40L)))
  }

  test("nulls in the group column decline (metadata can't see the null group)") {
    val root = tmp()
    Snapshots.commit(
      Seq((Option("x"), 1L), (Option("x"), 2L)).toDF("src", "id").coalesce(1),
      root, statsCols = Seq("src", "id"))
    Snapshots.commit(
      Seq((Option.empty[String], 3L), (Option.empty[String], 4L))
        .toDF("src", "id").coalesce(1),
      root, append = true, statsCols = Seq("src", "id"))
    val q = batchRead(root).groupBy("src").agg(count(lit(1)).as("n"))
    assert(!descOf(q).contains("PushedAggregates"), descOf(q))
    assert(q.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap ===
      Map(Option("x") -> 2L, None -> 2L))
  }

  test("deletion vectors: grouped COUNT(*) subtracts per group; MIN declines") {
    val root = perKeyTable()
    Snapshots.deleteWhere(spark, root, col("src") === "b" && col("id") < 1050L)
    val cnt = batchRead(root).groupBy("src").agg(count(lit(1)).as("n")).orderBy("src")
    assert(descOf(cnt).contains("group by [src]"), descOf(cnt))
    assert(cnt.as[(String, Long)].collect().toSeq ===
      Seq(("a", 100L), ("b", 150L), ("c", 300L)))
    val mn = batchRead(root).groupBy("src").agg(min("id").as("lo")).orderBy("src")
    assert(!descOf(mn).contains("PushedAggregates"), descOf(mn))
    assert(mn.as[(String, Long)].collect().toSeq ===
      Seq(("a", 0L), ("b", 1050L), ("c", 2000L)))
  }

  test("MIN/MAX under vectors answers when a clean file provably holds the winner") {
    // three range files on id; vector rows out of the LOW file only: MAX's
    // winner is the clean high file (answers — a vector only removes
    // rows), MIN's recorded winner is the vectored file (declines — its
    // extreme row may be the deleted one)
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 300).select(lit("s").as("src"), $"id")
        .repartitionByRange(3, $"id"),
      root, statsCols = Seq("src", "id"))
    Snapshots.deleteWhere(spark, root, col("id") < 10L) // vectors the low file
    assert(Snapshots.manifest(spark, root,
      Snapshots.headVersion(spark, root)).dvs.nonEmpty)
    val mx = batchRead(root).agg(max("id").as("hi"))
    assert(descOf(mx).contains("PushedAggregates"), descOf(mx))
    assert(mx.as[Long].collect().toSeq === Seq(299L))
    // the no-I/O pin for the answering side
    val mn = batchRead(root).agg(min("id").as("lo"))
    assert(!descOf(mn).contains("PushedAggregates"), descOf(mn))
    assert(mn.as[Long].collect().toSeq === Seq(10L))
    deleteDataFiles(root)
    assert(batchRead(root).agg(max("id")).as[Long].collect().toSeq === Seq(299L))
  }

  test("multi-column groups and numeric group keys push exactly") {
    val root = tmp()
    for {
      (s, i) <- Seq("a", "b").zipWithIndex
      d <- 1 to 3
    } Snapshots.commit(
      spark.range(0, 10L * d).select(lit(s).as("src"), lit(d).cast("int").as("day"),
        $"id"),
      root, append = !(i == 0 && d == 1), statsCols = Seq("src", "day", "id"))
    val q = batchRead(root).groupBy("src", "day")
      .agg(count(lit(1)).as("n"), max("id").as("hi"))
      .orderBy("src", "day")
    val d = descOf(q)
    assert(d.contains("group by [src, day]"), s"got: $d")
    val want = for { s <- Seq("a", "b"); dd <- 1 to 3 }
      yield (s, dd, 10L * dd, 10L * dd - 1)
    assert(q.as[(String, Int, Long, Long)].collect().toSeq === want)
  }

  /** Doctor the head manifest so `fileName` (recorded row count `n`)
    * carries a FULL deletion vector — the state `commitMarkedDeletes` can
    * no longer produce (it drops fully-deleted files); the grouped
    * pushdown's suppression of such a group stays pinned regardless. */
  private def fullVector(root: String, fileName: String, n: Long): Unit = {
    val bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
    (0L until n).foreach(p => bm.add(p))
    bm.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    bm.serialize(new java.io.DataOutputStream(bos))
    val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    rewriteShard(root, _.contains(fileName))(_.replace(""""files":""",
      s""""dvs":[{"file":"$fileName","dv64":"$b64","del":$n}],"files":"""))
  }

  test("a fully-vectored single-group file never emits a phantom (group, 0) row") {
    val root = tmp()
    Seq("a", "b").zipWithIndex.foreach { case (s, i) =>
      Snapshots.commit(
        spark.range(0, 100).select(lit(s).as("src"), $"id").coalesce(1),
        root, append = i > 0, statsCols = Seq("src", "id"))
    }
    val m = Snapshots.manifest(spark, root, 2L)
    val bFile = m.stats.find(s => s.col == "src" && s.slo == "b").get.file
    fullVector(root, bFile, 100L)
    val q = batchRead(root).groupBy("src").agg(count(lit(1)).as("n")).orderBy("src")
    // still a COMPLETE pushdown — the dead group is suppressed INSIDE the
    // metadata answer (SQL GROUP BY emits no row for an empty group)
    val d = descOf(q)
    assert(d.contains("group by [src]"), s"got: $d")
    assert(q.as[(String, Long)].collect().toSeq === Seq(("a", 100L)))
    // the no-I/O pin: same answer with the data bytes gone
    deleteDataFiles(root)
    assert(batchRead(root).groupBy("src").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSeq === Seq(("a", 100L)))
  }

  test("every group fully vectored declines the pushdown; scan returns the empty grouped result") {
    val root = tmp()
    Seq("a", "b").zipWithIndex.foreach { case (s, i) =>
      Snapshots.commit(
        spark.range(0, 50).select(lit(s).as("src"), $"id").coalesce(1),
        root, append = i > 0, statsCols = Seq("src", "id"))
    }
    val m = Snapshots.manifest(spark, root, 2L)
    Seq("a", "b").foreach { s =>
      fullVector(root, m.stats.find(x => x.col == "src" && x.slo == s).get.file, 50L)
    }
    val q = batchRead(root).groupBy("src").agg(count(lit(1)).as("n"))
    assert(!descOf(q).contains("PushedAggregates"), descOf(q))
    assert(q.collect().isEmpty, "GROUP BY over zero live rows emits no rows")
    // ungrouped COUNT(*) = 0 still answers from metadata (a global count of
    // an empty table IS one row) — suppression is grouped-only
    val c = batchRead(root).agg(count(lit(1)).as("n"))
    assert(descOf(c).contains("PushedAggregates"), descOf(c))
    assert(c.as[Long].collect().toSeq === Seq(0L))
  }

  test("timestamp MIN/MAX answers from the manifest (exact micros canon)") {
    // the round-17 canon records exact epoch micros, so timestamp extremes
    // reproduce exactly from metadata where the seconds canon declined
    val base = 1700000000000000L
    val root = tmp()
    Seq("a", "b").zipWithIndex.foreach { case (s, i) =>
      Snapshots.commit(
        spark.range(0, 100)
          .select(lit(s).as("src"),
            timestamp_micros(lit(base) + (lit(i) * 86400000000L) +
              $"id" * 1000001L).as("ts"))
          .coalesce(1),
        root, append = i > 0, statsCols = Seq("src", "ts"))
    }
    val q = batchRead(root).groupBy("src")
      .agg(min("ts").as("lo"), max("ts").as("hi")).orderBy("src")
    val d = descOf(q)
    assert(d.contains("group by [src]"), s"got: $d")
    val got = q.collect().map(r => (r.getString(0),
      r.getTimestamp(1).getTime, r.getTimestamp(2).getTime)).toSeq
    def ms(us: Long) = us / 1000L
    assert(got === Seq(
      ("a", ms(base), ms(base + 99L * 1000001L)),
      ("b", ms(base + 86400000000L), ms(base + 86400000000L + 99L * 1000001L))))
    // the no-I/O pin
    deleteDataFiles(root)
    assert(batchRead(root).groupBy("src")
      .agg(min("ts").as("lo"), max("ts").as("hi")).count() === 2L)
  }

  test("SUM answers from recorded per-file sums: grouped, ungrouped, exact decimals") {
    // per-source ingest with a long measure and a decimal price: the stats
    // pass records exact per-file sums (decimal(38) accumulation), so
    // "revenue per source" is one metadata row per group, zero data I/O
    val root = tmp()
    Seq("a", "b").zipWithIndex.foreach { case (s, i) =>
      Snapshots.commit(
        spark.range(0, 100)
          .select(lit(s).as("src"), ($"id" + i * 1000).as("v"),
            (($"id" * 100 + 25) / 100).cast("decimal(12,2)").as("price"))
          .repartition(2),
        root, append = i > 0, statsCols = Seq("src", "v", "price"))
    }
    val q = batchRead(root).groupBy("src")
      .agg(sum("v").as("sv"), sum("price").as("sp"), count(lit(1)).as("n"))
      .orderBy("src")
    val d = descOf(q)
    assert(d.contains("group by [src]") && d.contains("SUM"), s"got: $d")
    val expPrice = new java.math.BigDecimal("4975.00") // Σ (i + 0.25), i<100
    val got = q.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDecimal(2), r.getLong(3))).toSeq
    assert(got === Seq(
      ("a", 4950L, expPrice, 100L),
      ("b", 104950L, expPrice, 100L)))
    // the no-I/O pin: same answers with the data bytes gone
    deleteDataFiles(root)
    assert(batchRead(root).groupBy("src").agg(sum("v").as("sv")).orderBy("src")
      .as[(String, Long)].collect().toSeq === Seq(("a", 4950L), ("b", 104950L)))
    // ungrouped too
    assert(batchRead(root).agg(sum("v")).as[Long].collect().toSeq === Seq(109900L))
  }

  test("SUM declines without recorded sums (footer-mined stats) and under vectors") {
    // numeric-only statsCols ride the footer miner, which records no sums:
    // SUM must decline whole while COUNT/MIN/MAX still answer
    val root = tmp()
    Snapshots.commit(spark.range(0, 500).toDF("id").repartition(2),
      root, statsCols = Seq("id"))
    val sumQ = batchRead(root).agg(sum("id").as("s"))
    assert(!descOf(sumQ).contains("PushedAggregates"), descOf(sumQ))
    assert(sumQ.as[Long].collect().toSeq === Seq(124750L))
    val cnt = batchRead(root).agg(count(lit(1)).as("n"), max("id").as("hi"))
    assert(descOf(cnt).contains("PushedAggregates"), descOf(cnt))
    // vectors poison sums (the deleted rows' contributions are unknowable)
    val root2 = tmp()
    Seq("a", "b").zipWithIndex.foreach { case (s, i) =>
      Snapshots.commit(
        spark.range(0, 100).select(lit(s).as("src"), ($"id" + i * 1000).as("v")),
        root2, append = i > 0, statsCols = Seq("src", "v"))
    }
    Snapshots.deleteWhere(spark, root2, col("v") % 7 === 0)
    val q2 = batchRead(root2).groupBy("src").agg(sum("v").as("sv")).orderBy("src")
    assert(!descOf(q2).contains("PushedAggregates"), descOf(q2))
    val want = Seq("a" -> (0 until 100).filter(_ % 7 != 0).map(_.toLong).sum,
      "b" -> (0 until 100).map(_ + 1000).filter(_ % 7 != 0).map(_.toLong).sum)
    assert(q2.as[(String, Long)].collect().toSeq === want)
  }

  test("COUNT(col) under vectors answers for null-free files; nulled+vectored declines") {
    val root = tmp()
    // file A: 100 rows, 10 nulls in v; file B: 100 rows, v never null
    Snapshots.commit(
      spark.range(0, 100).select(lit("a").as("src"),
        when($"id" % 10 === 0, lit(null)).otherwise($"id").as("v")).coalesce(1),
      root, statsCols = Seq("src", "v"))
    Snapshots.commit(
      spark.range(100, 200).select(lit("b").as("src"), $"id".as("v")).coalesce(1),
      root, append = true, statsCols = Seq("src", "v"))
    // vector rows out of the NULL-FREE file: its live rows are all
    // non-null, so COUNT(v) still answers from metadata
    Snapshots.deleteWhere(spark, root, col("v") >= 150L && col("v") % 3 === 0)
    val q = batchRead(root).agg(count(col("v")).as("nv"))
    assert(descOf(q).contains("PushedAggregates"), descOf(q))
    val deleted = (150L until 200L).count(_ % 3 == 0)
    assert(q.as[Long].collect().toSeq === Seq(90L + 100L - deleted))
    // vector rows out of the NULLED file: whether the deleted rows were
    // the nulls is unknowable — declines, stays exact
    Snapshots.deleteWhere(spark, root, col("v") < 50L)
    val q2 = batchRead(root).agg(count(col("v")).as("nv"))
    assert(!descOf(q2).contains("PushedAggregates"), descOf(q2))
  }

  test("COUNT(DISTINCT key) answers from pinned single-valued files") {
    val root = perKeyTable()
    val q = batchRead(root).agg(countDistinct(col("src")).as("d"))
    val d = descOf(q)
    assert(d.contains("COUNT(DISTINCT src)"), s"got: $d")
    assert(q.as[Long].collect().toSeq === Seq(3L))
    // a partial vector does not change the distinct set
    Snapshots.deleteWhere(spark, root, col("id") % 7 === 0)
    assert(batchRead(root).agg(countDistinct(col("src")).as("d"))
      .as[Long].collect().toSeq === Seq(3L))
    // the no-I/O pin
    deleteDataFiles(root)
    assert(batchRead(root).agg(countDistinct(col("src")).as("d"))
      .as[Long].collect().toSeq === Seq(3L))
  }

  test("grouped COUNT(col) subtracts per-group null counts") {
    val root = tmp()
    Seq("p", "q").zipWithIndex.foreach { case (s, i) =>
      val df = spark.range(0, 100)
        .select(lit(s).as("src"), $"id",
          when($"id" % (10 * (i + 1)) === 0, lit(null)).otherwise($"id").as("v"))
      Snapshots.commit(df.repartition(2), root, append = i > 0,
        statsCols = Seq("src", "v"))
    }
    val q = batchRead(root).groupBy("src").agg(count(col("v")).as("nv")).orderBy("src")
    assert(descOf(q).contains("group by [src]"), descOf(q))
    assert(q.as[(String, Long)].collect().toSeq === Seq(("p", 90L), ("q", 95L)))
  }

  test("AVG(decimal) answers from the manifest, bit-equal to native at the HALF boundary") {
    val root = tmp()
    // 31 × 0.01 + 1 × 0.02 over 32 rows: avg = 0.33/32 = 0.0103125
    // exactly — the digit past the result scale (2+4=6) is a bare 5, so
    // HALF_UP (Spark's decimal Average) gives 0.010313 where HALF_EVEN
    // would give 0.010312. The metadata division must round identically.
    val df = spark.range(0, 32)
      .select(lit("g").as("src"),
        when($"id" === 0L, lit("0.02")).otherwise(lit("0.01"))
          .cast("decimal(9,2)").as("price"))
    Snapshots.commit(df.coalesce(1), root, statsCols = Seq("src", "price"))
    val q = batchRead(root).groupBy("src").agg(avg("price").as("a"))
    val d = descOf(q)
    assert(d.contains("AVG(price)"), s"decimal AVG must push:\n$d")
    val native = df.groupBy("src").agg(avg("price").as("a"))
    assert(native.schema("a").dataType ===
      org.apache.spark.sql.types.DecimalType(13, 6))
    assert(q.schema("a").dataType ===
      org.apache.spark.sql.types.DecimalType(13, 6))
    val pushed = q.collect().head.getDecimal(1)
    assert(pushed === native.collect().head.getDecimal(1))
    assert(pushed.toPlainString === "0.010313", "HALF_UP at the boundary")
    // the no-I/O pin
    deleteDataFiles(root)
    assert(batchRead(root).groupBy("src").agg(avg("price").as("a"))
      .collect().head.getDecimal(1).toPlainString === "0.010313")
  }

  test("AVG averages the non-null rows; integral/vectored inputs decline") {
    val root = tmp()
    Seq("x", "y").zipWithIndex.foreach { case (s, i) =>
      val df = spark.range(0, 20)
        .select(lit(s).as("src"), $"id",
          when($"id" === 3L && i == 0, lit(null))
            .otherwise(($"id" + 1).cast("string"))
            .cast("decimal(10,2)").as("price"))
      Snapshots.commit(df.coalesce(1), root, append = i > 0,
        statsCols = Seq("src", "id", "price"))
    }
    val q = batchRead(root).groupBy("src").agg(avg("price").as("a")).orderBy("src")
    assert(descOf(q).contains("AVG(price)"), descOf(q))
    // x: prices 1..20 with 4 nulled → sum 206 / 19; y: 1..20 → 210 / 20
    def dec(n: Int, d: Int) = new java.math.BigDecimal(n)
      .divide(java.math.BigDecimal.valueOf(d.toLong), 6, java.math.RoundingMode.HALF_UP)
    assert(q.collect().map(_.getDecimal(1)).toSeq === Seq(dec(206, 19), dec(210, 20)))
    // integral input declines (double-sum order dependence) but stays right
    val qi = batchRead(root).groupBy("src").agg(avg("id").as("ai")).orderBy("src")
    assert(!descOf(qi).contains("AVG(id)"), descOf(qi))
    assert(qi.collect().map(_.getDouble(1)).toSeq === Seq(9.5, 9.5))
    // a vector on the answered set declines AVG whole (deleted rows'
    // contributions unknowable) — and the scan recomputes it right
    Snapshots.deleteWhere(spark, root, $"src" === "y" && $"id" === 0L)
    val qv = batchRead(root).groupBy("src").agg(avg("price").as("a")).orderBy("src")
    assert(!descOf(qv).contains("AVG(price)"), descOf(qv))
    // y after deleting id=0 (price 1): prices 2..20 → 209 / 19 = 11 exactly
    val exp = new java.math.BigDecimal(209)
      .divide(java.math.BigDecimal.valueOf(19L), 6, java.math.RoundingMode.HALF_UP)
    assert(qv.collect().map(_.getDecimal(1)).last === exp)
  }

  test("AVG declines past Spark's sum buffer: overflow must stay native") {
    // 20000 × 9·10^31 ≈ 1.8·10^36 overflows the decimal(38,2) sum buffer
    // Spark's Average uses for a decimal(34,2) input — the quotient would
    // still fit decimal(38,6), so without the buffer guard a metadata AVG
    // would answer a number where the native plan overflows (throws under
    // ANSI, NULL otherwise). The pushdown must decline and leave the scan
    // to its native semantics.
    // per-file recorded sums are bounded by the same decimal(38,2)
    // accumulator, so the overflow comes from the CROSS-FILE total:
    // two files of 10000 × 9·10^31 each sum to 9·10^35 (recorded), and
    // their 1.8·10^36 total escapes the 36-integer-digit buffer
    val root = tmp()
    val big = "9" + "0" * 31 + ".00"
    (0 to 1).foreach { i =>
      Snapshots.commit(
        spark.range(0, 10000)
          .select(lit("g").as("src"), lit(big).cast("decimal(34,2)").as("wide"))
          .coalesce(1),
        root, append = i > 0, statsCols = Seq("src", "wide"))
    }
    val q = batchRead(root).groupBy("src").agg(avg("wide").as("a"))
    // inspect the UNEXECUTED plan: executing may throw on native overflow
    val d = q.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.mkString("\n")
    assert(!d.contains("AVG(wide)"), s"overflowing AVG must not push:\n$d")
  }

  test("an ALL-NULL file's tombstone no longer declines the aggregate pushdown") {
    // round 19: sparse optional columns land whole files of nulls; such a
    // file contributes NOTHING to null-ignoring aggregates, and its
    // tombstone (nulls == recorded rows) proves it — COUNT/MIN/MAX/SUM/
    // AVG answer from the remaining files' entries. A NaN tombstone must
    // still decline (its rows hold values the bounds cannot see).
    val root = tmp()
    Snapshots.commit(spark.range(0, 100)
      .select(lit("s1").as("src"), $"id".cast("decimal(10,2)").as("amt"))
      .coalesce(1), root, statsCols = Seq("src", "amt"))
    Snapshots.commit(spark.range(0, 50)
      .select(lit("s2").as("src"), lit(null).cast("decimal(10,2)").as("amt"))
      .coalesce(1), root, append = true, statsCols = Seq("src", "amt"))
    // write-time decimal stats ride the distributed pass (sums recorded),
    // and the all-null file records a tombstone, not an entry
    val m = Snapshots.manifest(spark, root, 2L)
    assert(m.tombs.exists(t => t.col == "amt" && t.nulls == 50L),
      s"all-null decimal file must tombstone, tombs=${m.tombs}")
    val q = batchRead(root).agg(
      count($"amt").as("n"), min($"amt").as("lo"), max($"amt").as("hi"),
      sum($"amt").as("s"), avg($"amt").as("a"))
    val d2 = descOf(q)
    assert(d2.contains("COUNT(amt)") && d2.contains("MIN(amt)") &&
      d2.contains("MAX(amt)") && d2.contains("SUM(amt)") &&
      d2.contains("AVG(amt)"),
      s"all aggregates must push over the tombstoned layout:\n$d2")
    val r = q.collect().head
    assert(r.getLong(0) === 100L)
    assert(r.getDecimal(1).compareTo(new java.math.BigDecimal("0.00")) === 0)
    assert(r.getDecimal(2).compareTo(new java.math.BigDecimal("99.00")) === 0)
    assert(r.getDecimal(3).compareTo(new java.math.BigDecimal("4950.00")) === 0)
    assert(r.getDecimal(4).compareTo(new java.math.BigDecimal("49.5")) === 0)
    // grouped COUNT(*) still answers per group (the all-null file's group
    // keeps its rows — COUNT(*) counts nulls too)
    val g = batchRead(root).groupBy("src").agg(count(lit(1)).as("n"))
      .coalesce(1).sortWithinPartitions("src")
    assert(g.as[(String, Long)].collect().toSeq === Seq(("s1", 100L), ("s2", 50L)))
  }

  test("a NaN tombstone still declines MIN/MAX/COUNT(col) pushdown") {
    val root = tmp()
    Snapshots.commit(spark.range(0, 100)
      .select(lit("s1").as("src"), ($"id" % 10).as("k"),
        ($"id" / 10).cast("float").as("fv")).coalesce(1),
      root, statsCols = Seq("src", "k", "fv"))
    Snapshots.commit(spark.range(0, 50)
      .select(lit("s2").as("src"), ($"id" % 10).as("k"),
        lit(Float.NaN).cast("float").as("fv")).coalesce(1),
      root, append = true, statsCols = Seq("src", "k", "fv"))
    // ANALYZE records the all-NaN tombstone (nulls = 0 < rows)
    Snapshots.reindexStats(spark, root, Seq("src", "k", "fv"))
    val m = Snapshots.manifest(spark, root, Snapshots.headVersion(spark, root))
    assert(m.tombs.exists(t => t.col == "fv" && t.nulls == 0L),
      s"all-NaN file must tombstone with nulls=0, tombs=${m.tombs}")
    // COUNT(fv) must NOT answer by omitting the NaN file: its 50 NaN
    // rows ARE non-null. The NaN tombstone (nulls < rows) declines.
    val q = batchRead(root).agg(count($"fv").as("n"))
    assert(!descOf(q).contains("COUNT(fv)"),
      s"a NaN tombstone must decline COUNT(col):\n${descOf(q)}")
    assert(q.as[Long].collect().head === 150L, "NaN counts as non-null")
  }
}
