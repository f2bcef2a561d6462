package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Snapshots

/** Pushed LIMIT / TOP-N file capping (round 16,
  * [[graft.engine.FilterPrune.capForLimit]]/[[capForTopN]] wired through
  * `SupportsPushDownLimit`/`SupportsPushDownTopN` on the DSv2 scan).
  *
  * The contract under test:
  *  - a plain `LIMIT n` plans only files whose recorded live rows cover n
  *    (any-k-rows semantics — Spark's retained GlobalLimit trims exactly);
  *  - `ORDER BY c LIMIT n` plans only boundary files under the stats
  *    threshold, and the result is EXACTLY the full sort's top n — for
  *    asc and desc, numeric and string keys, with nulls (default
  *    orderings put them first asc / last desc), under deletion vectors,
  *    and on multi-key sorts (first-key pruning only);
  *  - every unprovable situation degrades to NO capping, never to a
  *    wrong row: missing stats, float keys (NaN is invisible to bounds),
  *    residual filters (Spark never offers the pushdown there).
  */
class LimitPushSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    "file:" + Files.createTempDirectory("limitpush").toString + "/t"

  private def load(root: String): DataFrame =
    spark.read.format("graft.streaming.SnapshotSourceProvider")
      .option("root", root).load()

  /** Sum of DSv2 scan numOutputRows across an executed plan (the decoded
    * gate, same recursion as the q135/q138 oracles). */
  private def decoded(df: DataFrame): Long = {
    df.collect() // force execution
    def go(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        go(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => go(s.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.metrics("numOutputRows").value
      case other => other.children.map(go).sum
    }
    go(df.queryExecution.executedPlan)
  }

  /** 8 range-disjoint files over ids [0, 8000) with stats on every
    * interesting column. */
  private def rangeTable(root: String): Unit = {
    Snapshots.commit(
      spark.range(0, 8000).select(
        $"id",
        ($"id" % 7).as("bucket"),
        format_string("k%05d", $"id").as("skey"),
        when($"id" % 100 === 0, lit(null)).otherwise($"id").as("holey"),
        $"id".cast("float").as("fkey"))
        .repartitionByRange(8, $"id"),
      root, statsCols = Seq("id", "skey", "holey", "fkey"))
  }

  test("plain LIMIT plans a prefix of files, not the table") {
    val root = tmp(); rangeTable(root)
    val q = load(root).limit(100)
    assert(q.count() === 100L)
    val d = decoded(load(root).limit(100))
    assert(d >= 100L && d <= 2000L,
      s"LIMIT 100 over 8x1000-row files must decode ~1 file, saw $d")
  }

  test("topN asc equals the full sort and decodes only boundary files") {
    val root = tmp(); rangeTable(root)
    val q = load(root).select($"id").orderBy($"id").limit(50)
    assert(q.as[Long].collect().toSeq === (0L until 50L))
    val d = decoded(load(root).select($"id").orderBy($"id").limit(50))
    assert(d <= 2000L, s"asc top-50 must decode ~1 boundary file, saw $d")
  }

  test("topN desc equals the full sort and decodes only boundary files") {
    val root = tmp(); rangeTable(root)
    val q = load(root).select($"id").orderBy($"id".desc).limit(50)
    assert(q.as[Long].collect().toSeq === (7999L to 7950L by -1L))
    val d = decoded(load(root).select($"id").orderBy($"id".desc).limit(50))
    assert(d <= 2000L, s"desc top-50 must decode ~1 boundary file, saw $d")
  }

  test("multi-key sort prunes on the first key and keeps the exact order") {
    val root = tmp(); rangeTable(root)
    val got = load(root).select($"id", $"bucket")
      .orderBy($"id".desc, $"bucket").limit(20)
      .as[(Long, Long)].collect().toSeq
    val want = (0L until 8000L).map(i => (i, i % 7))
      .sortBy { case (i, b) => (-i, b) }.take(20)
    assert(got === want)
  }

  test("asc with nulls: NULLS FIRST rows surface exactly; nulled files survive") {
    val root = tmp(); rangeTable(root)
    // every file holds some `holey` nulls (ids ≡ 0 mod 100) — the capper
    // may never drop a file whose null count is nonzero under asc
    val got = load(root).select($"holey").orderBy($"holey").limit(85)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    val all = (0L until 8000L).map(i => if (i % 100 == 0) -1L else i)
    val want = all.sortBy(v => (v != -1L, v)).take(85)
    assert(got.count(_ == -1L) === 80)
    assert(got.sorted === want.sorted)
  }

  test("desc with nulls: NULLS LAST never surfaces a null in the top") {
    val root = tmp(); rangeTable(root)
    val got = load(root).select($"holey").orderBy($"holey".desc).limit(30)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    val want = (0L until 8000L).filter(_ % 100 != 0).sorted.reverse.take(30)
    assert(got === want)
  }

  test("topN under deletion vectors: budget counts live rows only") {
    val root = tmp(); rangeTable(root)
    // delete the top 990 ids — the boundary file's live tail shrinks to 10
    // rows, so a sound top-50 must pull from the NEXT file too
    assert(Snapshots.deleteWhere(spark, root, col("id") >= 7010) > 0L)
    val got = load(root).select($"id").orderBy($"id".desc).limit(50)
      .as[Long].collect().toSeq
    assert(got === (7009L to 6960L by -1L))
  }

  test("string key topN prunes through slo/shi bounds") {
    val root = tmp(); rangeTable(root)
    val got = load(root).select($"skey").orderBy($"skey").limit(10)
      .as[String].collect().toSeq
    assert(got === (0 until 10).map(i => f"k$i%05d"))
    val d = decoded(load(root).select($"skey").orderBy($"skey").limit(10))
    assert(d <= 2000L, s"string top-10 must decode ~1 boundary file, saw $d")
  }

  test("float keys never cap (NaN-blind bounds) but stay exact") {
    val root = tmp(); rangeTable(root)
    val q = load(root).select($"fkey").orderBy($"fkey").limit(5)
    assert(q.as[Float].collect().toSeq === (0 until 5).map(_.toFloat))
    assert(decoded(load(root).select($"fkey").orderBy($"fkey").limit(5)) === 8000L,
      "a float sort key must not file-cap — NaN is invisible to min/max")
  }

  test("missing stats: no capping, exact result") {
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 4000).select($"id").repartitionByRange(4, $"id"), root)
    val got = load(root).select($"id").orderBy($"id".desc).limit(7)
      .as[Long].collect().toSeq
    assert(got === (3999L to 3993L by -1L))
    assert(decoded(load(root).select($"id").orderBy($"id".desc).limit(7)) === 4000L)
  }

  test("capForTopN unit soundness: disjoint ranges drop, overlaps keep") {
    // a: [0,40] x60 rows, b: [50,150] x60 rows
    val m = Snapshots.Manifest(1L, Seq("a.parquet", "b.parquet"), 0L,
      stats = Seq(
        Snapshots.ColStats("a.parquet", "k", 0, 40, nulls = 0L),
        Snapshots.ColStats("b.parquet", "k", 50, 150, nulls = 0L)),
      schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))).json,
      rows = Seq(Snapshots.FileRows("a.parquet", 60L),
        Snapshots.FileRows("b.parquet", 60L)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val (kept80, _) = graft.engine.FilterPrune.capForTopN(
      m, schema, m.files, "k", desc = true, limit = 80)
    assert(kept80 === m.files, "80 > b's 60 provable rows — the budget must widen")
    val (kept10, thr10) = graft.engine.FilterPrune.capForTopN(
      m, schema, m.files, "k", desc = true, limit = 10)
    assert(kept10 === Seq("b.parquet"),
      "10 ≤ 60 rows provably ≥ 50, and a's whole range sits below 50")
    assert(thr10 ===
      Some(org.apache.spark.sql.sources.GreaterThanOrEqual("k", 50L)),
      "the within-file threshold rides along for row-group pruning")
    // overlapping variant: c overlaps the threshold — must survive
    val m2 = m.copy(stats = Seq(
      Snapshots.ColStats("a.parquet", "k", 0, 100, nulls = 0L),
      Snapshots.ColStats("b.parquet", "k", 50, 150, nulls = 0L)))
    val (kept10b, _) = graft.engine.FilterPrune.capForTopN(
      m2, schema, m2.files, "k", desc = true, limit = 10)
    assert(kept10b === m2.files,
      "a's hi=100 crosses the threshold 50 — it may hold top rows")
  }

  test("randomized soundness: capForLimit always covers the limit or keeps everything") {
    val rnd = new scala.util.Random(23)
    (1 to 200).foreach { trial =>
      val nFiles = 1 + rnd.nextInt(10)
      val files = (0 until nFiles).map { i =>
        val n = rnd.nextInt(40).toLong
        val dv = if (n > 0 && rnd.nextBoolean()) rnd.nextInt(n.toInt).toLong else 0L
        val known = rnd.nextInt(5) > 0 // some files predate the count index
        (s"f$i.parquet", n, dv, known)
      }
      val m = Snapshots.Manifest(1L, files.map(_._1), 0L,
        schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))).json,
        rows = files.collect { case (f, n, _, true) => Snapshots.FileRows(f, n) },
        dvs = files.collect { case (f, _, dv, _) if dv > 0 =>
          Snapshots.FileDv(f, "", dv) })
      val limit = 1 + rnd.nextInt(120)
      val kept = graft.engine.FilterPrune.capForLimit(m, m.files, limit)
      // the capped prefix must PROVABLY hold >= limit live rows, or be the
      // whole list (counts only trusted when recorded)
      val provable = kept.map { f =>
        files.find(_._1 == f).collect { case (_, n, dv, true) =>
          math.max(0L, n - dv) }.getOrElse(0L)
      }.sum
      assert(provable >= limit || kept == m.files,
        s"trial $trial: kept $kept proves only $provable of $limit")
      // and it is a PREFIX (order preserved — any-k-rows semantics)
      assert(m.files.take(kept.size) === kept)
    }
  }

  test("randomized soundness: capForTopN never drops a file holding a top row") {
    val rnd = new scala.util.Random(17)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    (1 to 200).foreach { trial =>
      val nFiles = 1 + rnd.nextInt(8)
      // per file: real values, a null count, a DV cardinality, and
      // possibly LOOSENED (truncation-like) recorded bounds
      val files = (0 until nFiles).map { i =>
        val n = 1 + rnd.nextInt(30)
        val base = rnd.nextInt(1000).toLong
        val vals = Seq.fill(n)(base + rnd.nextInt(200).toLong)
        val nulls = if (rnd.nextBoolean()) rnd.nextInt(5) else 0
        val dv = rnd.nextInt(math.min(4, vals.size + nulls))
        val slack = if (rnd.nextInt(4) == 0) rnd.nextInt(10).toLong else 0L
        (s"f$i.parquet", vals, nulls, dv, slack)
      }
      val m = Snapshots.Manifest(1L, files.map(_._1), 0L,
        stats = files.map { case (f, vals, nulls, _, slack) =>
          Snapshots.ColStats(f, "k", (vals.min - slack).toDouble,
            (vals.max + slack).toDouble, nulls = nulls.toLong) },
        schema = schema.json,
        rows = files.map { case (f, vals, nulls, _, _) =>
          Snapshots.FileRows(f, (vals.size + nulls).toLong) },
        dvs = files.collect { case (f, _, _, dv, _) if dv > 0 =>
          Snapshots.FileDv(f, "", dv.toLong) })
      val limit = 1 + rnd.nextInt(25)
      val desc = rnd.nextBoolean()
      val (kept, _) = graft.engine.FilterPrune.capForTopN(
        m, schema, m.files, "k", desc, limit)
      // the scan-output contract under partial pushdown: Spark re-sorts
      // whatever the capped scan emits, so the kept files' rows must
      // yield the SAME top-n key multiset as the whole table (nulls: asc
      // = NULLS FIRST, desc = NULLS LAST). The realization checked keeps
      // every physical row — a superset of any DV'd survivor set, still
      // covered because the budget counts live rows conservatively.
      val rows = files.flatMap { case (f, vals, nulls, _, _) =>
        vals.map(v => (f, Option(v))) ++ Seq.fill(nulls)((f, Option.empty[Long]))
      }
      def topVals(rs: Seq[(String, Option[Long])]): Seq[Option[Long]] = {
        val ordered =
          if (desc) rs.sortBy { case (_, v) => (v.isEmpty, v.fold(0L)(-_)) }
          else rs.sortBy { case (_, v) => (v.isDefined, v.getOrElse(0L)) }
        ordered.take(limit).map(_._2)
      }
      val keptSet = kept.toSet
      assert(topVals(rows.filter(r => keptSet.contains(r._1))) === topVals(rows),
        s"trial $trial (desc=$desc, limit=$limit): capped top-$limit diverges; " +
          s"kept=$kept files=${files.map(f =>
            (f._1, f._2.min, f._2.max, f._3, f._4, f._5))}")
    }
  }

  test("timestamp keys cap files AND emit the within-file threshold (exact micros)") {
    // "latest n events by ts" — THE 100 TB top-n shape. The round-17
    // micros canon makes the recorded bounds exact, so the capper emits a
    // typed threshold literal where the seconds canon had to stop at the
    // file cap. LTZ column: its stats ride the native driver-side
    // conversion (the old cast-to-double path would have recorded
    // fractional seconds).
    val base = 1700000000000000L // epoch micros, well inside ±2^53
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 8000)
        .select($"id", timestamp_micros(lit(base) + $"id" * 1000000L).as("ts"))
        .repartitionByRange(8, $"ts"),
      root, statsCols = Seq("ts"))
    val got = load(root).orderBy($"ts".desc).limit(50)
      .select("id").as[Long].collect().toSeq
    assert(got === (7999L to 7950L by -1L))
    val d = decoded(load(root).orderBy($"ts".desc).limit(50))
    assert(d <= 2000L, s"ts-keyed desc top-50 must decode ~1 boundary file, saw $d")
    // within-file half: a sorted overlapping file's row groups above the
    // threshold never decode (the ts literal converts back exactly)
    val root2 = tmp()
    Snapshots.commit(
      spark.range(0, 1000)
        .select(timestamp_micros(lit(base) + $"id" * 1000000L).as("ts"))
        .coalesce(1),
      root2, statsCols = Seq("ts"))
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.set("parquet.block.size", (1 << 16).toString)
    try {
      Snapshots.commit(
        spark.range(500, 100000)
          .select(timestamp_micros(lit(base) + $"id" * 1000000L).as("ts"))
          .repartition(1).sortWithinPartitions("ts"),
        root2, append = true, statsCols = Seq("ts"))
    } finally oldBlock.fold(hc.unset("parquet.block.size"))(
      hc.set("parquet.block.size", _))
    val q = load(root2).orderBy($"ts").limit(1000)
    assert(q.count() === 1000L)
    val d2 = decoded(load(root2).orderBy($"ts").limit(1000))
    assert(d2 < 20000L,
      s"the ts threshold must drop the sorted file's tail row groups, saw $d2")
  }

  test("ntz timestamp keys cap and threshold like ltz") {
    val base = 1700000000000000L
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 4000)
        .select($"id", timestamp_micros(lit(base) + $"id" * 1000000L)
          .cast("timestamp_ntz").as("ts"))
        .repartitionByRange(4, $"ts"),
      root, statsCols = Seq("ts"))
    val got = load(root).orderBy($"ts").limit(30).select("id").as[Long].collect().toSeq
    assert(got === (0L until 30L))
    val d = decoded(load(root).orderBy($"ts").limit(30))
    assert(d <= 2000L, s"ntz ts top-30 must decode ~1 boundary file, saw $d")
  }

  test("decimal keys at precision <= 15 emit the within-file threshold; wider keep the file cap") {
    // "top n by price": a decimal(12,2)'s values all have <= 15 significant
    // digits, so the stat double names a unique decimal and the threshold
    // literal converts back exactly (shortest-repr + exact rescale)
    val root = tmp()
    def dec(df: org.apache.spark.sql.DataFrame) =
      df.select((($"id" * 100 + 25) / 100).cast("decimal(12,2)").as("price"))
    Snapshots.commit(dec(spark.range(0, 1000).toDF("id")).coalesce(1),
      root, statsCols = Seq("price"))
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.set("parquet.block.size", (1 << 16).toString)
    try {
      Snapshots.commit(
        dec(spark.range(500, 100000).toDF("id"))
          .repartition(1).sortWithinPartitions("price"),
        root, append = true, statsCols = Seq("price"))
    } finally oldBlock.fold(hc.unset("parquet.block.size"))(
      hc.set("parquet.block.size", _))
    val q = load(root).orderBy($"price").limit(1000)
    assert(q.count() === 1000L)
    val d = decoded(load(root).orderBy($"price").limit(1000))
    assert(d < 20000L,
      s"the decimal threshold must drop the sorted file's tail row groups, saw $d")
  }

  test("topN threshold prunes row groups inside an overlapping survivor file") {
    // file A: ids [0, 1000) — covers the whole top-1000 budget, so the
    // threshold T lands at A.hi=999; file B: ids [500, 100000) SORTED in
    // ~64 KB row groups — B survives the file cap (lo 500 ≤ T) but the
    // within-file `id <= 999` predicate must drop all but its head groups
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 1000).toDF("id").coalesce(1),
      root, statsCols = Seq("id"))
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.set("parquet.block.size", (1 << 16).toString)
    try {
      Snapshots.commit(
        spark.range(500, 100000).toDF("id")
          .repartition(1).sortWithinPartitions("id"),
        root, append = true, statsCols = Seq("id"))
    } finally oldBlock.fold(hc.unset("parquet.block.size"))(
      hc.set("parquet.block.size", _))
    assert(Snapshots.manifest(spark, root, 2L).files.size === 2)
    val want = ((0L until 1000L) ++ (500L until 1000L)).sorted.take(1000)
    val q = load(root).orderBy($"id").limit(1000)
    assert(q.select("id").as[Long].collect().toSeq === want)
    val d = decoded(load(root).orderBy($"id").limit(1000))
    assert(d < 20000L,
      s"the within-file threshold must drop B's row groups above 999, saw $d")
  }
}
