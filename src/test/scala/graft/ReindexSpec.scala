package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Snapshots

/** [[Snapshots.reindexStats]] — ANALYZE for the snapshot layer: one
  * distributed read pass + a METADATA-ONLY commit (re)builds the per-file
  * stats/bloom index; no data file is rewritten or moved. The ops verb
  * that gives an unindexed 100 TB table pruning, metadata counts, and
  * aggregate pushdown without [[Snapshots.compact]]'s full rewrite.
  *
  * Pins: the file list is IDENTICAL across the commit; deletion vectors,
  * recorded byte sizes, and other columns' metadata carry; the indexed
  * surface actually lights up (band pruning, countWhere from metadata,
  * SUM/MIN/MAX pushdown answering with the data bytes destroyed); the SQL
  * CALL surface routes the same path.
  */
class ReindexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    "file:" + Files.createTempDirectory("reindex").toString + "/t"

  private def batchRead(root: String): DataFrame =
    spark.read.format("graft.streaming.SnapshotSourceProvider")
      .option("root", root).load()

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("an unindexed table gains pruning, metadata counts, and agg pushdown in one metadata commit") {
    val root = tmp()
    Snapshots.commit( // NO statsCols: a plain, index-less ingest
      spark.range(0, 800)
        .select(lit("src0").as("src"), $"id", ($"id" % 50).as("v"))
        .repartitionByRange(8, $"id"),
      root)
    assert(Snapshots.statsRange(spark, root, "id").isEmpty)
    val before = Snapshots.manifest(spark, root, 1L).files.toSet

    val v2 = Snapshots.reindexStats(spark, root, Seq("src", "id", "v"))
    val m2 = Snapshots.manifest(spark, root, v2)
    assert(m2.files.toSet === before, "reindex must move no data file")
    assert(Snapshots.statsRange(spark, root, "id") === Some((0.0, 799.0)))
    // band pruning now fires
    val planned = Snapshots.readWhere(spark, root, col("id") >= 700)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.sum
    assert(planned < before.size, s"no pruning after reindex ($planned of ${before.size})")
    assert(Snapshots.countWhere(spark, root, col("id") < 100) === 100L)
    // aggregate pushdown (COUNT/MIN/MAX/SUM) answers with the bytes GONE
    val q = batchRead(root).groupBy("src")
      .agg(count(lit(1)).as("n"), min("id").as("lo"),
        max("id").as("hi"), sum("v").as("sv"))
    fs(root).delete(new Path(s"$root/data"), true)
    val want = ("src0", 800L, 0L, 799L, (0L until 800L).map(_ % 50).sum)
    assert(q.as[(String, Long, Long, Long, Long)].collect().toSeq === Seq(want))
  }

  test("reindex carries deletion vectors, byte sizes, and unrelated columns' metadata") {
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 400).select($"id", ($"id" * 2).as("w"))
        .repartitionByRange(4, $"id"),
      root, statsCols = Seq("id"))
    Snapshots.deleteWhere(spark, root, col("id") % 10 === 3) // vectors
    val mPre = Snapshots.manifest(spark, root, Snapshots.headVersion(spark, root))
    assert(mPre.dvs.nonEmpty && mPre.rows.forall(_.bytes > 0L))

    val v = Snapshots.reindexStats(spark, root, Seq("w"))
    val m = Snapshots.manifest(spark, root, v)
    assert(m.dvs.map(d => d.file -> d.deleted).toMap ===
      mPre.dvs.map(d => d.file -> d.deleted).toMap, "vectors must carry")
    assert(m.rows.forall(_.bytes > 0L), "recorded byte sizes must carry")
    assert(m.stats.exists(_.col == "w") && m.stats.exists(_.col == "id"),
      "the new index adds w without dropping id")
    assert(Snapshots.read(spark, root).select("id").as[Long].collect().toSet ===
      (0L until 400L).filterNot(_ % 10 == 3).toSet)
    // the new w index prunes
    assert(Snapshots.countWhere(spark, root, col("w") >= 780) ===
      (390L until 400L).filterNot(_ % 10 == 3).size.toLong)
  }

  test("the reindexed columns persist: appends after a reindex keep recording their stats") {
    // reindex must grow the head's INDEX DECLARATION, or the next append
    // records no stats for the new columns and the fresh index silently
    // decays back to must-scan (one stat-less file declines every
    // metadata answer)
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 200).select(lit("a").as("src"), $"id").coalesce(1),
      root) // index-less
    Snapshots.reindexStats(spark, root, Seq("src", "id"))
    Snapshots.commit(
      spark.range(200, 400).select(lit("b").as("src"), $"id").coalesce(1),
      root, append = true) // NO statsCols: must inherit the declaration
    val m = Snapshots.manifest(spark, root, Snapshots.headVersion(spark, root))
    assert(m.files.size === 2)
    assert(m.stats.count(_.col == "id") === 2,
      "the appended file must carry id stats from the inherited declaration")
    // and the metadata surfaces keep answering over BOTH files
    assert(Snapshots.statsRange(spark, root, "id") === Some((0.0, 399.0)))
    val q = batchRead(root).groupBy("src")
      .agg(count(lit(1)).as("n"), max("id").as("hi")).orderBy("src")
    assert(descOf_(q).contains("group by [src]"), descOf_(q))
    assert(q.as[(String, Long, Long)].collect().toSeq ===
      Seq(("a", 200L, 199L), ("b", 200L, 399L)))
  }

  /** Scan descriptions through the adaptive wrappers. */
  private def descOf_(q: DataFrame): String = {
    q.collect()
    def go(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        go(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => go(s.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        Seq(b.scan.description())
      case o => o.children.flatMap(go)
    }
    go(q.queryExecution.executedPlan).mkString("\n")
  }

  test("reindex is incremental: covered files' bytes are never read, decayed ones heal") {
    val root = tmp()
    Snapshots.commit(spark.range(0, 200).select($"id").coalesce(1), root)
    // ANALYZE collects full-fidelity entries (sums included) for batch 1
    val v2 = Snapshots.reindexStats(spark, root, Seq("id"))
    assert(v2 === 2L)
    val batch1Shard = Snapshots.manifestMeta(spark, root, v2).shardRefs.head.name
    // the append inherits the declaration but records WRITE-TIME entries —
    // no recorded SUM — so batch 2 is exactly the natural decay ANALYZE heals
    Snapshots.commit(
      spark.range(200, 400).select($"id").coalesce(1), root, append = true)
    val batch1File = Snapshots.manifest(spark, root, 1L).files.head
    assert(Snapshots.manifest(spark, root, 3L).stats.exists(_.sumS == null),
      "the appended file's write-time entry must lack a sum (the decay under test)")

    // destroy the COVERED batch's bytes: the incremental pass must not read
    // them (a full rebuild would throw FileNotFound here)
    assert(fs(root).delete(new Path(batch1File), false))
    val v4 = Snapshots.reindexStats(spark, root, Seq("id"))
    assert(v4 === 4L)
    // batch 1's shard carried BY REFERENCE; only the decayed one rewrote
    val refsAfter = Snapshots.manifestMeta(spark, root, v4).shardRefs.map(_.name)
    assert(refsAfter.contains(batch1Shard),
      s"untouched shard must carry by reference (have $refsAfter)")
    // every entry is full-fidelity again: the aggregate answers from
    // metadata alone, batch 1's bytes still gone
    val m4 = Snapshots.manifest(spark, root, v4)
    assert(m4.stats.filter(_.col == "id").forall(_.sumS != null))
    val q = batchRead(root).agg(sum("id").as("s"), count(lit(1)).as("n"),
      min("id").as("lo"), max("id").as("hi"))
    assert(q.as[(Long, Long, Long, Long)].collect().toSeq ===
      Seq(((0L until 400L).sum, 400L, 0L, 399L)))
  }

  test("all-null / all-NaN columns tombstone: repeat ANALYZE reads zero data bytes") {
    // round 19: a file whose requested column produces no range used to
    // record NOTHING — indistinguishable from never-indexed, so every
    // ANALYZE re-scanned it forever. Now the scan records a no-range
    // tombstone (real null count, inert bounds) and coverage is provable
    // in O(metadata).
    val root = tmp()
    Snapshots.commit(spark.range(0, 100)
      .select($"id", $"id".cast("double").as("v"),
        ($"id" / 10).cast("float").as("f")).coalesce(1), root)
    Snapshots.commit(spark.range(100, 200)
      .select($"id", lit(null).cast("double").as("v"),
        lit(Float.NaN).as("f")).coalesce(1), root, append = true)
    val v3 = Snapshots.reindexStats(spark, root, Seq("id", "v", "f"))
    assert(v3 === 3L)
    val m3 = Snapshots.manifest(spark, root, v3)
    // the degenerate (file, col) pairs carry tombstones with REAL null
    // counts: all-null v (100 nulls), all-NaN f (0 nulls — NaN ≠ null)
    assert(m3.tombs.exists(t => t.col == "v" && t.nulls === 100L),
      s"all-null column must tombstone, tombs=${m3.tombs}")
    assert(m3.tombs.exists(t => t.col == "f" && t.nulls === 0L),
      s"all-NaN float column must tombstone, tombs=${m3.tombs}")
    // tombstones never reach the range index (resolve separates them)
    assert(!m3.stats.exists(_.nr), "no tombstone may sit in Manifest.stats")
    assert(m3.stats.count(_.col == "id") === 2, "plain columns index normally")
    // destroy EVERY data byte: the repeat ANALYZE must verify coverage in
    // O(metadata) — re-scanning a tombstoned file would throw FileNotFound
    m3.files.foreach(u => assert(fs(root).delete(new Path(u), false)))
    assert(Snapshots.reindexStats(spark, root, Seq("id", "v", "f")) === 3L,
      "tombstone-covered: version-less no-op, zero data bytes read")
  }

  test("a decimal(38) sum overflow records the '!' sentinel: tried, not decay") {
    // 20000 × 9·10^31 = 1.8·10^36 overflows the decimal(38,2) per-file
    // accumulator: try_sum yields null. Pre-round-19 that recorded
    // sumS=null — indistinguishable from a never-tried footer entry, so
    // every ANALYZE re-scanned the file. The "!" sentinel marks it tried:
    // consumers read "no sum" (SUM/AVG decline), reindex reads "covered".
    val root = tmp()
    val big = "9" + "0" * 31 + ".00"
    Snapshots.commit(spark.range(0, 20000)
      .select(lit("g").as("src"), lit(big).cast("decimal(34,2)").as("wide"))
      .coalesce(1), root, statsCols = Seq("src", "wide"))
    val m = Snapshots.manifest(spark, root, 1L)
    val st = m.stats.find(_.col == "wide").getOrElse(fail("no wide entry"))
    assert(st.sumS === "!", s"overflowed sum must record the sentinel, got ${st.sumS}")
    assert(Snapshots.recordedSum(st).isEmpty, "the sentinel is not a number")
    assert(st.min === 9e31 && st.max === 9e31, "the range survives the overflow")
    // SUM pushdown must NOT treat the sentinel as a recorded sum: the
    // scan computes natively and overflows per the engine's semantics
    // (ANSI throws ARITHMETIC_OVERFLOW) — a sentinel parsed as a number
    // would have answered 1.8e36 from metadata instead
    val q = batchRead(root).agg(sum("wide").as("s"))
    intercept[ArithmeticException] { q.collect() }
    // ANALYZE: tried-and-unrecordable counts as covered — version-less
    // no-op, proven with the data bytes destroyed
    m.files.foreach(u => assert(fs(root).delete(new Path(u), false)))
    assert(Snapshots.reindexStats(spark, root, Seq("src", "wide")) === 1L,
      "sentinel-covered: no re-scan")
  }

  test("a fully-covered reindex is a version-less no-op; force rebuilds") {
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 100).select($"id").coalesce(1), root,
      statsCols = Seq("id"))
    // write-time entries lack sums: the first ANALYZE heals them (v2)...
    assert(Snapshots.reindexStats(spark, root, Seq("id")) === 2L)
    // ...after which a repeat verifies coverage in O(metadata): no commit
    assert(Snapshots.reindexStats(spark, root, Seq("id")) === 2L,
      "covered + declared: no new version")
    assert(Snapshots.headVersion(spark, root) === 2L)
    // force: the old replace-everything semantics, via the SQL CALL surface
    spark.conf.set("spark.sql.catalog.graft", "graft.streaming.SnapshotCatalog")
    val v = spark.sql(
      s"CALL graft.system.reindex('$root', stats_cols => 'id', force => true)")
      .collect().head.getLong(0)
    assert(v === 3L)
    assert(Snapshots.statsRange(spark, root, "id") === Some((0.0, 99.0)))
  }

  test("a count-less shard heals through ANALYZE even when stats are covered") {
    // row counts come from footers (metadata I/O, no data read) in the
    // shard rewrite — the no-op fast path must not skip that heal forever,
    // or rowsComplete (the metadata COUNT gate) never turns on
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 120).select($"id",
        concat(lit("t"), ($"id" % 4).cast("string")).as("tag")).coalesce(1),
      root, statsCols = Seq("tag")) // string entries: capable as written
    rewriteShard(root)(_.replaceAll("""\"rows\":\[[^\]]*\]""", "\"rows\":[]"))
    assert(Snapshots.manifest(spark, root, 1L).rows.isEmpty)

    val v2 = Snapshots.reindexStats(spark, root, Seq("tag"))
    assert(v2 === 2L, "covered stats with missing counts must still heal")
    val m2 = Snapshots.manifest(spark, root, v2)
    assert(m2.rows.map(_.n).sum === 120L, "footer-read counts must land")
    // now fully covered: the repeat is the no-op
    assert(Snapshots.reindexStats(spark, root, Seq("tag")) === 2L)
  }

  test("SQL CALL reindex routes the same path; bloom columns index too") {
    val root = tmp()
    Snapshots.commit(
      spark.range(0, 300)
        .select(format_string("doc-%05d", $"id").as("doc_id"), $"id")
        .repartition(3),
      root)
    spark.conf.set("spark.sql.catalog.graft", "graft.streaming.SnapshotCatalog")
    spark.sql(
      s"CALL graft.system.reindex('$root', stats_cols => 'id', bloom_cols => 'doc_id')")
    val m = Snapshots.manifest(spark, root, Snapshots.headVersion(spark, root))
    assert(m.stats.exists(_.col == "id") && m.blooms.exists(_.col == "doc_id"))
    // the bloom index prunes a point probe to fewer files
    val probed = Snapshots.readForKeys(spark, root, "doc_id",
      Seq("doc-00007").toDF("doc_id"))
    assert(probed.select("id").as[Long].collect().toSeq === Seq(7L))
  }
}
