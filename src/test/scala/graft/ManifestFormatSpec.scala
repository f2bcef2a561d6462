package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.engine.{Branches, MergeClause, Snapshots}

/** The one on-disk format: every manifest the engine writes is stamped
  * `"fmt":1`, and a manifest without that stamp — an older generation,
  * including the pre-shard inline layout — fails every entry point with
  * ONE error that names the manifest's path and the format this engine
  * reads. Commits parse their head first, so nothing lands on top of one.
  */
class ManifestFormatSpec extends SparkSpec {
  import spark.implicits._

  private val Fmt = "graft.streaming.SnapshotSourceProvider"

  private def tmp(p: String): String =
    "file:" + Files.createTempDirectory(p).toString + "/t"

  private def local(uri: String): java.nio.file.Path = Paths.get(uri.stripPrefix("file:"))

  /** Every manifest file under `root`'s metadata area, branch chains included. */
  private def manifests(root: String): Seq[java.nio.file.Path] = {
    val walk = Files.walk(local(s"$root/_snapshots"))
    try walk.iterator().asScala
      .filter(p => p.getFileName.toString.matches("manifest-\\d+\\.json")).toList
    finally walk.close()
  }

  private def text(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  private def assertStamped(root: String, atLeast: Int): Unit = {
    val ms = manifests(root)
    assert(ms.size >= atLeast, s"expected >= $atLeast manifests under $root, got ${ms.size}")
    ms.foreach(p => assert(text(p).startsWith("{\"fmt\":1,"), s"$p is not stamped: ${text(p)}"))
  }

  /** The format error's message, wherever Spark wrapped it. */
  private def formatError(body: => Any): String = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).find(m => m != null && m.contains("unsupported snapshot manifest"))
      .getOrElse(fail(s"no manifest-format error in the cause chain of $e", e))
  }

  private def rows(ids: Range): org.apache.spark.sql.DataFrame =
    ids.map(i => (i.toLong, s"s$i")).toDF("id", "s")

  test("every verb writes a format-1 manifest") {
    val root = tmp("fmt_tour")
    Snapshots.commit(rows(0 until 40).repartition(4), root, statsCols = Seq("id"))
    Snapshots.commit(rows(40 until 60), root, append = true)
    Snapshots.merge(rows(55 until 65), root, key = "id")
    Snapshots.mergeInto(rows(60 until 70).toDF("id", "ns"), root, "id", Seq(
      MergeClause.Update(Map("s" -> col("s.ns"))),
      MergeClause.Insert(Map("s" -> col("s.ns")))))
    Snapshots.deleteWhere(spark, root, col("id") === 5L) // deletion vector
    Snapshots.deleteWhere(spark, root, col("id") === 6L, mergeOnRead = false)
    Snapshots.compact(spark, root, targetFiles = 2)
    Snapshots.commit(rows(70 until 75), root, append = true)
    Snapshots.compactManifests(spark, root)
    Snapshots.reindexStats(spark, root, Seq("s"))
    Snapshots.restore(spark, root, 1L)
    Branches.fork(spark, root, "b1")
    Snapshots.commit(rows(100 until 105), Snapshots.branchRoot(root, "b1"), append = true)
    Branches.publish(spark, root, "b1")
    assert(Snapshots.read(spark, root).count() === 45L)
    // 12 main-chain versions plus the branch's fork and append
    assertStamped(root, 14)

    val plain = tmp("fmt_plain")
    rows(0 until 10).write.parquet(plain)
    Snapshots.convertInPlace(spark, plain, statsCols = Seq("id"))
    assertStamped(plain, 1)

    val streamed = tmp("fmt_stream")
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "s").writeStream.format(Fmt)
      .option("root", streamed)
      .option("checkpointLocation", Files.createTempDirectory("fmt_ck").toString)
      .start()
    try { in.addData((1L, "a"), (2L, "b")); q.processAllAvailable() } finally q.stop()
    assert(Snapshots.headVersion(spark, streamed) === 1L)
    assertStamped(streamed, 1)
  }

  test("an unstamped head fails every entry point with the one format error") {
    val root = tmp("fmt_unstamped")
    Snapshots.commit(rows(0 until 10), root, statsCols = Seq("id"))
    Snapshots.commit(rows(10 until 20), root, append = true)
    val head = local(s"$root/_snapshots/manifest-2.json")
    Files.write(head, text(head).replace("\"fmt\":1,", "").getBytes("UTF-8"))

    val msg = formatError(Snapshots.manifestMeta(spark, root, 2L))
    assert(msg.contains(s"$root/_snapshots/manifest-2.json"), msg)
    assert(msg.contains("no format stamp") && msg.contains("manifest format 1"), msg)
    assert(formatError(Snapshots.read(spark, root)) === msg)
    assert(formatError(Snapshots.commit(rows(20 until 30), root, append = true)) === msg)
    assert(formatError(Snapshots.commit(rows(20 until 30), root)) === msg)
    assert(formatError(
      spark.read.format(Fmt).option("root", root).load().collect()) === msg)
    assert(formatError {
      val q = spark.readStream.format(Fmt).option("root", root).load()
        .writeStream.format("memory").queryName("fmt_unstamped_tail")
        .option("checkpointLocation", Files.createTempDirectory("fmt_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    } === msg)
    // nothing was committed on top of the refused head
    assert(Snapshots.headVersion(spark, root) === 2L)
    // the older, stamped version still reads
    assert(Snapshots.read(spark, root, 1L).count() === 10L)
  }

  test("a pre-shard inline manifest fails with the same error") {
    val root = tmp("fmt_inline")
    val snap = local(s"$root/_snapshots")
    Files.createDirectories(snap)
    Files.write(snap.resolve("manifest-1.json"),
      ("""{"version":1,"parent":0,"ts":0,"tag":"","schema":"",""" +
        """"stats":[],"files":["file:/nowhere/part-00000.parquet"]}""").getBytes("UTF-8"))
    val msg = formatError(Snapshots.manifestMeta(spark, root, 1L))
    assert(msg.contains(s"$root/_snapshots/manifest-1.json"), msg)
    assert(msg.contains("no format stamp"), msg)
    assert(formatError(Snapshots.read(spark, root)) === msg)
    assert(formatError(Snapshots.history(spark, root)) === msg)
  }

  test("the error names the manifest path and the format found") {
    val root = tmp("fmt_future")
    Snapshots.commit(rows(0 until 5), root)
    val m1 = local(s"$root/_snapshots/manifest-1.json")
    Files.write(m1, text(m1).replace("{\"fmt\":1,", "{\"fmt\":2,").getBytes("UTF-8"))
    val msg = formatError(Snapshots.read(spark, root))
    assert(msg.contains(s"$root/_snapshots/manifest-1.json"), msg)
    assert(msg.contains("format 2") && msg.contains("manifest format 1"), msg)
  }
}
