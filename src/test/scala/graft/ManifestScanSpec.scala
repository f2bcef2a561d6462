package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.engine.{ManifestFileIndex, Snapshots}

/** Snapshot scans are planned from the manifest: the relation is a
  * [[ManifestFileIndex]] over the recorded file list and sizes, so building
  * and planning a read touches no data file and starts no Spark job — even
  * above `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
  * files, where a path-based parquet read runs a distributed listing job. */
class ManifestScanSpec extends SparkSpec {
  import spark.implicits._

  private val Files40 = 40

  private def tmp(): String =
    "file:" + Files.createTempDirectory("mscan").toString + "/t"

  private def batch(from: Long, to: Long): DataFrame =
    spark.range(from, to).select($"id", ($"id" % 13).as("k"),
      concat(lit("s"), $"id".cast("string")).as("s"), ($"id" / 7.0).as("d"))

  /** A one-commit table of [[Files40]] files, with stats on `id`. */
  private def table(): String = {
    val root = tmp()
    Snapshots.commit(batch(0, 4000).repartitionByRange(Files40, $"id"), root,
      statsCols = Seq("id"))
    assert(Snapshots.manifest(spark, root, 1).files.size === Files40)
    root
  }

  private def rows(df: DataFrame): Seq[(Long, Long, String, Double)] =
    df.select("id", "k", "s", "d").as[(Long, Long, String, Double)].collect().toSeq.sortBy(_._1)

  private def indexes(df: DataFrame): Seq[ManifestFileIndex] =
    df.queryExecution.analyzed.collect { case lr: LogicalRelation => lr.relation }
      .collect { case HadoopFsRelation(idx: ManifestFileIndex, _, _, _, _, _) => idx }

  /** Total on-disk size of `files`, stat-ed. */
  private def onDisk(files: Seq[String]): Long = files.map { u =>
    val p = new Path(u)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
  }.sum

  test("building and planning a read over more than 32 files starts no Spark job") {
    val root = table()
    val jobs = countJobs {
      Snapshots.read(spark, root).queryExecution.sparkPlan
      Snapshots.readWhere(spark, root, $"id" === 1234L).queryExecution.sparkPlan
      Snapshots.readWhere(spark, root, $"id".between(100L, 900L)).queryExecution.sparkPlan
    }
    assert(jobs === 0, s"planning snapshot reads started $jobs jobs")
    assert(indexes(Snapshots.read(spark, root)).map(_.inputFiles.length) === Seq(Files40))
  }

  test("a manifest-planned read returns the rows a path-based parquet read returns") {
    val root = table()
    val m = Snapshots.manifest(spark, root, 1)
    val expected = rows(batch(0, 4000))
    assert(rows(Snapshots.read(spark, root)) === expected)
    assert(rows(spark.read.parquet(m.files: _*)) === expected)
    assert(rows(Snapshots.readWhere(spark, root, $"id".between(100L, 900L))) ===
      expected.filter(r => r._1 >= 100L && r._1 <= 900L))
    // the index reports the bytes the shard recorded, which are the files' sizes
    assert(indexes(Snapshots.read(spark, root)).map(_.sizeInBytes) === Seq(onDisk(m.files)))
  }

  test("two reads of one version are sameResult; reads of two versions are not") {
    val root = table()
    Snapshots.commit(batch(4000, 4100), root, append = true)
    def plan(v: Long) = Snapshots.read(spark, root, v).queryExecution.analyzed
    assert(plan(1).sameResult(plan(1)))
    assert(plan(2).sameResult(plan(2)))
    assert(!plan(1).sameResult(plan(2)))
  }

  test("a shard that recorded no file sizes still reads every row") {
    val root = table()
    // the shard as an earlier generation wrote it: no "b" sizes
    rewriteShard(root)(_.replaceAll(""","b":\d+""", ""))
    val m = Snapshots.manifest(spark, root, 1)
    assert(m.rows.size === Files40 && m.rows.forall(_.bytes == -1L))
    val df = Snapshots.read(spark, root)
    assert(rows(df) === rows(batch(0, 4000)))
    assert(indexes(df).map(_.sizeInBytes) === Seq(onDisk(m.files)))
  }

  /** Write `from until to` as one parquet file under `dir`, named `name`
    * when given; returns the file. */
  private def oneFile(dir: String, from: Long, to: Long, name: Option[String] = None): Path = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    batch(from, to).coalesce(1).write.parquet(dir)
    val p = f.listStatus(new Path(dir)).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    name.fold(p) { n =>
      val renamed = new Path(dir, n)
      assert(f.rename(p, renamed))
      renamed
    }
  }

  test("files sharing a basename are sized by their own status, not each other's entry") {
    val root = tmp()
    val a = oneFile(s"$root/a", 0, 499)
    oneFile(s"$root/b", 499, 500, Some(a.getName))
    Snapshots.convertInPlace(spark, root)
    val m = Snapshots.manifest(spark, root, 1)
    assert(m.files.map(new Path(_).getName).distinct.size === 1 && m.files.size === 2)
    assert(m.rows.map(_.bytes).distinct.size === 2)
    val df = Snapshots.read(spark, root)
    assert(indexes(df).map(_.sizeInBytes) === Seq(onDisk(m.files)))
    assert(rows(df) === rows(batch(0, 500)))
  }

  test("a subset scan sizes a namesake by its own status, listed or not") {
    val root = tmp()
    val a = oneFile(s"$root/a", 0, 499)
    val b = oneFile(s"$root/b", 499, 500, Some(a.getName))
    Snapshots.convertInPlace(spark, root)
    val m = Snapshots.manifest(spark, root, 1)
    // one namesake of two the manifest lists
    assert(rows(Snapshots.readFiles(spark, m, Seq(a.toString))) === rows(batch(0, 499)))
    assert(rows(Snapshots.readFiles(spark, m, Seq(b.toString))) === rows(batch(499, 500)))
    // a file the manifest does not list, sharing the basename of one it
    // does: a delta's removed file, read against the target version
    val other = tmp()
    oneFile(s"$other/b", 499, 500, Some(a.getName))
    Snapshots.convertInPlace(spark, other)
    val m2 = Snapshots.manifest(spark, other, 1)
    assert(m2.files.map(new Path(_).getName) === Seq(a.getName))
    val df = Snapshots.readFiles(spark, m2, Seq(a.toString))
    assert(indexes(df).map(_.sizeInBytes) === Seq(onDisk(Seq(a.toString))))
    assert(rows(df) === rows(batch(0, 499)))
  }
}
