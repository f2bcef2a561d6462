package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Checks, Snapshots}

/** A batch commit that fails before publish — a CHECK violation counted in
  * the write pass, or a row that throws part-way through the write — leaves
  * the head where it was, references no file it wrote, and leaves no data
  * file behind. Covered for each way a batch is written: on driver threads
  * (a driver-resident frame), in tasks (a distributed plan), and as a
  * composite clustering grid.
  */
class BatchAbortSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    "file:" + Files.createTempDirectory("abort").toString + "/t"

  /** Every parquet file under the table's data directory. */
  private def dataFiles(root: String): Set[String] = {
    val dir = new Path(root + "/data")
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(dir)) Set.empty
    else {
      val it = f.listFiles(dir, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    }
  }

  /** `write` fails with a message containing `msg`, and the table is as
    * it was: same head, same files, no new file on disk. */
  private def assertAborts(root: String, msg: String)(write: => Unit): Unit = {
    val head = Snapshots.headVersion(spark, root)
    val before = Snapshots.manifest(spark, root, head).files.map(new Path(_).getName).toSet
    val e = intercept[Exception](write)
    val text = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")
    assert(text.contains(msg), text)
    assert(Snapshots.headVersion(spark, root) === head, "an aborted write published")
    assert(Snapshots.manifest(spark, root, head).files.map(new Path(_).getName).toSet === before)
    assert(dataFiles(root) === before, "an aborted write left data files behind")
  }

  private def seeded(): String = {
    val root = tmp()
    Snapshots.commit(Seq((1L, 10L, 1L)).toDF("id", "quality", "b"), root)
    Checks.add(spark, root, "quality_nonneg", "quality >= 0")
    root
  }

  private val want = "check constraint violation writing to "

  test("a CHECK violation in a driver-resident batch is rejected before publish") {
    val root = seeded()
    val batch = Seq((2L, 5L, 2L), (3L, -5L, 3L), (4L, -1L, 4L)).toDF("id", "quality", "b")
    assert(batch.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assertAborts(root, s"$want$root: 'quality_nonneg' (2 rows, quality >= 0)") {
      Snapshots.commit(batch, root, append = true)
    }
  }

  test("a CHECK violation in a batch written by tasks is rejected before publish") {
    val root = seeded()
    val batch = spark.range(0, 2000, 1, 4)
      .select($"id", ($"id" - 1500).as("quality"), ($"id" % 3).as("b"))
    assertAborts(root, s"$want$root: 'quality_nonneg' (1500 rows, quality >= 0)") {
      Snapshots.commit(batch, root, append = true)
    }
    // so is a hash-clustered batch, here an overwrite
    assertAborts(root, s"$want$root: 'quality_nonneg' (1500 rows, quality >= 0)") {
      Snapshots.commit(batch, root, clusterBy = Some((Seq("id"), 4)))
    }
  }

  test("a CHECK violation in a clustering-grid batch is rejected before publish") {
    val root = tmp()
    val clean = spark.range(0, 400, 1, 2)
      .select($"id", ($"id" % 5).as("quality"), ($"id" % 3).as("b"))
    Snapshots.commit(clean, root, clusterBy = Some((Seq("id", "b"), 4)))
    Checks.add(spark, root, "quality_nonneg", "quality >= 0")
    val bad = clean.select($"id" + 1000 as "id", ($"quality" - 2).as("quality"), $"b")
    assertAborts(root, s"$want$root: 'quality_nonneg' (160 rows, quality >= 0)") {
      Snapshots.commit(bad, root, append = true, clusterBy = Some((Seq("id", "b"), 4)))
    }
    Snapshots.commit(clean.select($"id" + 1000 as "id", $"quality", $"b"), root,
      append = true, clusterBy = Some((Seq("id", "b"), 4)))
    assert(Snapshots.read(spark, root).count() === 800L)
  }

  test("a row that throws part-way through the write leaves the head unchanged") {
    val root = seeded()
    val boom = udf { (id: Long) =>
      if (id == 1777L) throw new IllegalStateException("row 1777 is poisoned")
      id % 7
    }
    def batch(df: DataFrame) = df.select($"id", boom($"id").as("quality"), lit(0L).as("b"))
    // tasks: three slices finish their files before the fourth fails
    assertAborts(root, "row 1777 is poisoned") {
      Snapshots.commit(batch(spark.range(0, 2000, 1, 4).toDF()), root, append = true)
    }
    // a driver-resident frame: the rows are computed before any file is written
    assertAborts(root, "row 1777 is poisoned") {
      Snapshots.commit(batch(Seq(1L, 1777L).toDF("id")), root, append = true)
    }
    Snapshots.commit(batch(spark.range(0, 1000, 1, 4).toDF()), root, append = true)
    assert(Snapshots.read(spark, root).count() === 1001L)
  }
}
