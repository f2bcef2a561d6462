package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Snapshots

/** The engine writes snapshot data files through its own parquet writer,
  * straight to their final names. These pins hold it to the files
  * `df.write.parquet` makes of the same batch — footers (types, repetition,
  * field ids, codec, Spark's key-value metadata, row counts), file rolling
  * under `spark.sql.files.maxRecordsPerFile`, and, for a driver-resident
  * batch written without a job, the row placement of `LocalTableScanExec`'s
  * slices — whether the batch is written in tasks or on driver threads.
  */
class WriterParitySpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val PartRe = "part-(\\d+)-.*".r
  private val RollRe = ".*-c(\\d{3})(?:\\.|-g).*".r

  /** Part index, then the writer's roll counter: the order both writers
    * produce a slice's files in. */
  private def fileOrder(p: String): (Int, Int) = {
    val name = new Path(p).getName
    val PartRe(part) = name: @unchecked
    (part.toInt, name match { case RollRe(c) => c.toInt; case _ => 0 })
  }

  /** What `df.write.parquet` writes for `df`, in file order. Snapshot files
    * always store LTZ timestamps as TIMESTAMP(MICROS); the reference write
    * is told the same. */
  private def sparkFiles(df: DataFrame): Seq[String] = {
    val dir = tmp("ref") + "/out"
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      df.write.parquet("file:" + dir)
    }
    val f = new Path("file:" + dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.listStatus(new Path("file:" + dir)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq.sortBy(fileOrder)
  }

  /** What a snapshot commit of `df` publishes, in file order. */
  private def engineFiles(df: DataFrame): Seq[String] = {
    val root = "file:" + tmp("eng") + "/t"
    val v = Snapshots.commit(df, root)
    Snapshots.manifest(spark, root, v).files.sortBy(fileOrder)
  }

  private case class Footer(schema: String, kv: Map[String, String], createdBy: String,
      codecs: Set[String], rows: Long)

  private def footer(uri: String): Footer = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(uri), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val meta = r.getFooter
      val fm = meta.getFileMetaData
      Footer(fm.getSchema.toString, fm.getKeyValueMetaData.asScala.toMap, fm.getCreatedBy,
        meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet,
        r.getRecordCount)
    } finally r.close()
  }

  private def ids(uri: String): Seq[Long] =
    spark.read.parquet(uri).select("id").collect().map(_.getLong(0)).toSeq

  private val fieldId = new MetadataBuilder().putLong("parquet.field.id", 7L).build()

  /** Every type family whose physical encoding has a choice: INT32, INT64
    * and fixed-length decimals, LTZ and NTZ timestamps, dates, strings,
    * a nested array, a required column and a field id. */
  private def typed(df: DataFrame): DataFrame = df.select(
    col("id"),
    (col("id") % 97).cast("int").as("i"),
    (col("id") / 7).cast(DecimalType(5, 2)).as("d5"),
    (col("id") * 3.25).cast(DecimalType(12, 2)).as("d12"),
    (col("id") * 1.5).cast(DecimalType(25, 5)).as("d25"),
    timestamp_micros(col("id") * 86400000123L).as("ltz"),
    timestamp_micros(col("id") * 1000L).cast(TimestampNTZType).as("ntz"),
    date_from_unix_date(col("id").cast("int")).as("day"),
    when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("k"), col("id"))).as("s"),
    (col("id") / 3.0).as("x"),
    (col("id") % 2 === 0).as("b"),
    array(col("i"), lit(1)).as("arr"),
    col("id").as("fid", fieldId))

  private def distributed: DataFrame = typed(spark.range(0, 1000, 1, 3).toDF())

  private def local(n: Int): DataFrame = {
    val rows = distributed.limit(n).collect().toSeq
    spark.createDataFrame(rows.asJava, distributed.schema)
  }

  private def assertSameFooters(df: DataFrame): Unit = {
    val ref = sparkFiles(df).map(footer)
    val got = engineFiles(df).map(footer)
    assert(got.size === ref.size, "file count")
    got.zip(ref).foreach { case (g, r) =>
      assert(g.schema === r.schema)
      assert(g.kv === r.kv)
      assert(g.createdBy === r.createdBy)
      assert(g.codecs === r.codecs)
      assert(g.rows === r.rows)
    }
  }

  test("a batch written in tasks has the footers df.write.parquet gives it") {
    val ref = footer(sparkFiles(distributed).head)
    assert(ref.schema.contains("required int64 id"), ref.schema)
    assert(ref.schema.contains("fid = 7"), ref.schema)
    assert(ref.schema.contains("TIMESTAMP(MICROS,true)") &&
      ref.schema.contains("TIMESTAMP(MICROS,false)"), ref.schema)
    assertSameFooters(distributed)
    withConf("spark.sql.parquet.compression.codec" -> "zstd") {
      assert(footer(engineFiles(distributed).head).codecs === Set("ZSTD"))
      assertSameFooters(distributed)
    }
  }

  test("a driver-resident batch has the same footers and LocalTableScanExec's slices") {
    val df = local(10)
    assert(df.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assertSameFooters(df)
    withConf("spark.sql.parquet.compression.codec" -> "gzip") { assertSameFooters(df) }
    // row placement: file i holds exactly the rows of slice i
    for (n <- Seq(10, 2, 1)) {
      val d = local(n)
      val ref = sparkFiles(d).map(ids)
      assert(engineFiles(d).map(ids) === ref)
      assert(ref.size === math.min(n, spark.sparkContext.defaultParallelism))
    }
  }

  test("spark.sql.files.maxRecordsPerFile rolls files as Spark's writer does") {
    withConf("spark.sql.files.maxRecordsPerFile" -> "300") {
      val d = typed(spark.range(0, 1000, 1, 2).toDF())
      val ref = sparkFiles(d)
      assert(ref.map(footer(_).rows) === Seq(300L, 200L, 300L, 200L))
      val got = engineFiles(d)
      assert(got.map(ids) === ref.map(ids))
      assertSameFooters(d)
      val l = local(10)
      withConf("spark.sql.files.maxRecordsPerFile" -> "2") {
        assert(engineFiles(l).map(ids) === sparkFiles(l).map(ids))
      }
    }
  }

  test("columns whose names hold a dot or a backtick are written under those names") {
    val df = spark.range(0, 5, 1, 1).select(col("id").as("a.b"), (col("id") * 2).as("c`d"))
    val files = engineFiles(df)
    val back = spark.read.parquet(files: _*)
    assert(back.columns.toSeq === Seq("a.b", "c`d"))
    assert(back.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      (0L until 5L).map(i => (i, 2 * i)).toSet)
  }

  test("an empty batch commits a version with no files") {
    val root = "file:" + tmp("eng") + "/t"
    val empty = spark.createDataFrame(java.util.List.of[Row](), distributed.schema)
    val v = Snapshots.commit(empty, root)
    assert(Snapshots.manifest(spark, root, v).files.isEmpty)
    val back = Snapshots.read(spark, root, v)
    assert(back.count() === 0L)
    assert(back.schema.fieldNames.toSeq === distributed.schema.fieldNames.toSeq)
  }

  test("a batch with no rows publishes under bloomCols: an empty commit and an emptying delete") {
    val root = "file:" + tmp("eng") + "/t"
    val schema = StructType(Seq(StructField("doc", StringType), StructField("n", LongType)))
    val v1 = Snapshots.commit(spark.createDataFrame(java.util.List.of[Row](), schema), root,
      bloomCols = Seq("doc"))
    assert(Snapshots.manifest(spark, root, v1).files.isEmpty)
    // one file, then a keyed copy-on-write delete of every row it holds:
    // the rewrite of the touched file has no survivors
    val docs = spark.range(0, 50, 1, 1).select(format_string("doc%03d", col("id")).as("doc"),
      col("id").as("n"))
    val v2 = Snapshots.commit(docs, root, append = true, bloomCols = Seq("doc"))
    assert(Snapshots.manifest(spark, root, v2).files.size === 1)
    val v3 = Snapshots.delete(docs.select("doc"), root, "doc", bloomCols = Seq("doc"))
    assert(v3 === v2 + 1)
    assert(Snapshots.manifest(spark, root, v3).files.isEmpty)
    assert(Snapshots.read(spark, root).count() === 0L)
  }

  test("the manifest records the writer's per-file row counts and the files' sizes") {
    val root = "file:" + tmp("eng") + "/t"
    withConf("spark.sql.files.maxRecordsPerFile" -> "300") {
      Snapshots.commit(spark.range(0, 1000, 1, 2).toDF(), root)
    }
    val m = Snapshots.manifest(spark, root, Snapshots.headVersion(spark, root))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = m.files.map { u =>
      val p = new Path(u)
      p.getName -> (spark.read.parquet(u).count(), fs.getFileStatus(p).getLen)
    }.toMap
    assert(m.rows.map(r => r.file -> (r.n, r.bytes)).toMap === onDisk)
    assert(m.rows.map(_.n).sum === 1000L)
  }
}
