package graft

import org.apache.spark.sql.functions._
import graft.engine.{SchemaMap, Warehouse}
import graft.engine.Warehouse.{DistStyle, Layout}

/** Warehouse path tests — the module the reference left untested
  * (tests/test_redshift.py defines only a base class, SURVEY.md §5.7). */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  def fixture = Seq((3L, "a"), (2L, "b"), (1L, "c"), (0L, "d")).toDF("col_1", "col_2")

  test("upload creates the table from inferred schema and loads rows") {
    spark.sql("DROP TABLE IF EXISTS wh_t1")
    Warehouse.upload(spark, fixture, "wh_t1")
    assert(spark.table("wh_t1").count() == 4)
    assert(spark.table("wh_t1").schema.fieldNames.toSeq == Seq("col_1", "col_2"))
    // append semantics on second load, like repeated COPY
    Warehouse.upload(spark, fixture, "wh_t1")
    assert(spark.table("wh_t1").count() == 8)
    spark.sql("DROP TABLE wh_t1")
  }

  test("upload with dropFirst replaces the table (DROP ... CASCADE analogue)") {
    spark.sql("DROP TABLE IF EXISTS wh_t2")
    Warehouse.upload(spark, fixture, "wh_t2")
    Warehouse.upload(spark, fixture.limit(1), "wh_t2", dropFirst = true)
    assert(spark.table("wh_t2").count() == 1)
    spark.sql("DROP TABLE wh_t2")
  }

  test("upload normalizes column names and rejects reserved words") {
    spark.sql("DROP TABLE IF EXISTS wh_t3")
    Warehouse.upload(spark, fixture.withColumnRenamed("col_1", "My Col"), "wh_t3")
    assert(spark.table("wh_t3").schema.fieldNames.contains("my_col"))
    spark.sql("DROP TABLE wh_t3")
    intercept[IllegalArgumentException](
      Warehouse.upload(spark, fixture.withColumnRenamed("col_1", "select"), "wh_t4"))
  }

  test("injectable date_insert audit column (deterministic GETDATE analogue)") {
    spark.sql("DROP TABLE IF EXISTS wh_t5")
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 12:00:00")
    Warehouse.upload(spark, fixture, "wh_t5", dateInsert = Some(t0))
    val distinct = spark.table("wh_t5").select("date_insert").distinct().collect()
    assert(distinct.map(_.getTimestamp(0)).toSeq == Seq(t0))
    spark.sql("DROP TABLE wh_t5")
  }

  test("upsert: delete+insert last-writer-wins on comparison key") {
    spark.sql("DROP TABLE IF EXISTS wh_t6")
    Warehouse.upload(spark, fixture, "wh_t6")
    val updates = Seq((2L, "B2"), (9L, "new")).toDF("col_1", "col_2")
    Warehouse.upsert(spark, updates, "wh_t6", Seq("col_1"))
    val got = spark.table("wh_t6").as[(Long, String)].collect().toMap
    assert(got == Map(3L -> "a", 2L -> "B2", 1L -> "c", 0L -> "d", 9L -> "new"))
    // target must pre-exist, as in the reference
    intercept[Exception](Warehouse.upsert(spark, updates, "wh_missing", Seq("col_1")))
    intercept[IllegalArgumentException](Warehouse.upsert(spark, updates, "wh_t6", Nil))
    spark.sql("DROP TABLE wh_t6")
  }

  test("unbucketed upload and upsert carry double and binary columns") {
    spark.sql("DROP TABLE IF EXISTS wh_t8")
    val rows = Seq((1L, 0.5, Array[Byte](1)), (2L, -2.25, Array[Byte](2, 3)))
      .toDF("k", "price", "raw")
    Warehouse.upload(spark, rows, "wh_t8")
    val t = spark.table("wh_t8")
    assert(t.schema.map(f => f.name -> f.dataType.simpleString) ===
      Seq("k" -> "bigint", "price" -> "double", "raw" -> "binary"))
    val updates = Seq((2L, 7.75, Array[Byte](9)), (3L, 1e-3, Array[Byte]()))
      .toDF("k", "price", "raw")
    Warehouse.upsert(spark, updates, "wh_t8", Seq("k"))
    val got = spark.table("wh_t8").as[(Long, Double, Array[Byte])].collect()
      .map { case (k, p, r) => (k, p, r.toSeq) }.sortBy(_._1).toSeq
    assert(got === Seq((1L, 0.5, Seq[Byte](1)), (2L, 7.75, Seq[Byte](9)), (3L, 1e-3, Seq[Byte]())))
    spark.sql("DROP TABLE wh_t8")
  }

  test("upsert works on a database-qualified target from another database") {
    spark.sql("CREATE DATABASE IF NOT EXISTS wh_db")
    spark.sql("DROP TABLE IF EXISTS wh_db.t7")
    fixture.write.saveAsTable("wh_db.t7")
    val updates = Seq((2L, "B2"), (9L, "new")).toDF("col_1", "col_2")
    Warehouse.upsert(spark, updates, "wh_db.t7", Seq("col_1"))
    val got = spark.table("wh_db.t7").as[(Long, String)].collect().toMap
    assert(got == Map(3L -> "a", 2L -> "B2", 1L -> "c", 0L -> "d", 9L -> "new"))
    spark.sql("DROP TABLE wh_db.t7")
    spark.sql("DROP DATABASE wh_db")
  }

  test("upsertDf is the pure form of the same semantics") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val updates = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
    val got = Warehouse.upsertDf(target, updates, Seq("k")).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("query runs SQL and applies renames (RedshiftClient.get_df analogue)") {
    fixture.createOrReplaceTempView("wh_v1")
    val got = Warehouse.query(spark,
      "SELECT col_1, count(*) AS n FROM wh_v1 GROUP BY col_1",
      renames = Map("n" -> "cnt"))
    assert(got.columns.toSeq == Seq("col_1", "cnt"))
    assert(got.count() == 4)
  }

  test("withStage creates a LIKE-shaped empty view minus date_insert and drops it") {
    spark.sql("DROP TABLE IF EXISTS wh_t7")
    Warehouse.upload(spark, fixture, "wh_t7",
      dateInsert = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val stageName = Warehouse.withStage(spark, "wh_t7") { stage =>
      val v = spark.table(stage)
      assert(v.columns.toSeq == Seq("col_1", "col_2")) // audit col dropped
      assert(v.count() == 0)
      stage
    }
    assert(!spark.catalog.tableExists(stageName))
    spark.sql("DROP TABLE wh_t7")
  }

  test("applyLayout: DISTKEY partitions by column, SORTKEY sorts within partitions") {
    val df = spark.range(1000).withColumn("k", col("id") % 10)
    val laid = Warehouse.applyLayout(df, Layout(DistStyle.Key("k"), Seq("id")), parts = 4)
    assert(laid.rdd.getNumPartitions == 4)
    // each partition individually sorted by id
    val ok = laid.select("id").rdd.mapPartitions { it =>
      val ids = it.map(_.getLong(0)).toSeq
      Iterator.single(ids == ids.sorted)
    }.collect()
    assert(ok.forall(identity))
    // the DISTKEY property itself: equal keys land in ONE partition
    val split = laid
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .groupBy("k").agg(countDistinct("pid").as("n"))
      .filter(col("n") > 1).count()
    assert(split == 0, "equal DISTKEY values split across partitions")
  }

  test("bucketed upload: joins on the bucket key plan without a shuffle of the table") {
    import spark.implicits._
    val df = spark.range(0, 1000).select(col("id").as("k"), (col("id") % 7).as("v"))
    Warehouse.upload(spark, df, "wh_bucketed",
      layout = Layout(DistStyle.Key("k"), sortKeys = Seq("k"), buckets = 4), dropFirst = true)
    val t = spark.table("wh_bucketed")
    assert(t.count() == 1000)
    // aggregation on the bucket key must not exchange the bucketed table
    val agg = t.groupBy("k").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(k#"),
      s"bucketed table still shuffled on its bucket key:\n$plan")
    spark.sql("DROP TABLE wh_bucketed")
  }

  test("matching bucket layouts co-locate: the fact-fact join plans with zero exchanges") {
    import spark.implicits._
    // the DISTKEY promise at 100 TB: two fact tables sharing (bucket key,
    // bucket count) join with NO shuffle on either side — the layout paid
    // the exchange once at load time, every subsequent join rides it free.
    // Broadcast disabled so the test exercises the co-located path, not a
    // small-table shortcut.
    val a = spark.range(0, 1000).select(col("id").as("k"), (col("id") % 7).as("va"))
    val b = spark.range(0, 1000).select(col("id").as("k"), (col("id") % 11).as("vb"))
    val layout = Layout(DistStyle.Key("k"), sortKeys = Seq("k"), buckets = 4)
    Warehouse.upload(spark, a, "wh_ba", layout = layout, dropFirst = true)
    Warehouse.upload(spark, b, "wh_bb", layout = layout, dropFirst = true)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("wh_ba").join(spark.table("wh_bb"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join still exchanges:\n$plan")
      assert(j.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      spark.sql("DROP TABLE wh_ba")
      spark.sql("DROP TABLE wh_bb")
    }
  }

  test("partitioned upload: catalog table prunes partitions on layout-key predicates") {
    import spark.implicits._
    val df = Seq((1L, "en", 10L), (2L, "fr", 20L), (3L, "en", 30L), (4L, "de", 40L))
      .toDF("id", "lang", "n")
    Warehouse.upload(spark, df, "wh_partitioned",
      layout = Layout(partitionKeys = Seq("lang")))
    val t = spark.table("wh_partitioned")
    assert(t.count() == 4)
    val plan = t.filter(col("lang") === "en").queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(plan).isDefined,
      s"lang predicate not pushed to PartitionFilters:\n$plan")
    assert(t.filter(col("lang") === "en").count() == 2)
    spark.sql("DROP TABLE wh_partitioned")
  }
}
