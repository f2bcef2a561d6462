package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse path re-expressed on the Spark session catalog
  * (reference: pandas_aws/redshift.py — schema inference → CREATE TABLE →
  * S3-staged COPY → delete+insert upsert → SQL back to DataFrame).
  *
  * The reference's three network boundaries (driver→S3 staging, driver→
  * Redshift leader for DDL, Redshift compute→S3 for COPY; SURVEY.md §3.2)
  * collapse into one Catalyst-planned distributed write: `COPY`'s
  * cluster-parallel parse-and-load IS Spark's parallel scan + insert, so no
  * staging roundtrip exists at all. Physical layout hints map as:
  *
  *   - DISTKEY(col)  → `repartition(col)` before write (co-locates keys, the
  *     same shuffle-avoidance Redshift gets from key distribution)
  *   - DISTSTYLE EVEN → round-robin `repartition(n)`
  *   - DISTSTYLE ALL  → small table; consumers should `broadcast()` it
  *   - SORTKEY(cols) → `sortWithinPartitions` (parquet min/max page stats
  *     then give the zone-map skipping effect on read)
  *
  * Upsert is delete+insert with last-writer-wins on the comparison key
  * (pandas_aws/redshift.py:348-384) = `target ANTI-JOIN updates ∪ updates`,
  * staged to a new table then swapped by rename — the scalable analogue of
  * the reference's staging-table transaction (weaker atomicity, documented:
  * SURVEY.md §7.4.3).
  */
object Warehouse {

  sealed trait DistStyle
  object DistStyle {
    case object Even extends DistStyle
    case object All extends DistStyle
    case object Auto extends DistStyle
    final case class Key(column: String) extends DistStyle
  }

  /** @param buckets when > 0, the table is written with `bucketBy(buckets,
    *   distkey)` (+ `sortBy(sortKeys)`) — the catalog-table analogue of
    *   DISTKEY/SORTKEY: joins and aggregations on the bucket key then plan
    *   WITHOUT a shuffle on the bucketed side, which is the co-located-join
    *   property Redshift gets from key distribution.
    * @param partitionKeys Hive-style directory partitioning for the catalog
    *   table (`partitionBy`) — low-cardinality layout keys (date/lang/source)
    *   so predicates on them prune whole directories at plan time
    *   (`PartitionFilters`); composes with bucketBy (partition dirs outside,
    *   bucket files inside). A 100 TB corpus is always partitioned this way —
    *   without it every query lists and reads everything. */
  final case class Layout(
      distStyle: DistStyle = DistStyle.Auto,
      sortKeys: Seq[String] = Nil,
      buckets: Int = 0,
      partitionKeys: Seq[String] = Nil)

  /** Apply physical layout hints to a DataFrame before it is written. */
  def applyLayout(df: DataFrame, layout: Layout, parts: Int = 0): DataFrame = {
    val dist = layout.distStyle match {
      case DistStyle.Key(c)             => if (parts > 0) df.repartition(parts, col(c)) else df.repartition(col(c))
      case DistStyle.Even if parts > 0  => df.repartition(parts)
      case _                            => df
    }
    if (layout.sortKeys.nonEmpty) dist.sortWithinPartitions(layout.sortKeys.map(col): _*)
    else dist
  }

  /** The warehouse type names Spark's SQL parser rejects, spelled as it
    * accepts them. */
  private val SparkTypeNames = Map("DOUBLE PRECISION" -> "DOUBLE", "VARBYTE" -> "BINARY")

  /** CREATE TABLE IF NOT EXISTS from the frame's schema (DDL path). Columns
    * whose warehouse type Spark cannot parse (`DOUBLE PRECISION`, `VARBYTE`)
    * are declared with Spark's name for it; the caller's `columnTypes` win. */
  def createTable(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      columnTypes: Map[String, String] = Map.empty,
      columnConstraints: Map[String, String] = Map.empty,
      includeDateInsert: Boolean = false): Unit = {
    EngineFs.install(spark.sparkContext)
    val parsable = df.schema.fields.flatMap(f =>
      SparkTypeNames.get(SchemaMap.toSqlType(f.dataType)).map(f.name -> _)).toMap
    spark.sql(SchemaMap.createTableDdl(df, table, parsable ++ columnTypes, columnConstraints,
      includeDateInsert))
  }

  /** Bulk load (the reference's put_df→COPY pipeline, §3.2): normalize
    * columns, optionally create, apply layout, append. `dateInsert` makes the
    * reference's GETDATE() audit column injectable/deterministic. */
  def upload(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      layout: Layout = Layout(),
      parts: Int = 0,
      dropFirst: Boolean = false,
      dateInsert: Option[java.sql.Timestamp] = None): Unit = {
    EngineFs.install(spark.sparkContext)
    val normed = SchemaMap.normalizeColumns(df)
    val audited = dateInsert.fold(normed)(t => normed.withColumn("date_insert", lit(t)))
    if (dropFirst) spark.sql(s"DROP TABLE IF EXISTS ${SchemaMap.ident(table)}")
    val pks = layout.partitionKeys.map(SchemaMap.normalizeName)
    (layout.distStyle, layout.buckets, pks) match {
      case (DistStyle.Key(k), b, _) if b > 0 =>
        // bucketed catalog table: layout is part of the table definition,
        // so it replaces (not appends into) any generated plain DDL;
        // partition dirs (if any) wrap the bucket files
        spark.sql(s"DROP TABLE IF EXISTS ${SchemaMap.ident(table)}")
        val w0 = audited.write.mode(SaveMode.Overwrite).bucketBy(b, k)
        val w1 = if (pks.nonEmpty) w0.partitionBy(pks: _*) else w0
        (if (layout.sortKeys.nonEmpty) w1.sortBy(layout.sortKeys.head, layout.sortKeys.tail: _*) else w1)
          .saveAsTable(table)
      case (_, _, p) if p.nonEmpty =>
        // partitioned catalog table: pre-shuffle on the partition keys so a
        // directory gets one file per owning task, not one per (task × key)
        spark.sql(s"DROP TABLE IF EXISTS ${SchemaMap.ident(table)}")
        audited.repartition(p.map(col): _*)
          .write.mode(SaveMode.Overwrite).partitionBy(p: _*).saveAsTable(table)
      case _ =>
        createTable(spark, audited, table)
        applyLayout(audited, layout, parts).write.mode(SaveMode.Append).insertInto(table)
    }
  }

  /** Delete+insert upsert, last-writer-wins on `keys`
    * (pandas_aws/redshift.py:386-416). Target must already exist, as in the
    * reference. New state is staged to `stage_<target>` then swapped via
    * rename — no data is rewritten twice and nothing materializes on the
    * driver, so the pattern holds at any scale. */
  def upsert(
      spark: SparkSession,
      updates: DataFrame,
      target: String,
      keys: Seq[String]): Unit = {
    EngineFs.install(spark.sparkContext)
    require(keys.nonEmpty, "comparison_key must be non-empty")
    val tgt = SchemaMap.ident(target)
    val normed = SchemaMap.normalizeColumns(updates)
    val current = spark.table(tgt)
    val newState = current.join(normed, keys, "left_anti").unionByName(normed)
    // stage in the TARGET's database: a db-qualified target staged in the
    // current database would drop the target and then fail the cross-db
    // RENAME, destroying the table
    val tgtParts = tgt.split('.')
    val stage = (tgtParts.dropRight(1) :+ s"stage_${tgtParts.last}").mkString(".")
    spark.sql(s"DROP TABLE IF EXISTS $stage")
    newState.write.saveAsTable(stage)
    spark.sql(s"DROP TABLE $tgt")
    spark.sql(s"ALTER TABLE $stage RENAME TO $tgt")
  }

  /** Pure-DataFrame upsert (no catalog) — same semantics, composable. */
  def upsertDf(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    target.join(updates, keys, "left_anti").unionByName(updates)

  /** Query path (reference RedshiftClient.get_df, pandas_aws/redshift.py:417-448):
    * SQL in, DataFrame out, optional column renames. The result stays
    * distributed — the reference's chunked driver-side fetch is obsolete. */
  def query(spark: SparkSession, sql: String, renames: Map[String, String] = Map.empty): DataFrame = {
    val df = spark.sql(sql)
    renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
  }

  /** Stage-table lifecycle (reference `_create_temp_redshift_table_from_target`,
    * pandas_aws/redshift.py:336-346): empty LIKE-shaped temp view minus the
    * audit column, dropped after `f`. */
  def withStage[A](spark: SparkSession, target: String)(f: String => A): A = {
    val stage = s"stage_${target.replace('.', '_')}_view"
    val shaped = spark.table(SchemaMap.ident(target)).limit(0)
    val noAudit = if (shaped.columns.contains("date_insert")) shaped.drop("date_insert") else shaped
    noAudit.createOrReplaceTempView(stage)
    try f(stage)
    finally spark.catalog.dropTempView(stage)
  }
}
