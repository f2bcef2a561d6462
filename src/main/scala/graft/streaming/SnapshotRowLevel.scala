package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.engine.Snapshots

/** GROUP-BASED (copy-on-write) row-level operations — what turns SQL
  * `UPDATE`, `MERGE INTO`, and rewriting `DELETE` into engine commits on
  * snapshot tables:
  * {{{
  *   UPDATE graft.`/lake/t` SET v = v + 1 WHERE k < 10
  *   MERGE INTO graft.`/lake/t` t USING src s ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  * }}}
  * Spark's rewrite rules plan a [[Scan]] over the CANDIDATE GROUPS (for
  * this engine a group = one data file), recompute every surviving row of
  * those groups (updated where matched, copied verbatim otherwise, plus
  * MERGE inserts), and hand the result to this operation's [[Write]] —
  * whose commit atomically swaps the scanned files for the rewritten
  * ones ([[Snapshots.replaceFiles]]).
  *
  * The 100 TB shape lives in the pruning, not the rewrite: the operation
  * condition is pushed into the scan as a static filter (stats/bloom file
  * pruning) AND as a runtime group filter
  * ([[SnapshotScan.filterAttributes]] — e.g. a MERGE's source keys land
  * as an IN-set that re-prunes files at execution), so a point-ish UPDATE
  * rewrites the files its keys touch, never the table. The scan NEVER
  * drops rows of surviving files (pushed filters prune files only; the
  * full condition re-evaluates inside Spark's rewrite projection) — the
  * group contract that makes copy-on-write sound.
  *
  * Consistency: the operation pins the head version at creation; the
  * scan reads exactly that version and the commit fences on it
  * (`requireHead`), so a concurrent commit aborts this operation loudly
  * instead of being clobbered. */
private[streaming] class SnapshotRowLevelOperation(
    root: String,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  /** The version this whole operation reads and replaces — scan and
    * commit must agree or rows written since the scan would vanish. */
  private[streaming] val pinnedHead: Long =
    Snapshots.headVersion(SparkSession.active, root)

  /** Files the row-level scan finally planned (post runtime filtering) —
    * exactly the set the commit retires. Null until the scan plans. */
  @volatile private[streaming] var scannedFiles: Seq[String] = null

  override def command(): RowLevelOperation.Command = cmd

  /** `_file` through the rewrite plan: funds Spark's RUNTIME GROUP
    * FILTERING — the condition's matching files compute as a dynamic
    * subquery and land back on the main scan as an `In(_file, ...)`
    * runtime filter, so an UPDATE/MERGE whose condition no static index
    * mines still rewrites only the files that hold matching rows. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(SnapshotSource.FileCol))

  /** Both the rewrite's MAIN scan and (later) the group-filter
    * subquery's scan build through this operation. Only the FIRST build
    * — the main scan, whose final planned set is what the commit must
    * replace — binds the scanned-files hook; the subquery scan's
    * condition-pushed subset must never masquerade as it. */
  private val boundMain = new java.util.concurrent.atomic.AtomicBoolean(false)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(pinnedHead > 0, s"no snapshot committed at $root yet — nothing to $cmd")
    val merged = new CaseInsensitiveStringMap((options.asScala ++
      Map("root" -> root, "version" -> pinnedHead.toString)).asJava)
    val op = this
    new SnapshotScanBuilder(tableSchema, root, merged) {
      // a rewrite's scan must keep residual-complete semantics: the CoW
      // commit replaces exactly the files whose EVERY row it read back,
      // so the exact-filter claim (which removes Spark's re-evaluation
      // and invites limit/top-n capping) never applies here
      override protected def allowExactFilterClaim: Boolean = false
      override def build(): Scan = super.build() match {
        case sc: SnapshotScan =>
          if (boundMain.compareAndSet(false, true))
            sc.onPlanned = files => op.scannedFiles = files
          sc
        case other => sys.error(
          s"row-level scan over $root built ${other.getClass.getName} — " +
            "aggregate pushdown must never claim a rewrite's scan")
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new SnapshotReplaceWrite(
        root, info.schema(), SnapshotRowLevelOperation.this)
    }

  override def description(): String = s"graft-row-level-$cmd $root"
}

/** The copy-on-write [[Write]]: executors stage the rewritten rows as
  * parquet under an unreferenced commit directory; the driver commit
  * swaps scanned→staged atomically. Rows arrive under LOGICAL names and
  * are stored under the table's PHYSICAL names (column mapping). */
private[streaming] class SnapshotReplaceWrite(
    root: String,
    rowSchema: StructType,
    op: SnapshotRowLevelOperation)
  extends Write with BatchWrite {

  private val stagingDir = Snapshots.newStagingDir(root)

  override def toBatch: BatchWrite = this
  override def description(): String = s"graft-replace-data $root"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val phys = SnapshotParquetDataWriter.physSchema(root, rowSchema)
    SnapshotParquetWriterFactory(stagingDir, phys.json,
      SnapshotParquetDataWriter.factoryConf(spark, root, phys, blooms = true))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val newFiles = messages.collect {
      case m: SnapshotFileCommit if m.path != null => m.path
    }.toSeq.sorted
    val removed = Option(op.scannedFiles).getOrElse(sys.error(
      s"replace-data write on $root committed before its scan planned — " +
        "cannot determine the replaced files"))
    if (removed.isEmpty && newFiles.isEmpty) return // nothing matched: no-op
    Snapshots.replaceFiles(spark, root, op.pinnedHead, removed.toSet, newFiles)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new Path(stagingDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(p, true) // staged files are unreferenced — plain cleanup
  }
}

private[streaming] case class SnapshotFileCommit(path: String, rows: Long)
  extends WriterCommitMessage

/** Native STREAMING write — `df.writeStream.format(...).option("root",
  * root).start()` / `.toTable("graft.\`root\`")` without the foreachBatch
  * wrapper: executors stage each epoch's rows as parquet, and the epoch
  * commit publishes them as ONE append tagged `stream-<queryId>-e<epoch>`
  * ([[Snapshots.appendFiles]]). The tag is the exactly-once mechanism: a
  * replayed epoch (restart from checkpoint) finds its tag already
  * retained, deletes its duplicate staged files, and publishes nothing.
  * Appends never introduce columns on this path (additive evolution
  * stays with the batch commit — checked loudly before any data moves);
  * the clustered-ingest path with per-trigger maintenance remains
  * [[SnapshotSink]]. */
private[streaming] class SnapshotStreamingWrite(
    root: String,
    rowSchema: StructType,
    queryId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val stagingDir = Snapshots.newStagingDir(root)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val head = SnapshotSource.surfacedSchema(root)
    if (head.fields.nonEmpty) {
      val unknown = rowSchema.fieldNames.filterNot(head.fieldNames.contains)
      require(unknown.isEmpty,
        s"streaming append to $root introduces column(s) " +
          s"${unknown.mkString(", ")} — evolve the schema with a batch " +
          "commit first (streamed appends never evolve schemas silently)")
    }
    val phys = SnapshotParquetDataWriter.physSchema(root, rowSchema)
    SnapshotStreamingWriterFactory(stagingDir, phys.json,
      SnapshotParquetDataWriter.factoryConf(spark, root, phys, blooms = true))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val newFiles = messages.collect {
      case m: SnapshotFileCommit if m.path != null => m.path
    }.toSeq.sorted
    if (newFiles.isEmpty) return // an empty trigger mints no version
    Snapshots.appendFiles(SparkSession.active, root, newFiles,
      tag = s"stream-$queryId-e$epochId", schemaIfNew = rowSchema)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val f = new Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.foreach {
      case m: SnapshotFileCommit if m.path != null =>
        f.delete(new Path(m.path), false)
      case _ => ()
    }
  }
}

/** Native STREAMING KEYED UPSERT — `df.writeStream.format(...)
  * .option("root", root).option("upsertKey", "k")`: each epoch applies as
  * ONE keyed merge commit ([[Snapshots.merge]] — same-key rows replace,
  * new keys append, untouched files carry by reference), so a CDC feed or
  * an update-mode streaming aggregate maintains a keyed table natively,
  * no foreachBatch wrapper. Exactly-once rides the same epoch tag as the
  * append path: a replayed epoch finds `stream-<queryId>-e<epoch>`
  * retained, deletes its duplicate staged input, and applies nothing.
  * The executors stage the epoch's rows as parquet exactly like the
  * append path; only the COMMIT differs — it reads the staged rows back
  * (one scan of the epoch, never the table) and routes them through the
  * stats-pruned merge. Specialized CDC shapes (SCD2 history, incremental
  * view folds) remain [[ScdSink]] / [[IncrementalView]]. */
private[streaming] class SnapshotUpsertStreamingWrite(
    root: String,
    rowSchema: StructType,
    queryId: String,
    key: String,
    statsCols: Seq[String],
    orderCol: Option[String] = None)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val stagingDir = Snapshots.newStagingDir(root)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val spark = SparkSession.active
    require(rowSchema.fieldNames.contains(key),
      s"upsertKey '$key' is not in the streamed schema " +
        s"(${rowSchema.fieldNames.mkString(", ")})")
    orderCol.foreach(o => require(rowSchema.fieldNames.contains(o),
      s"upsertOrder '$o' is not in the streamed schema " +
        s"(${rowSchema.fieldNames.mkString(", ")})"))
    val head = SnapshotSource.surfacedSchema(root)
    if (head.fields.nonEmpty) {
      val unknown = rowSchema.fieldNames.filterNot(head.fieldNames.contains)
      require(unknown.isEmpty,
        s"streaming upsert to $root introduces column(s) " +
          s"${unknown.mkString(", ")} — evolve the schema with a batch " +
          "commit first (streamed writes never evolve schemas silently)")
    }
    val phys = SnapshotParquetDataWriter.physSchema(root, rowSchema)
    SnapshotStreamingWriterFactory(stagingDir, phys.json,
      SnapshotParquetDataWriter.factoryConf(spark, root, phys, blooms = false))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val newFiles = messages.collect {
      case m: SnapshotFileCommit if m.path != null => m.path
    }.toSeq.sorted
    val fsys = new Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (newFiles.isEmpty) { // an empty trigger applies nothing — and must
      fsys.delete(new Path(stagingDir), true) // not strand its staging dir
      return
    }
    val tag = s"stream-$queryId-e$epochId"
    if (Snapshots.historyMeta(spark, root).exists(_.tag == tag)) {
      fsys.delete(new Path(stagingDir), true) // replayed epoch: no-op
      return
    }
    // read the staged epoch back under LOGICAL names and merge it
    val phys = SnapshotSource.physicalNames(root)
    val dataFields = rowSchema.fields.filterNot(_.name == SnapshotSource.FileCol)
    val physSchema = StructType(dataFields.map(f =>
      f.copy(name = phys.getOrElse(f.name, f.name))))
    val stagedRaw = spark.read.schema(physSchema).parquet(newFiles: _*)
      .select(dataFields.toSeq.map(f =>
        org.apache.spark.sql.functions.col(phys.getOrElse(f.name, f.name))
          .as(f.name)): _*)
    // Intra-epoch duplicate keys: [[Snapshots.merge]] replaces head rows
    // but appends EVERY batch row, so a CDC feed that batches two events
    // for one key in a single trigger would land both and silently break
    // the keyed-table invariant. With an `upsertOrder` column the epoch
    // folds LAST-Wins per key (greatest order value; a tie on the max is
    // ambiguous and refuses); without one, key-unique epochs are REQUIRED
    // and validated here — one cheap aggregation of the staged epoch
    // (O(epoch), never the table) instead of a silent corruption.
    import org.apache.spark.sql.functions.{col, count, lit}
    val staged = orderCol match {
      case Some(o) =>
        val top = stagedRaw
          .withColumn("__rk", org.apache.spark.sql.functions.rank().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(key)).orderBy(col(o).desc_nulls_last)))
          .filter(col("__rk") === 1).drop("__rk")
        val ambiguous = top.groupBy(col(key)).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1).limit(1).collect()
        require(ambiguous.isEmpty,
          s"streaming upsert epoch $epochId into $root holds rows for key " +
            s"${ambiguous.headOption.map(_.get(0)).orNull} that TIE on " +
            s"upsertOrder '$o' — last-wins is ambiguous; make the order " +
            "column unique per key within a trigger")
        top
      case None =>
        val dup = stagedRaw.groupBy(col(key)).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"streaming upsert epoch $epochId into $root carries " +
            s"${dup.headOption.map(r => s"duplicate key ${r.get(0)} (x${r.get(1)})").getOrElse("")} " +
            "within one trigger — set .option(\"upsertOrder\", <col>) for " +
            "last-wins folding, or deduplicate the feed upstream")
        stagedRaw
    }
    // the merge fences on the head it read — a concurrent commit (another
    // writer, maintenance) aborts it loudly; recompute-and-retry is safe
    // here because the tag publishes only with the merge itself. The FIRST
    // epoch onto a not-yet-existing table has no base to merge into: it
    // commits as the table's initial content (same tag idempotency).
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      try {
        if (Snapshots.headVersion(spark, root) == 0)
          Snapshots.commitIfAbsent(staged, root, tag = tag, append = true,
            statsCols = statsCols)
        else Snapshots.merge(staged, root, key, statsCols = statsCols, tag = tag)
        done = true
      } catch {
        case e: Snapshots.ConcurrentCommitException if attempts < 5 => ()
        case e: Snapshots.ConcurrentCommitException =>
          throw new IllegalStateException(
            s"streaming upsert epoch $epochId into $root lost $attempts head " +
              "races — a concurrent writer is churning this table. Cause: " +
              e.getMessage, e)
      }
    }
    // the merge wrote its own files; the staged epoch input is now debris
    fsys.delete(new Path(stagingDir), true)
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val f = new Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // unlike the APPEND path (whose staging dir becomes live table data on
    // commit), upsert-staged input never outlives the epoch: the whole dir
    // is safe to drop, so long-running streams accumulate no debris
    f.delete(new Path(stagingDir), true)
    ()
  }
}

private[streaming] case class SnapshotStreamingWriterFactory(
    stagingDir: String,
    physSchemaJson: String,
    confEntries: Array[(String, String)])
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new SnapshotParquetDataWriter(
      f"$stagingDir/part-e$epochId-$partitionId%05d-$taskId.parquet",
      physSchemaJson, confEntries)
}

/** Serialized to executors: staging dir + physical-name schema (json) +
  * the flattened writer conf ([[SnapshotParquetDataWriter.factoryConf]]). */
private[streaming] case class SnapshotParquetWriterFactory(
    stagingDir: String,
    physSchemaJson: String,
    confEntries: Array[(String, String)])
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SnapshotParquetDataWriter(
      f"$stagingDir/part-$partitionId%05d-$taskId.parquet",
      physSchemaJson, confEntries)
}

private[graft] object SnapshotParquetDataWriter {

  /** The table's PHYSICAL schema for `rowSchema`'s columns (column
    * mapping applied; the `_file` metadata column — provenance plumbing,
    * never persisted data — stripped). */
  def physSchema(root: String, rowSchema: StructType): StructType = {
    val phys = SnapshotSource.physicalNames(root)
    StructType(rowSchema.fields
      .filterNot(_.name == SnapshotSource.FileCol)
      .map(f => StructField(phys.getOrElse(f.name, f.name), f.dataType, f.nullable)))
  }

  /** [[writerConf]] over `phys`, flattened for a DSv2 write factory. With
    * `blooms`, the table's declared bloom-indexed PHYSICAL columns — read
    * O(1) from the head record ([[Snapshots.ManifestMeta.indexed]]) — get
    * parquet-internal bloom filters, so files written by the DSv2 paths
    * (streaming epochs, CoW rewrites) prune row groups on string points
    * exactly like batch-committed ones. A head without the declaration
    * simply writes without them (pruning weakens, never rows). */
  def factoryConf(spark: SparkSession, root: String, phys: StructType,
      blooms: Boolean): Array[(String, String)] = {
    val headV = if (blooms) Snapshots.headVersion(spark, root) else 0L
    val bloomPhys =
      if (headV == 0) Seq.empty[String]
      else Snapshots.manifestMeta(spark, root, headV).indexed
        .map(_._2).getOrElse(Seq.empty)
    entries(writerConf(spark, phys, bloomPhys))
  }

  /** The Hadoop configuration `df.write.parquet` builds for `schema`:
    * Spark's own [[ParquetFileFormat]]`.prepareWrite` over the session's
    * Hadoop conf (codec, write support, schema, legacy-format, field-id
    * and variant flags, no summary files), plus three changes:
    *  - LTZ timestamps are PINNED to INT64 TIMESTAMP(MICROS), never legacy
    *    INT96, whatever the session sets: footer row-group stats and the
    *    footer-mining stats pass are blind to INT96 (no usable min/max), so
    *    INT96 files would forfeit row-group pruning, top-n thresholds and
    *    footer-mined file stats;
    *  - the rebase modes and case sensitivity, which the write support
    *    reads RAW where no session sets them, are resolved here through
    *    the session conf (which applies the defaults);
    *  - `bloomCols` (PHYSICAL names) get parquet-internal bloom filters
    *    (adaptive sizing): the manifest's FileBloom prunes whole FILES,
    *    these let the reader's row-group pushdown skip ROW GROUPS on
    *    point predicates whose stats ranges cannot discriminate. */
  def writerConf(spark: SparkSession, schema: StructType,
      bloomCols: Seq[String] = Seq.empty): Configuration = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val conf = job.getConfiguration
    Seq(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key -> "CORRECTED",
        SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key -> "CORRECTED",
        SQLConf.CASE_SENSITIVE.key -> "false")
      .foreach { case (k, dflt) => conf.set(k, spark.conf.get(k, dflt)) }
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    if (bloomCols.nonEmpty) conf.set("parquet.bloom.filter.adaptive.enabled", "true")
    bloomCols.foreach(c => conf.set(s"parquet.bloom.filter.enabled#$c", "true"))
    conf
  }

  /** `conf` as key/value pairs, to ship to tasks ([[confOf]] rebuilds it). */
  def entries(conf: Configuration): Array[(String, String)] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray

  def confOf(entries: Array[(String, String)]): Configuration = {
    val conf = new Configuration(false)
    entries.foreach { case (k, v) => conf.set(k, v) }
    conf
  }
}

/** The engine's one parquet data-file writer: Spark's own
  * [[ParquetOutputWriter]] over the configuration `df.write.parquet` builds
  * ([[SnapshotParquetDataWriter.writerConf]]), so the files it writes are
  * indistinguishable from the DataFrame writer's (types, encodings, codec,
  * key-value metadata) — but it writes straight to the final name it is
  * given: no output committer, no attempt directory, no rename. It runs
  * wherever the rows are: inside tasks (the DSv2 writes, and batch commits
  * over distributed plans) or on driver threads (a driver-resident batch,
  * [[graft.engine.BatchFiles]]). Opens on the first row: an empty writer
  * leaves no file. `conf` is called once, at that open. */
private[graft] class SnapshotParquetDataWriter(
    path: String,
    schema: StructType,
    conf: () => Configuration)
  extends DataWriter[InternalRow] {

  def this(path: String, physSchemaJson: String, confEntries: Array[(String, String)]) =
    this(path, DataType.fromJson(physSchemaJson).asInstanceOf[StructType],
      () => SnapshotParquetDataWriter.confOf(confEntries))

  private var writer: ParquetOutputWriter = null
  private var rows = 0L
  // Spark's group-based rewrite prefixes every row with an INT
  // `__row_operation` column (and, having no metadata projection to
  // trigger its own stripping task, hands rows to this writer RAW):
  // rows marked WRITE/WRITE_WITH_METADATA persist, anything else is a
  // row the rewrite decided to drop (e.g. MERGE WHEN MATCHED DELETE)
  private lazy val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
    schema, 1 to schema.length)

  override def write(record: InternalRow): Unit = {
    import org.apache.spark.sql.catalyst.util.RowDeltaUtils
    val out =
      if (record.numFields == schema.length) record // already bare
      else {
        require(record.numFields == schema.length + 1,
          s"row-level write row has ${record.numFields} fields for a " +
            s"${schema.length}-column schema — unexpected rewrite layout")
        val op = record.getInt(0)
        if (op != RowDeltaUtils.WRITE_OPERATION &&
            op != RowDeltaUtils.WRITE_WITH_METADATA_OPERATION) return
        proj.project(record)
        proj
      }
    // a per-writer JobConf copy, as Spark's task setup makes one: the
    // caller's conf may be shared by concurrent writers
    if (writer == null) writer = new ParquetOutputWriter(path,
      new TaskAttemptContextImpl(new JobConf(conf()), new TaskAttemptID()))
    writer.write(out)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    SnapshotFileCommit(if (writer == null) null else path, rows)
  }

  override def abort(): Unit =
    if (writer != null) {
      try writer.close() finally {
        val p = new Path(path)
        p.getFileSystem(new Configuration()).delete(p, false)
      }
    }

  override def close(): Unit = ()
}
