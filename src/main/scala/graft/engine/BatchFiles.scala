package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{DataType, StructType}

import graft.streaming.SnapshotParquetDataWriter

/** Writes one snapshot batch's data files straight to their final names
  * through [[SnapshotParquetDataWriter]], and reports what it wrote. There
  * is no output committer: no attempt directories, no renames, no
  * `_SUCCESS` marker and no listing afterwards. Nothing references a file
  * until a manifest publishes it, so the manifest is the commit — the way
  * Delta and Iceberg data writers work.
  *
  * A batch's rows arrive as its physical data columns, then one boolean
  * violation flag per CHECK rule, then (for a composite clustering grid)
  * one int cell id per cluster column. Each slice writes the data columns,
  * counts the flags, and starts a new file per grid cell and whenever
  * `spark.sql.files.maxRecordsPerFile` rows are in the current one (Spark's
  * own rolling rule). Files are named `part-<slice %05d>-<uuid>` with
  * `-c<n %03d>` for a slice's later files, then `-g<cell ids>` for a grid
  * cell, then `.parquet`: the slice index stays the bucket id
  * ([[Snapshots.bucketOfFile]]), the cell is recoverable from the name
  * ([[Snapshots.gridOfFile]]), and the uuid is drawn per slice attempt, so
  * a retried task never collides with an earlier attempt's file.
  *
  * A driver-resident batch — its optimized plan is a [[LocalRelation]],
  * the shape of every frame built from driver memory — runs no Spark job:
  * its rows are cut into the slices `LocalTableScanExec` would make
  * (`min(rows, leafNodeDefaultParallelism)` contiguous ranges, so file
  * count and row placement match the task path) and written on a pool of
  * at most one thread per driver core. There is no size cap: the rows
  * already live in driver memory, and the task path would hold them there
  * too (`LocalTableScanExec` parallelizes the same rows, and each slice
  * ships inside its task). Any other plan runs one task per partition.
  */
private[engine] object BatchFiles {

  /** How a batch's rows are laid out; see the object doc. */
  final case class Layout(
      dataDir: String,
      schemaJson: String,
      dataWidth: Int,
      flags: Int,
      gridDims: Int,
      maxRecordsPerFile: Long)

  /** What a batch wrote: each file with its row count, in slice order,
    * and per CHECK rule the number of rows that violated it. */
  final case class Written(files: Seq[(String, Long)], violations: Array[Long])

  def write(q: DataFrame, layout: Layout, conf: Configuration): Written =
    q.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        onDriver(l.data.toIndexedSeq, q, layout, conf)
      case _ =>
        val entries = SnapshotParquetDataWriter.entries(conf)
        val parts = q.queryExecution.toRdd.mapPartitions { it =>
          lazy val c = SnapshotParquetDataWriter.confOf(entries)
          Iterator.single(slice(it, org.apache.spark.TaskContext.getPartitionId(),
            layout, () => c))
        }.collect()
        sum(parts.toSeq, layout)
    }

  private def onDriver(rows: IndexedSeq[InternalRow], q: DataFrame, layout: Layout,
      conf: Configuration): Written = {
    val spark = q.sparkSession
    val parallelism = spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    val n = rows.length
    val slices = math.min(n, parallelism)
    // ParallelCollectionRDD's slicing of a Seq: slice i holds
    // [i·n/slices, (i+1)·n/slices)
    def body(i: Int): Written = slice(
      rows.slice((i.toLong * n / slices).toInt, ((i + 1).toLong * n / slices).toInt).iterator,
      i, layout, () => conf)
    val threads = math.min(slices, Runtime.getRuntime.availableProcessors)
    if (threads <= 1) sum((0 until slices).map(body), layout)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, { (r: Runnable) =>
        val t = new Thread(r, "graft-batch-write")
        t.setDaemon(true)
        t
      })
      try {
        // invokeAll waits for every slice, failed or not, so no writer is
        // still running when the caller deletes the commit dir
        val done = pool.invokeAll(java.util.Arrays.asList((0 until slices).map(i =>
          (() => body(i)): java.util.concurrent.Callable[Written]): _*))
        sum((0 until slices).map { i =>
          try done.get(i).get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }, layout)
      } finally pool.shutdown()
    }
  }

  private def sum(parts: Seq[Written], layout: Layout): Written =
    Written(parts.flatMap(_.files),
      parts.map(_.violations).foldLeft(new Array[Long](layout.flags)) { (a, b) =>
        a.indices.foreach(i => a(i) += b(i)); a
      })

  /** Write one slice's rows. On failure the slice deletes what it wrote
    * and rethrows. Executor-safe: `conf` is called on the slice's thread. */
  private def slice(rows: Iterator[InternalRow], pid: Int, l: Layout,
      conf: () => Configuration): Written = {
    val schema = DataType.fromJson(l.schemaJson).asInstanceOf[StructType]
    val proj =
      if (l.flags + l.gridDims == 0) null
      else org.apache.spark.sql.catalyst.ProjectingInternalRow(schema, 0 until l.dataWidth)
    val uuid = java.util.UUID.randomUUID().toString
    val bad = new Array[Long](l.flags)
    val files = Seq.newBuilder[(String, Long)]
    var w: SnapshotParquetDataWriter = null
    var path: String = null
    var inFile = 0L
    var opened = 0
    var cell: Seq[Int] = null
    def close(): Unit = if (w != null) { w.commit(); files += path -> inFile; w = null }
    try {
      while (rows.hasNext) {
        val row = rows.next()
        var i = 0
        while (i < l.flags) { if (row.getBoolean(l.dataWidth + i)) bad(i) += 1; i += 1 }
        val c =
          if (l.gridDims == 0) null
          else (0 until l.gridDims).map(d => row.getInt(l.dataWidth + l.flags + d))
        if (w == null || c != cell ||
            (l.maxRecordsPerFile > 0 && inFile >= l.maxRecordsPerFile)) {
          close()
          cell = c
          path = f"${l.dataDir}/part-$pid%05d-$uuid" +
            (if (opened == 0) "" else f"-c$opened%03d") +
            (if (c == null) "" else s"-g${c.mkString("-")}") + ".parquet"
          opened += 1
          inFile = 0L
          w = new SnapshotParquetDataWriter(path, schema, conf)
        }
        if (proj == null) w.write(row) else { proj.project(row); w.write(proj) }
        inFile += 1
      }
      close()
    } catch {
      case t: Throwable =>
        if (w != null) scala.util.Try(w.abort())
        files.result().foreach { case (p, _) =>
          scala.util.Try(EngineFs.of(new Path(p), conf()).delete(new Path(p), false))
        }
        throw t
    }
    Written(files.result(), bad)
  }
}
