package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Monotone counters of one run, read from outside the engine. Per-op
  * figures are differences of two readings taken after the listener bus
  * has drained. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, taskGcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0,
    filesScanned: Long = 0, rowsScanned: Long = 0,
    fsBytesWritten: Long = 0, fsBytesRead: Long = 0,
    jvmGcMs: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, taskGcMs - o.taskGcMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    filesScanned - o.filesScanned, rowsScanned - o.rowsScanned,
    fsBytesWritten - o.fsBytesWritten, fsBytesRead - o.fsBytesRead,
    jvmGcMs - o.jvmGcMs)
}

/** A finished Spark job or stage, in epoch milliseconds. */
final case class Interval(id: Int, parent: Int, startMs: Long, endMs: Long)

/** Job, stage and task counters from the scheduler's events. Written on the
  * listener-bus thread, read by the client after a drain. */
final class JobProbe extends SparkListener {
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val doneJobs = ArrayBuffer.empty[Interval]
  private val doneStages = ArrayBuffer.empty[Interval]
  private var c = Counters()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    doneJobs += Interval(e.jobId, -1, jobStart.remove(e.jobId).getOrElse(e.time), e.time)
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val end = i.completionTime.getOrElse(System.currentTimeMillis())
    doneStages += Interval(i.stageId, stageJob.getOrElse(i.stageId, -1), i.submissionTime.getOrElse(end), end)
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c.copy(
      tasks = c.tasks + 1,
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      taskGcMs = c.taskGcMs + m.jvmGCTime,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten)
  }

  def counters: Counters = synchronized(c)

  /** Jobs and stages finished since the last call. */
  def take(): (Seq[Interval], Seq[Interval]) = synchronized {
    val out = (doneJobs.toList, doneStages.toList)
    doneJobs.clear(); doneStages.clear()
    out
  }
}

/** Files and rows the executed plans scanned, from the scan nodes' own SQL
  * metrics: native parquet reads bypass the Hadoop FS byte counters, so
  * the plan is the only place scanned files show. */
final class ScanProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var files = 0L
  private var rows = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val scans: Seq[SparkPlan] = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s
      case s: BatchScanExec => s
    }
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    synchronized {
      files += scans.map(metric(_, "numFiles")).sum
      rows += scans.map(metric(_, "numOutputRows")).sum
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def read: (Long, Long) = synchronized((files, rows))
}

object Probe {

  /** Bytes written and read per Hadoop's global storage statistics, summed
    * over every file system in the JVM: executor threads of `local[n]` count
    * here too. The local file system counts no operations, only bytes, and
    * native parquet reads bypass even those. */
  def fsCounters: (Long, Long) = {
    var bw, br = 0L
    FileSystem.getGlobalStorageStatistics.iterator.asScala.foreach { s =>
      def get(k: String): Long = Option(s.getLong(k)).map(_.longValue).getOrElse(0L)
      bw += get("bytesWritten"); br += get("bytesRead")
    }
    (bw, br)
  }

  def jvmGcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Used heap after full collections, in MiB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** File count and bytes of every file under `dir`, and the bytes inside
    * `_snapshots` metadata directories. */
  final case class Walk(files: Long, bytes: Long, metaBytes: Long)

  def walk(spark: SparkSession, dir: String): Walk = {
    val p = new Path(dir)
    // the raw file system, so checksum side files count as the bytes they are
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    if (!fs.exists(p)) Walk(0, 0, 0)
    else {
      var w = Walk(0, 0, 0)
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        val meta = f.getPath.toString.contains("/_snapshots/")
        w = Walk(w.files + 1, w.bytes + f.getLen, w.metaBytes + (if (meta) f.getLen else 0))
      }
      w
    }
  }

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Total bytes of the named files. */
  def bytesOf(spark: SparkSession, files: Seq[String]): Long =
    files.map { f =>
      val p = new Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum

  /** Data files under `dir`, recursively: no path segment below `dir`
    * starts with `_` or `.` (markers, checksums, metadata). */
  def dataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val out = ArrayBuffer.empty[String]
      val it = fs.listFiles(p, true)
      val base = fs.makeQualified(p).toString
      while (it.hasNext) {
        val f = it.next().getPath.toString
        if (!f.stripPrefix(base).split('/').exists(s => s.startsWith("_") || s.startsWith("."))) out += f
      }
      out.toSeq
    }
  }
}
