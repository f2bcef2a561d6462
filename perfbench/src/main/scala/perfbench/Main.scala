package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

/** A workload: a seeded set-up, then blocks of operations with the same mix
  * of work in every block. */
trait Workload {
  /** Builds fresh state; `rep` numbers the repetitions of the set-up. */
  def seed(rep: Int): Unit
  /** Block `i` of the run; block -1 is the unmeasured warm-up. */
  def block(i: Int): Unit
  /** Operation time of one block on a 4-core host, which sets how many
    * blocks make `--seconds`. */
  def blockSeconds: Double
  /** Storage figures of the current state; `space_amp` at least. */
  def footprint(): Map[String, Double]
}

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    runDir: String,
    spans: String,
    corrupt: Boolean,
    cpus: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      runDir = new File(need("run-dir")).getAbsolutePath,
      spans = kv.getOrElse("spans", ""),
      corrupt = kv.getOrElse("corrupt", "0") == "1",
      cpus = kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }
}

/** Runs one workload in this JVM and prints its metrics; the last line of
  * standard output is the result object. See perfbench/README.md. */
object Main {
  /** Seeding repetitions; `setup_s` takes their median. */
  val SetupReps = 3
  /** Fewest blocks a run measures; the storage footprint is taken after
    * this many, so after the same operations on every run. */
  val MinBlocks = 2
  /** No block starts once the run is this old, to stay well inside the
    * per-run limit on a slow or busy host. */
  val WallCapS = 120.0

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = Opts.parse(args)
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .config("spark.local.dir", s"${o.runDir}/local")
      .getOrCreate()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val code =
      try run(spark, o, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, o: Opts, sessionS: Double): Int = {
    val r = new Runner(spark, o.corrupt)
    val wl: Workload = o.workload match {
      case "etl" => new Etl(r, o.runDir, o.seed)
      case "lake" => new Lake(r, o.runDir, o.seed)
      case other =>
        System.err.println(s"unknown workload '$other' (etl, lake)")
        return 2
    }
    val runStart = System.nanoTime()
    def secondsOf(body: => Unit): Double = {
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e9
    }
    r.startBlock(-1, measured = false, trace = false)
    val seeds = (0 until SetupReps).map(rep => secondsOf(wl.seed(rep)))
    // a whole block of the measured shape, so the measured blocks run on
    // compiled code
    val warmS = secondsOf(wl.block(-1))
    val setupS = sessionS + Report.median(seeds) + warmS

    // A fixed number of whole blocks: every run of a workload does the same
    // operations in the same mix, however fast they go.
    val blocks = math.max(MinBlocks, math.round(o.seconds / wl.blockSeconds).toInt)
    var foot = Map.empty[String, Double]
    var b = 0
    def young = (System.nanoTime() - runStart) / 1e9 < WallCapS
    while (b < blocks && (b < MinBlocks || young)) {
      r.startBlock(b, measured = true, trace = o.trace && b % 2 == 1)
      wl.block(b)
      b += 1
      if (b == MinBlocks) foot = wl.footprint()
    }
    r.close()
    val heapMb = Probe.retainedHeapMb()

    val rep = new Report(r.results.toSeq)
    val e2e = rep.endToEnd(traced = false, setupS, heapMb, foot)
    println(s"perfbench workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0} " +
      s"blocks=$b session_s=$sessionS seed_s=${seeds.mkString(",")} warmup_s=$warmS " +
      s"measured_s=${r.measuredNs / 1e9} checks_s=${r.checkNs / 1e9}")
    e2e.foreach(m => println(m.line))
    rep.opTable.foreach(println)
    rep.errors.foreach(println)
    val metrics =
      if (!o.trace) e2e
      else {
        val layers = rep.perLayer(heapMb, foot)
        rep.traceTable.foreach(println)
        layers.foreach(m => println(m.line))
        if (o.spans.nonEmpty) writeSpans(o.spans, r.spans.toSeq)
        layers
      }
    println(rep.resultJson(metrics))
    0
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
        s""""start_ms":${s.startNs / 1e6},"dur_ms":${(s.endNs - s.startNs) / 1e6}}""")
    } finally w.close()
    println(s"spans ${spans.size} written to $path")
  }
}

/** One reported figure: name, value, unit and the samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Long) {
  def line: String = f"metric $name%-40s $value%16.6f $unit%-6s n=$n"
}

/** Turns a run's operation records into the reported metrics. */
final class Report(results: Seq[OpResult]) {
  import Report._

  private val measured = results.filter(_.measured)

  def errors: Seq[String] = {
    val failed = results.filter(_.checked.error.nonEmpty)
    f"error_rate ${failed.size.toDouble / math.max(1, results.size)}%.6f (${failed.size}/${results.size} ops)" +:
      failed.take(50).map(f => s"failed_op ${f.name} block=${f.block}: ${f.checked.error.get}")
  }

  /** The user-visible metrics over the measured ops of traced or untraced
    * blocks. */
  def endToEnd(traced: Boolean, setupS: Double, heapMb: Double, foot: Map[String, Double]): Seq[Metric] = {
    val ops = measured.filter(_.traced == traced)
    val reads = ops.filterNot(_.write).map(_.ms)
    val writes = ops.filter(_.write).map(_.ms)
    val secs = ops.map(_.ns).sum / 1e9
    Seq(
      Metric("setup_s", setupS, "s", Main.SetupReps.toLong),
      Metric("read_p50_ms", quantile(reads, 0.5), "ms", reads.size.toLong),
      Metric("read_p90_ms", quantile(reads, 0.9), "ms", reads.size.toLong),
      Metric("write_p50_ms", quantile(writes, 0.5), "ms", writes.size.toLong),
      Metric("write_p90_ms", quantile(writes, 0.9), "ms", writes.size.toLong),
      Metric("rows_per_s", ops.map(_.checked.rows).sum / math.max(secs, 1e-9), "rows/s", ops.size.toLong),
      Metric("space_amp", foot.getOrElse("space_amp", 0.0), "ratio", 1L),
      Metric("retained_heap_mb", heapMb, "MiB", 1L))
  }

  /** Layer figures from the traced blocks. */
  def perLayer(heapMb: Double, foot: Map[String, Double]): Seq[Metric] = {
    val ops = measured.filter(_.traced)
    val n = math.max(1, ops.size).toDouble
    val calls = ops.flatMap(_.layers)
    def callMs(name: String, exact: Boolean): Metric = {
      val xs = calls.collect { case (k, ms) if (if (exact) k == name else k.startsWith(name + ".")) => ms }
      val metric = name.replaceFirst("^s3like\\.(put|get|list)\\.(.*)$", "s3like.$1_ms.$2")
      Metric(if (metric != name) metric else name + "_ms", median(xs), "ms", xs.size.toLong)
    }
    val s3 = Seq("put", "get", "list").flatMap { v =>
      callMs(s"s3like.$v", exact = false) +: Formats.map(f => callMs(s"s3like.$v.$f", exact = true))
    }
    val puts = ops.filter(_.checked.extra.contains("files_written"))
    val layerCalls = s3 ++ Seq(
      Metric("s3like.files_written", mean(puts.map(_.checked.extra("files_written"))), "count", puts.size.toLong)) ++
      Seq("xlsx.put", "xlsx.get", "warehouse.upload", "warehouse.upsert", "warehouse.query",
        "snapshots.commit", "snapshots.merge", "snapshots.merge_into", "snapshots.delete_where",
        "snapshots.compact", "snapshots.read_where", "snapshots.read_for_keys", "snapshots.count_where",
        "snapshots.row_count", "snapshots.read_version").map(callMs(_, exact = true))

    val pruned = ops.filter(_.checked.extra.contains("files_in_manifest"))
    val scanned = pruned.map(_.counters.filesScanned.toDouble).sum
    val inManifest = pruned.map(_.checked.extra("files_in_manifest")).sum
    val rowReads = pruned.filter(_.name.startsWith("read_"))
    val pruning = Seq(
      Metric("pruning.files_scanned", scanned / math.max(1, pruned.size), "files", pruned.size.toLong),
      Metric("pruning.files_in_manifest", inManifest / math.max(1, pruned.size), "files", pruned.size.toLong),
      Metric("pruning.scan_fraction", if (inManifest > 0) scanned / inManifest else 0.0, "ratio", pruned.size.toLong),
      Metric("pruning.rows_read_per_row_returned",
        rowReads.map(_.counters.rowsScanned.toDouble).sum / math.max(1L, rowReads.map(_.checked.rows).sum),
        "ratio", rowReads.size.toLong))

    val lake = Seq("versions", "live_files", "total_files", "metadata_bytes", "data_bytes").map { k =>
      Metric(s"lake.$k", foot.getOrElse(s"lake.$k", 0.0), if (k.endsWith("bytes")) "bytes" else "count", 1L)
    }

    val acc = ops.flatMap(_.account)
    def per(name: String, unit: String)(f: OpResult => Double): Metric =
      Metric(name, ops.map(f).sum / n, unit, ops.size.toLong)
    val sparkM = Seq(
      per("spark.job_ms", "ms")(_.account.fold(0.0)(_.jobMs)),
      per("spark.driver_only_ms", "ms")(op => op.ms - op.account.fold(0.0)(_.jobMs)),
      per("spark.idle_gap_ms", "ms")(_.account.fold(0.0)(_.idleGapMs)),
      per("spark.jobs", "count")(_.counters.jobs.toDouble),
      per("spark.stages", "count")(_.counters.stages.toDouble),
      per("spark.tasks", "count")(_.counters.tasks.toDouble),
      per("spark.executor_run_ms", "ms")(_.counters.runMs.toDouble),
      per("spark.executor_cpu_ms", "ms")(_.counters.cpuNs / 1e6),
      per("spark.gc_ms", "ms")(_.counters.taskGcMs.toDouble),
      per("spark.shuffle_read_bytes", "bytes")(_.counters.shuffleRead.toDouble),
      per("spark.shuffle_write_bytes", "bytes")(_.counters.shuffleWrite.toDouble))

    val writeOps = ops.filter(_.write)
    val fs = Seq(
      per("fs.bytes_written", "bytes")(_.counters.fsBytesWritten.toDouble),
      per("fs.bytes_read", "bytes")(_.counters.fsBytesRead.toDouble),
      Metric("fs.bytes_written_per_user_byte",
        writeOps.map(_.counters.fsBytesWritten.toDouble).sum / math.max(1L, writeOps.map(_.checked.userBytes).sum),
        "ratio", writeOps.size.toLong))

    val jvm = Seq(per("jvm.gc_ms", "ms")(_.counters.jvmGcMs.toDouble), Metric("jvm.retained_heap_mb", heapMb, "MiB", 1L))

    val self = Seq("s3like", "xlsx", "warehouse", "snapshots").map { l =>
      per(s"self.${l}_ms", "ms")(_.account.fold(0.0)(_.selfMs.collect { case (k, v) if k.startsWith(l + ".") => v }.sum))
    } ++ Seq(
      per("trace.residual_ms", "ms")(_.account.fold(0.0)(_.residualMs)),
      Metric("trace.residual_share", acc.map(_.residualMs).sum / math.max(1e-9, ops.map(_.ms).sum), "ratio", acc.size.toLong))

    val untraced = endToEnd(traced = false, 0.0, heapMb, foot)
    val traced = endToEnd(traced = true, 0.0, heapMb, foot)
    val overhead = untraced.zip(traced).collect {
      case (u, t) if Set("read_p50_ms", "read_p90_ms", "write_p50_ms", "write_p90_ms", "rows_per_s")(u.name) =>
        Metric(s"trace.overhead.${u.name}", t.value - u.value, u.unit, t.n)
    }
    layerCalls ++ pruning ++ lake ++ sparkM ++ fs ++ jvm ++ self ++ overhead
  }

  /** Per op name: latency of its untraced measured runs. */
  def opTable: Seq[String] =
    measured.filterNot(_.traced).groupBy(_.name).toSeq.sortBy(_._1).map { case (name, xs) =>
      val ms = xs.map(_.ms)
      f"op $name%-14s n=${xs.size}%-4d p50_ms=${quantile(ms, 0.5)}%9.2f p90_ms=${quantile(ms, 0.9)}%9.2f rows=${xs.map(_.checked.rows).sum}"
    }

  /** Per op name: where the wall time of its traced runs went. */
  def traceTable: Seq[String] = {
    val ops = measured.filter(_.traced)
    val byName = ops.groupBy(_.name).toSeq.sortBy(_._1)
    "trace op n wall_ms job_ms driver_only_ms idle_gap_ms residual_ms layer_self_ms" +:
      byName.map { case (name, xs) =>
        val a = xs.flatMap(_.account)
        val self = mutable.TreeMap.empty[String, Double]
        a.foreach(_.selfMs.foreach { case (k, v) => self(k) = self.getOrElse(k, 0.0) + v / xs.size })
        f"trace $name%-14s ${xs.size}%4d ${mean(xs.map(_.ms))}%9.2f ${mean(a.map(_.jobMs))}%9.2f " +
          f"${mean(xs.map(_.ms)) - mean(a.map(_.jobMs))}%9.2f ${mean(a.map(_.idleGapMs))}%9.2f " +
          f"${mean(a.map(_.residualMs))}%8.3f " + self.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")
      }
  }

  def resultJson(metrics: Seq[Metric]): String = {
    val failed = results.count(_.checked.error.nonEmpty)
    val ms = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": ${results.size}, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Report {
  val Formats: Seq[String] = Seq("csv", "csv_gzip", "parquet", "json")

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Harrell–Davis quantile estimate: a Beta-weighted mean of all order
    * statistics. A run's latencies are a mix of operation kinds with
    * separate bands; the single order statistic at a rank jumps from one
    * band to the next when one sample changes side, this estimate moves
    * smoothly. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.size < 2) xs.headOption.getOrElse(0.0)
    else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      def cdf(x: Double): Double = if (x >= 1.0) 1.0 else Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
    }

  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
