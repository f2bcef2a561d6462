package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** What the untimed check of one operation found: the user rows the
  * operation moved, the bytes of user data it wrote, side figures for the
  * traced report, and the mismatch if the answer was wrong. */
final case class Checked(
    rows: Long,
    userBytes: Long = 0L,
    error: Option[String] = None,
    extra: Map[String, Double] = Map.empty)

object Checked {
  def expect(ok: Boolean, rows: Long, what: => String): Checked =
    Checked(rows, error = if (ok) None else Some(what))
}

/** The per-op split of a traced operation's wall time: job time is the union
  * of its Spark jobs' intervals, each layer's self time is its span minus
  * that union, and the residual is the op's time in neither (the
  * benchmark's own code between layer calls). */
final case class Account(jobMs: Double, idleGapMs: Double, selfMs: Map[String, Double], residualMs: Double)

final case class OpResult(
    name: String,
    write: Boolean,
    block: Int,
    measured: Boolean,
    traced: Boolean,
    ns: Long,
    checked: Checked,
    counters: Counters,
    account: Option[Account],
    layers: Seq[(String, Double)]) {
  def ms: Double = ns / 1e6
}

/** One span of the traced run. Times are nanoseconds on the client's
  * monotonic clock; `parent` is -1 for an operation. */
final case class Span(id: Int, parent: Int, kind: String, name: String, startNs: Long, endNs: Long)

/** Runs timed operations on the single client thread. Every operation is
  * timed from the call until its result is consumed; its check runs after
  * the clock stops. In traced blocks the runner also records each layer
  * call as a child span, attaches the Spark jobs and stages seen in the
  * operation's interval, and takes the outside-in counters at the op's
  * boundaries after the listener bus has drained. The listeners are only
  * registered while a traced block runs. */
final class Runner(val spark: SparkSession, corrupt: Boolean) {
  private val sc = spark.sparkContext
  private val jobs = new JobProbe
  private val scans = new ScanProbe
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  val results: ArrayBuffer[OpResult] = ArrayBuffer.empty
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var nextId = 0
  private val openLayers = ArrayBuffer.empty[(String, Long, Long)]

  private var block = -1
  private var measuring = false
  private var tracing = false
  private var checks = 0L
  /** Time spent checking answers, outside every timed region. */
  var checkNs = 0L

  def traced: Boolean = tracing

  /** Total time of the measured operations so far. */
  def measuredNs: Long = results.iterator.filter(_.measured).map(_.ns).sum

  def startBlock(i: Int, measured: Boolean, trace: Boolean): Unit = {
    block = i
    measuring = measured
    if (trace != tracing) {
      if (trace) { sc.addSparkListener(jobs); spark.listenerManager.register(scans) }
      else { Bus.drain(sc); sc.removeSparkListener(jobs); spark.listenerManager.unregister(scans) }
      tracing = trace
    }
  }

  /** A call into one engine layer, recorded as a child span when tracing. */
  def layer[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val s = System.nanoTime()
      try body finally openLayers += ((name, s, System.nanoTime()))
    }

  private def counters(): Counters = {
    val c = jobs.counters
    val (files, rows) = scans.read
    val (bw, br) = Probe.fsCounters
    c.copy(filesScanned = files, rowsScanned = rows, fsBytesWritten = bw, fsBytesRead = br, jvmGcMs = Probe.jvmGcMs)
  }

  /** Corrupts every other expected answer when the benchmark checks itself
    * (`--corrupt 1`): a check that still passes would be a check that does
    * not look. */
  def expected(h: Long): Long = {
    checks += 1
    if (corrupt && checks % 2 == 0) h + 1 else h
  }

  def op[A](name: String, write: Boolean)(body: => A)(check: A => Checked): Unit = {
    val trace = tracing
    var c0 = Counters()
    if (trace) { Bus.drain(sc); jobs.take(); c0 = counters() }
    openLayers.clear()
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    var delta = Counters()
    var account: Option[Account] = None
    if (trace) {
      Bus.drain(sc)
      delta = counters() - c0
      account = Some(record(name, t0, t1))
    }
    val layers = openLayers.map { case (n, s, e) => n -> (e - s) / 1e6 }.toSeq
    val c0Ns = System.nanoTime()
    val checked = out match {
      case Left(e) => Checked(0L, error = Some(s"threw ${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}"))
      case Right(a) =>
        try check(a)
        catch { case NonFatal(e) => Checked(0L, error = Some(s"check threw ${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}")) }
    }
    checkNs += System.nanoTime() - c0Ns
    results += OpResult(name, write, block, measuring, trace, t1 - t0, checked, delta, account, layers)
  }

  private def firstLine(s: String): String =
    Option(s).flatMap(_.linesIterator.map(_.trim).find(_.nonEmpty)).getOrElse("").take(300)

  private def toNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  /** Records the op, its layer calls and its jobs and stages as spans, and
    * splits the op's wall time. */
  private def record(name: String, t0: Long, t1: Long): Account = {
    val opId = newSpan(-1, "op", name, t0, t1)
    val layerIds = openLayers.map { case (n, s, e) => (newSpan(opId, "layer", n, s, e), s, e) }
    val (doneJobs, doneStages) = jobs.take()
    val jobIv = doneJobs.map(j => (j, math.max(t0, toNs(j.startMs)), math.min(t1, math.max(toNs(j.startMs), toNs(j.endMs)))))
    val jobSpan = jobIv.map { case (j, s, e) =>
      val parent = layerIds.find { case (_, ls, le) => s >= ls && s <= le }.map(_._1).getOrElse(opId)
      j.id -> newSpan(parent, "job", s"job ${j.id}", s, e)
    }.toMap
    doneStages.foreach { st =>
      newSpan(jobSpan.getOrElse(st.parent, opId), "stage", s"stage ${st.id}", toNs(st.startMs), toNs(st.endMs))
    }
    val union = Intervals.union(jobIv.map { case (_, s, e) => (s, e) }.filter { case (s, e) => e > s })
    val jobNs = union.map { case (s, e) => e - s }.sum
    val gapNs =
      if (union.isEmpty) 0L
      else (union.last._2 - union.head._1) - jobNs
    val self = openLayers.groupMapReduce(_._1) { case (_, s, e) =>
      (e - s) - Intervals.overlap(union, s, e)
    }(_ + _)
    val residual = (t1 - t0) - jobNs - self.values.sum
    Account(jobNs / 1e6, gapNs / 1e6, self.map { case (k, v) => k -> v / 1e6 }, residual / 1e6)
  }

  private def newSpan(parent: Int, kind: String, name: String, s: Long, e: Long): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, kind, name, s - anchorNs, e - anchorNs)
    id
  }

  /** Stops tracing so nothing the listeners hold outlives the run. */
  def close(): Unit = startBlock(block, measured = false, trace = false)
}

object Intervals {
  /** Sorted, disjoint union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Length of `[s, e)` covered by a sorted, disjoint union. */
  def overlap(union: Seq[(Long, Long)], s: Long, e: Long): Long =
    union.iterator.map { case (a, b) => math.max(0L, math.min(b, e) - math.max(a, s)) }.sum
}
