package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.engine.{MergeClause, Snapshots}

/** One long-lived snapshot table under a stream of about 70% reads and 30%
  * writes while its history grows. A block is 30 operations in a fixed
  * order: two reads before each of ten writes. The 20 reads are point
  * lookups, one-week ranges, key-set reads, counts, metadata row counts and
  * reads of an older version; the 10 writes are a merge, six appends, a
  * conditional merge, a compaction (every tenth write) and a delete of the
  * oldest orders. The seed picks the keys, the weeks and the rows, never the
  * order, so every run visits the same table states with the same kinds of
  * operation and the read and write percentiles fall inside the same kind's
  * band of latencies on every run.
  *
  * The benchmark keeps the table's expected content itself, as rows grouped
  * by order key, and checks every answer against that model; the content of
  * each committed version is also checked by a full read, so reads of an
  * older version have a known answer too. */
final class Lake(r: Runner, runDir: String, seed: Long) extends Workload {
  import Lake._

  private val spark: SparkSession = r.spark
  private var root = ""
  private val model = mutable.LongMap.empty[Vector[Row]]
  private var content = Data.Sum.zero
  private val versions = mutable.LongMap.empty[Data.Sum]
  private var nextKey = 1L
  /** Orders added since the last delete, which removes as many of the
    * oldest: the table keeps its size while its history grows. */
  private var added = 0L
  private var lastDay = 0L

  def seed(rep: Int): Unit = {
    if (rep > 0) Probe.delete(spark, root)
    root = s"file:$runDir/lake/r$rep"
    model.clear(); versions.clear(); content = Data.Sum.zero
    nextKey = 1L; added = 0L; lastDay = 0L; keyCache = null
    (0 until SeedCommits).foreach { c =>
      val rows = Data.lineRows(seed, nextKey, SeedOrders)
      nextKey += SeedOrders
      val df = Data.frame(spark, rows, Data.lineitem).repartitionByRange(4, col("l_orderkey"))
      val v = Snapshots.commit(df, root, append = c > 0, statsCols = StatsCols)
      add(rows)
      versions(v) = content
    }
  }

  val blockSeconds = 6.5

  /** The reads that precede each write, then the write; the block ends with
    * the retention delete and the next one opens with two reads and a merge,
    * so every block leaves the table in the same shape. */
  def block(i: Int): Unit = {
    val rnd = new SplittableRandom(seed * 104729L + i)
    Writes.indices.foreach { k =>
      op(rnd, Reads(2 * k)); op(rnd, Reads(2 * k + 1)); op(rnd, Writes(k))
    }
  }

  private def add(rows: Iterable[Row]): Unit = rows.foreach { row =>
    keyCache = null
    val k = row.getLong(0)
    model(k) = model.getOrElse(k, Vector.empty) :+ row
    content += Data.sum(LineLayout, Seq(row))
    lastDay = math.max(lastDay, day(row))
  }

  private def drop(k: Long): Unit = model.remove(k).foreach { rows =>
    keyCache = null
    content -= Data.sum(LineLayout, rows)
  }

  private def day(row: Row): Long = (row.getTimestamp(10).getTime - Data.StartMs) / Data.DayMs

  private var keyCache: Array[Long] = null

  private def liveKeys: Array[Long] = {
    if (keyCache == null) keyCache = model.keys.toArray.sorted
    keyCache
  }

  private def liveKey(rnd: SplittableRandom): Long = liveKeys(rnd.nextInt(liveKeys.length))

  private def where(p: Row => Boolean): Iterable[Row] = model.valuesIterator.flatMap(_.filter(p)).toSeq

  private def same(got: Array[Row], want: Data.Sum, what: String): Checked = {
    val g = Data.sum(got)
    Checked.expect(g.rows == want.rows && g.hash == r.expected(want.hash), g.rows,
      s"$what: ${g.rows} rows (checksum ${g.hash}) != ${want.rows} rows (checksum ${want.hash})")
  }

  /** Pruning figures of a read: files the plans scanned come from the op's
    * counters, the manifest's file count from the head's manifest. */
  private def pruning(c: Checked): Checked =
    if (!r.traced) c
    else {
      val m = Snapshots.manifest(spark, root, Snapshots.headVersion(spark, root))
      c.copy(extra = c.extra + ("files_in_manifest" -> m.files.size.toDouble))
    }

  private def read(name: String, layer: String)(body: => Array[Row])(want: => Iterable[Row]): Unit =
    r.op(name, write = false)(r.layer(layer)(body))(got => pruning(same(got, Data.sum(LineLayout, want), name)))

  /** A write, then a full read of the version it returned against the model
    * after `apply`. */
  private def write(name: String, layer: String, rows: Long, bytes: Long)(body: => Long)(apply: => Unit): Unit = {
    val before = Snapshots.headVersion(spark, root)
    r.op(name, write = true)(r.layer(layer)(body)) { v =>
      apply
      val got = Snapshots.read(spark, root, v).collect()
      val check = same(got, content, s"$name v$v")
      if (check.error.isEmpty && v > before) versions(v) = content
      val order = if (v > before) None else Some(s"$name returned v$v, head was v$before")
      check.copy(rows = rows, userBytes = bytes, error = check.error.orElse(order))
    }
  }

  private def op(rnd: SplittableRandom, kind: String): Unit = kind match {
    case "point" =>
      val k = liveKey(rnd)
      read("read_point", "snapshots.read_where") {
        Snapshots.readWhere(spark, root, col("l_orderkey") === k).collect()
      }(model.getOrElse(k, Vector.empty))

    case "week" =>
      // a week inside the live rows' ship dates
      val first = Data.orderDay(liveKeys.head) + 1
      val d0 = first + rnd.nextInt(math.max(1, (lastDay - 7 - first).toInt))
      val (lo, hi) = (Data.ts(d0), Data.ts(d0 + 7))
      read("read_week", "snapshots.read_where") {
        Snapshots.readWhere(spark, root, col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi)).collect()
      }(where { row => val t = row.getTimestamp(10); !t.before(lo) && t.before(hi) })

    case "keys" =>
      val keys = (Array.fill(90)(liveKey(rnd)) ++ Array.fill(10)(nextKey + 1000000L + rnd.nextInt(1000000))).distinct
      import spark.implicits._
      read("read_keys", "snapshots.read_for_keys") {
        Snapshots.readForKeys(spark, root, "l_orderkey", keys.toSeq.toDF("l_orderkey")).collect()
      }(keys.toSeq.flatMap(k => model.getOrElse(k, Vector.empty)))

    case "count" =>
      val lo = liveKey(rnd)
      val cond = col("l_orderkey") >= lo && col("l_orderkey") < lo + 200
      r.op("count_where", write = false) {
        r.layer("snapshots.count_where")(Snapshots.countWhere(spark, root, cond))
      } { n =>
        val want = where(row => row.getLong(0) >= lo && row.getLong(0) < lo + 200).size.toLong
        pruning(Checked.expect(n == r.expected(want), 1L, s"countWhere $n != $want"))
      }

    case "rows" =>
      r.op("row_count", write = false) {
        r.layer("snapshots.row_count")(Snapshots.rowCount(spark, root))
      } { n =>
        Checked.expect(n.contains(r.expected(content.rows)), 1L, s"rowCount $n != ${content.rows}")
      }

    case "version2" | "version5" =>
      val back = kind.last - '0'
      val head = Snapshots.headVersion(spark, root)
      val older = versions.keys.filter(_ < head).toSeq.sorted
      val v = if (older.isEmpty) head else older(math.max(0, older.size - back))
      val want = versions(v)
      r.op("read_version", write = false) {
        r.layer("snapshots.read_version")(Snapshots.read(spark, root, v).collect())
      }(got => same(got, want, s"read v$v"))

    case "append1k" | "append2k" | "append3k" | "append5k" =>
      val n = AppendOrders(kind.stripPrefix("append"))
      val rows = Data.lineRows(seed + 2, nextKey, n)
      nextKey += n
      added += n
      write("append", "snapshots.commit", rows.length, Data.textBytes(rows)) {
        Snapshots.commit(Data.frame(spark, rows, Data.lineitem), root, append = true, statsCols = StatsCols)
      }(add(rows))

    case "merge" =>
      // ~1k keys, 90% existing (their lines are replaced), 10% new
      val existing = Array.fill(900)(liveKey(rnd)).distinct
      val fresh = nextKey until nextKey + 100
      nextKey += 100
      added += 100
      val rows = (existing.toSeq ++ fresh).flatMap(k => Data.lineRows(seed + 3 + k, k, 1))
      write("merge", "snapshots.merge", rows.size, Data.textBytes(rows.toArray)) {
        Snapshots.merge(Data.frame(spark, rows.toArray, Data.lineitem), root, "l_orderkey", statsCols = StatsCols)
      } { (existing.toSeq ++ fresh).foreach(drop); add(rows) }

    case "merge_into" =>
      // one source row per key: matched keys take its quantity and tax,
      // unmatched keys insert it
      val existing = Array.fill(900)(liveKey(rnd)).distinct
      val fresh = nextKey until nextKey + 100
      nextKey += 100
      added += 100
      val src = (existing.toSeq ++ fresh).map(k => Data.lineRows(seed + 4 + k, k, 1).head)
      val clauses = Seq(
        MergeClause.Update(Map("l_quantity" -> col("s.l_quantity"), "l_tax" -> col("s.l_tax"))),
        MergeClause.Insert())
      write("merge_into", "snapshots.merge_into", src.size, Data.textBytes(src.toArray)) {
        Snapshots.mergeInto(Data.frame(spark, src.toArray, Data.lineitem), root, "l_orderkey", clauses,
          statsCols = StatsCols)
      } {
        src.foreach { s =>
          val k = s.getLong(0)
          model.get(k) match {
            case Some(rows) =>
              drop(k)
              add(rows.map(t => Row.fromSeq(t.toSeq.updated(4, s.get(4)).updated(7, s.get(7)))))
            case None => add(Seq(s))
          }
        }
      }

    case "delete" =>
      // retention: the oldest orders go
      val hi = liveKeys(math.min(added, liveKeys.length - 1L).toInt)
      added = 0L
      write("delete_where", "snapshots.delete_where", 0L, 0L) {
        Snapshots.deleteWhere(spark, root, col("l_orderkey") < hi, statsCols = StatsCols)
      }(model.keys.filter(_ < hi).toSeq.foreach(drop))

    case "compact" =>
      write("compact", "snapshots.compact", 0L, 0L) {
        Snapshots.compact(spark, root, targetFiles = CompactFiles, statsCols = StatsCols)
      }(())
  }

  def footprint(): Map[String, Double] = {
    val head = Snapshots.headVersion(spark, root)
    val live = Snapshots.manifest(spark, root, head).files
    val liveBytes = Probe.bytesOf(spark, live)
    val w = Probe.walk(spark, root)
    Map(
      "space_amp" -> w.bytes.toDouble / math.max(1L, liveBytes),
      "lake.versions" -> head.toDouble,
      "lake.live_files" -> live.size.toDouble,
      "lake.total_files" -> w.files.toDouble,
      "lake.metadata_bytes" -> w.metaBytes.toDouble,
      "lake.data_bytes" -> liveBytes.toDouble)
  }
}

object Lake {
  val StatsCols: Seq[String] = Seq("l_orderkey", "l_shipdate")
  private val LineLayout = new Data.Layout(Data.lineitem.fieldNames)
  val SeedCommits = 4
  val SeedOrders = 1500
  val CompactFiles = 8
  /** In block order; the first two run while the previous block's delete
    * has left deletion vectors on the oldest files. */
  val Reads: IndexedSeq[String] = IndexedSeq(
    "point", "count", "week", "keys", "rows", "point", "version2", "week", "keys", "point",
    "rows", "week", "count", "version5", "point", "keys", "week", "rows", "point", "keys")
  /** Appends are six of the ten writes, so the write median falls inside
    * their band rather than on its edge. */
  val Writes: IndexedSeq[String] = IndexedSeq(
    "merge", "append1k", "merge_into", "append2k", "append3k", "compact", "append1k", "append5k",
    "append2k", "delete")
  /** Orders per append (~4 lines an order). */
  val AppendOrders: Map[String, Int] = Map("1k" -> 250, "2k" -> 500, "3k" -> 750, "5k" -> 1250)
}
