package perfbench

import java.sql.Timestamp
import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped inputs and the benchmark's own answer keys.
  *
  * Rows are built in the benchmark's JVM from the seed alone, so the same
  * seed gives the same tables on every run, and every expected answer is
  * computed here from those rows, never by the layer under test. Dates are UTC midnights
  * that advance with the order key, the way an ingest-ordered table looks:
  * min/max stats on either column then prune. */
object Data {

  val DayMs: Long = 86400000L
  val StartMs: Long = 694224000000L // 1992-01-01T00:00:00Z

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val statuses = Array("F", "O", "P")
  private val flags = Array("A", "N", "R")

  /** Order date of order key `k`: about 60 orders a day, so a week holds
    * ~420 orders. */
  def orderDay(k: Long): Long = k / 60

  def ts(day: Long): Timestamp = new Timestamp(StartMs + day * DayMs)

  private def cents(r: SplittableRandom, lo: Int, hi: Int): Double = r.nextInt(lo, hi) / 100.0

  def orderRow(r: SplittableRandom, k: Long): Row =
    Row(k, 1L + r.nextInt(15000), statuses(r.nextInt(3)), cents(r, 100000, 50000000),
      ts(orderDay(k)), priorities(r.nextInt(5)))

  def lineRow(r: SplittableRandom, k: Long, line: Int): Row = {
    val qty = (1 + r.nextInt(50)).toDouble
    Row(k, 1L + r.nextInt(20000), 1L + r.nextInt(1000), line, qty,
      cents(r, 90000, 10500000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      flags(r.nextInt(3)), if (r.nextBoolean()) "F" else "O",
      ts(orderDay(k) + 1 + r.nextInt(120)))
  }

  /** Orders with keys `from until from + n`. */
  def orderRows(seed: Long, from: Long, n: Int): Array[Row] = {
    val r = new SplittableRandom(seed * 1000003L + from)
    Array.tabulate(n)(i => orderRow(r, from + i))
  }

  /** Lineitems of orders `from until from + nOrders`, 1–7 lines each. */
  def lineRows(seed: Long, from: Long, nOrders: Int): Array[Row] = {
    val r = new SplittableRandom(seed * 999983L + from)
    (0 until nOrders).iterator.flatMap { i =>
      val k = from + i
      (1 to 1 + r.nextInt(7)).map(line => lineRow(r, k, line))
    }.toArray
  }

  def frame(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Fisher–Yates shuffle driven by the workload's generator. */
  def shuffle[A](rnd: SplittableRandom, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq.map(_.asInstanceOf[A])
  }

  /** Size of the user's rows as text, the base of the write-amplification
    * ratio. */
  def textBytes(rows: Array[Row]): Long = rows.iterator.map(_.mkString("|").length.toLong).sum

  // ---- order-insensitive content checksums -------------------------------

  /** One value in a form every codec round-trips to, as a tag and 64 bits:
    * integral numbers as longs, other numbers as doubles, instants as epoch
    * millis (csv keeps a timestamp type, json and xlsx give back its ISO
    * text), other text by its hash. */
  private def canon(v: Any): (Int, Long) = v match {
    case null => (0, 0L)
    case n: java.lang.Long => (1, n.longValue)
    case n: java.lang.Integer => (1, n.longValue)
    case n: java.lang.Short => (1, n.longValue)
    case n: java.lang.Number =>
      val d = n.doubleValue
      if (d == math.rint(d) && math.abs(d) < 9.0e15) (1, d.toLong)
      else (2, java.lang.Double.doubleToLongBits(d))
    case t: Timestamp => (3, t.getTime)
    case t: Instant => (3, t.toEpochMilli)
    case t: LocalDateTime => (3, t.toInstant(ZoneOffset.UTC).toEpochMilli)
    case d: java.sql.Date => (3, d.toLocalDate.toEpochDay * DayMs)
    case d: LocalDate => (3, d.toEpochDay * DayMs)
    case s: String => isoMillis(s).fold((4, MurmurHash3.stringHash(s).toLong))(ms => (3, ms))
    case other => (4, MurmurHash3.stringHash(other.toString).toLong)
  }

  private def isoMillis(s: String): Option[Long] =
    if (s.length < 10 || !s.charAt(0).isDigit || s.charAt(4) != '-' || s.charAt(7) != '-') None
    else {
      val t = s.replace(' ', 'T')
      scala.util.Try(OffsetDateTime.parse(t).toInstant.toEpochMilli)
        .orElse(scala.util.Try(LocalDateTime.parse(t).toInstant(ZoneOffset.UTC).toEpochMilli))
        .orElse(scala.util.Try(LocalDate.parse(t).toEpochDay * DayMs))
        .toOption
    }

  /** Column positions in name order (json readers return columns sorted by
    * name, the other codecs in write order), with each name's hash. */
  final class Layout(names: Array[String]) {
    val order: Array[Int] = names.indices.sortBy(names(_)).toArray
    val nameHash: Array[Int] = order.map(i => MurmurHash3.stringHash(names(i)))
  }

  /** 64-bit hash of a row's canonical values, columns in name order. */
  def rowHash(l: Layout, values: Int => Any): Long = {
    var a = 0x5bd1e995
    var b = 0x1b873593
    var j = 0
    while (j < l.order.length) {
      val (tag, x) = canon(values(l.order(j)))
      val k = l.nameHash(j) * 31 + tag
      a = MurmurHash3.mix(MurmurHash3.mix(MurmurHash3.mix(a, k), x.toInt), (x >>> 32).toInt)
      b = MurmurHash3.mix(MurmurHash3.mix(MurmurHash3.mix(b, (x >>> 32).toInt), k), x.toInt)
      j += 1
    }
    (MurmurHash3.finalizeHash(a, l.order.length).toLong << 32) |
      (MurmurHash3.finalizeHash(b, l.order.length) & 0xffffffffL)
  }

  /** Row count and the wrapping sum of row hashes: equal multisets of rows
    * give equal sums whatever the order. */
  final case class Sum(rows: Long, hash: Long) {
    def +(o: Sum): Sum = Sum(rows + o.rows, hash + o.hash)
    def -(o: Sum): Sum = Sum(rows - o.rows, hash - o.hash)
  }
  object Sum { val zero: Sum = Sum(0L, 0L) }

  def sum(rows: Array[Row]): Sum =
    if (rows.isEmpty) Sum.zero else sum(rows(0).schema, rows)

  def sum(schema: StructType, rows: Iterable[Row]): Sum = sum(new Layout(schema.fieldNames), rows)

  def sum(l: Layout, rows: Iterable[Row]): Sum = {
    var n, h = 0L
    rows.foreach { r => n += 1; h += rowHash(l, r.get) }
    Sum(n, h)
  }
}
