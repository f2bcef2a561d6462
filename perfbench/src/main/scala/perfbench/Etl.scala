package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.engine.{S3Like, Warehouse}
import graft.engine.Warehouse.{DistStyle, Layout}

/** The paper's own surface: put a frame to the object store in one codec,
  * get it back, load it into the warehouse, upsert a batch into it and
  * query an aggregate. One block is five such cycles, one per codec, so
  * every block carries the same mix of work and only the order, the keys
  * and the rows differ between seeds. Never touches the lake layer. */
final class Etl(r: Runner, runDir: String, seed: Long) extends Workload {
  import Etl._

  private val spark: SparkSession = r.spark
  private var root = ""
  private var nextOrder = 1L

  /** The workload keeps no state between cycles: a fresh root is all. */
  def seed(rep: Int): Unit = {
    root = s"file:$runDir/etl/r$rep"
    nextOrder = 1L
  }

  val blockSeconds = 5.0

  /** Five cycles, one per codec, in seeded order. Blocks come in rounds of
    * four that pair every codec with every slice-size stratum once (a Latin
    * square), so runs of whole rounds do the same work whatever the seed;
    * the seed orders the cycles and picks the rows. The warm-up block runs
    * the same cycles on small slices, which compiles the same code sooner. */
  def block(i: Int): Unit = {
    val rnd = new SplittableRandom(seed * 7919L + i)
    val b = math.max(i, 0)
    Data.shuffle(rnd, Codecs.indices).foreach { c =>
      val codec = Codecs(c)
      val rows =
        if (i < 0) WarmRows
        else if (codec == "xlsx") XlsxRows
        else SliceRows((c + b) % SliceRows.size) + rnd.nextInt(JitterRows)
      cycle(rnd, codec, (c + b / 2) % 2 == 0, rows)
    }
  }

  private def cycle(rnd: SplittableRandom, codec: String, useOrders: Boolean, rows: Int): Unit = {
    val t = if (useOrders) OrdersT else LineitemT
    val from = nextOrder
    val slice: Array[Row] =
      if (useOrders) Data.orderRows(seed, from, rows)
      else Data.lineRows(seed, from, math.max(1, rows / 4))
    nextOrder += rows
    val src = Data.frame(spark, slice, t.schema)
    val srcSum = Data.sum(t.schema, slice)
    val uri = s"$root/s3/${t.name}.${ext(codec)}"
    val (format, compression) = codec match {
      case "csv_gzip" => ("csv", Some("gzip"))
      case c => (c, None)
    }
    val layerName = if (codec == "xlsx") "xlsx.%s" else s"s3like.%s.$codec"

    r.op("put", write = true) {
      r.layer(layerName.format("put")) {
        if (codec == "parquet") S3Like.putDf(src, uri, "parquet", parts = 4, sortKeys = Seq(t.key.head))
        else if (codec == "xlsx") S3Like.putDf(src, uri, "xlsx")
        else S3Like.putDf(src, uri, format, compression = compression)
      }
    } { _ =>
      val files = if (codec == "xlsx") Seq(uri) else Probe.dataFiles(spark, uri)
      val ok = files.nonEmpty && (codec != "parquet" || files.size <= 4)
      Checked.expect(ok, slice.length, s"${files.size} files under $uri")
        .copy(userBytes = Data.textBytes(slice), extra = Map("files_written" -> files.size.toDouble))
    }

    r.op("get", write = false) {
      if (codec == "xlsx") r.layer("xlsx.get")(S3Like.getDf(spark, uri, "xlsx").collect())
      else r.layer(s"s3like.get.$codec")(S3Like.getDf(spark, uri, format).collect())
    } { got => same(Data.sum(got), srcSum, s"$codec round trip") }
    if (codec != "xlsx") r.op("get_keys", write = false) {
      r.layer(s"s3like.list.$codec")(S3Like.listKeys(spark, uri).toList)
      r.layer(s"s3like.get.$codec")(S3Like.getDfFromKeys(spark, uri).map(_.collect()).getOrElse(Array.empty[Row]))
    } { got => same(Data.sum(got), srcSum, s"$codec round trip by keys") }

    r.op("upload", write = true) {
      r.layer("warehouse.upload") {
        Warehouse.upload(spark, src, t.name,
          Layout(DistStyle.Key(t.key.head), sortKeys = Seq(t.dateCol), buckets = Buckets), dropFirst = true)
      }
    } { _ => same(Data.sum(spark.table(t.name).collect()), srcSum, "uploaded table").copy(userBytes = Data.textBytes(slice)) }

    // 90% of the batch changes existing keys, 10% adds new ones
    val n = math.max(10, slice.length / 10)
    val changed = Array.tabulate(n - n / 10)(_ => t.change(slice(rnd.nextInt(slice.length)))).distinctBy(t.keyOf)
    val fresh = if (useOrders) Data.orderRows(seed + 1, NewKeys + from, n / 10)
      else Data.lineRows(seed + 1, NewKeys + from, math.max(1, n / 40))
    val batch = changed ++ fresh
    val batchKeys = batch.iterator.map(t.keyOf).toSet
    val after = slice.filterNot(row => batchKeys.contains(t.keyOf(row))) ++ batch
    r.op("upsert", write = true) {
      r.layer("warehouse.upsert")(Warehouse.upsert(spark, Data.frame(spark, batch, t.schema), t.name, t.key))
    } { _ =>
      same(Data.sum(spark.table(t.name).collect()), Data.sum(t.schema, after), "upserted table")
        .copy(rows = batch.length.toLong, userBytes = Data.textBytes(batch))
    }

    r.op("query", write = false) {
      r.layer("warehouse.query")(Warehouse.query(spark, t.query).collect())
    } { got =>
      val want = t.aggregate(after)
      val have = got.map(g => g.getString(0) -> (g.getLong(1), g.getLong(2), g.getDouble(3))).toMap
      val ok = have.size == want.size && want.forall { case (g, (c, s, p)) =>
        have.get(g).exists { case (c2, s2, p2) =>
          c2 == c && s2 == r.expected(s) && math.abs(p2 - p) <= 1e-9 * math.abs(p) + 1e-6
        }
      }
      Checked.expect(ok, got.length.toLong, s"aggregate ${have.toSeq.sorted} != ${want.toSeq.sorted}")
    }
  }

  private def same(got: Data.Sum, want: Data.Sum, what: String): Checked =
    Checked.expect(got.rows == want.rows && got.hash == r.expected(want.hash), got.rows,
      s"$what: ${got.rows} rows (checksum ${got.hash}) != ${want.rows} rows (checksum ${want.hash})")

  def footprint(): Map[String, Double] = {
    val tables = Seq(OrdersT, LineitemT).map(t => s"${spark.conf.get("spark.sql.warehouse.dir")}/${t.name}")
    val dirs = s"$root/s3" +: tables
    val total = dirs.map(d => Probe.walk(spark, d).bytes).sum
    val live = Probe.bytesOf(spark, dirs.flatMap(d => Probe.dataFiles(spark, d)))
    Map("space_amp" -> total.toDouble / math.max(1L, live))
  }
}

object Etl {
  val Codecs: IndexedSeq[String] = IndexedSeq("csv", "csv_gzip", "parquet", "json", "xlsx")
  /** Slice-size strata (rows), plus up to `JitterRows`. */
  val SliceRows: IndexedSeq[Int] = IndexedSeq(4000, 8000, 12000, 16000)
  val JitterRows = 1000
  /** Xlsx is a driver-side codec; its slices stay at 5k rows or fewer. */
  val XlsxRows = 3000
  val WarmRows = 3000
  private val NewKeys = 1000000000L
  /** DISTKEY tables are bucketed catalog tables (`Warehouse.Layout`). The
    * unbucketed path builds its DDL with `DOUBLE PRECISION`, which Spark's
    * parser rejects, so it cannot load these double-typed tables. */
  val Buckets = 4

  def ext(codec: String): String = codec match {
    case "csv_gzip" => "csv.gz"
    case c => c
  }

  /** A warehouse table of the workload and the answers kept for it. */
  final case class Table(
      name: String,
      schema: StructType,
      key: Seq[String],
      dateCol: String,
      change: Row => Row,
      query: String,
      aggregate: Array[Row] => Map[String, (Long, Long, Double)]) {
    private val keyIdx = key.map(schema.fieldIndex)
    def keyOf(row: Row): Seq[Any] = keyIdx.map(row.get)
  }

  private def agg(rows: Array[Row], g: Int, s: Int, p: Int): Map[String, (Long, Long, Double)] =
    rows.groupBy(_.getString(g)).map { case (k, rs) =>
      k -> ((rs.length.toLong, rs.iterator.map(_.getLong(s)).sum,
        rs.iterator.map(x => BigDecimal(x.getDouble(p))).sum.toDouble))
    }

  val OrdersT: Table = Table("etl_orders", Data.orders, Seq("o_orderkey"), "o_orderdate",
    row => Row.fromSeq(row.toSeq.updated(2, "P").updated(3, row.getDouble(3) + 1.0)),
    "SELECT o_orderpriority, count(*) AS n, sum(o_custkey) AS s, sum(o_totalprice) AS p " +
      "FROM etl_orders GROUP BY o_orderpriority",
    agg(_, 5, 1, 3))

  val LineitemT: Table = Table("etl_lineitem", Data.lineitem, Seq("l_orderkey", "l_linenumber"), "l_shipdate",
    row => Row.fromSeq(row.toSeq.updated(4, row.getDouble(4) + 1.0)),
    "SELECT l_returnflag, count(*) AS n, sum(l_partkey) AS s, sum(l_extendedprice) AS p " +
      "FROM etl_lineitem GROUP BY l_returnflag",
    agg(_, 8, 1, 5))
}
