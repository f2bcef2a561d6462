package graft.engine

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions.{col, element_at, split}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}

import graft.SparkSpec

/** Property tests for the exact row filters that replace joins in the lake
  * verbs ([[RowFilters]]):
  *  - key sets: the filter forms of `readForKeys`, merge survivors and the
  *    keyed delete equal their semi and anti join forms row for row, for
  *    long, int, decimal at two scales, string, date, LTZ and NTZ timestamp
  *    keys and key frames typed differently from the column, with nulls,
  *    2^53±1, supplementary-plane strings and dates before the Gregorian
  *    switch. ±0.0 and NaN float keys must take the join;
  *  - deletion vectors: a read under random vectors over multi-row-group
  *    files equals the anti join of the raw rows against the vectors'
  *    (file, position) pairs, and the rows no delete matched.
  * Table rows carry a unique id `v`; results compare as sorted id lists.
  */
object KeyFilterProps extends Properties("KeyFilter") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    graft.PropCases(p, 20)

  private val spark = SparkSpec.spark

  private val Pow53 = 9007199254740992L
  private val Dec102 = DecimalType(10, 2)
  private val Dec124 = DecimalType(12, 4)

  private def micros(us: Long): Instant = Instant.EPOCH.plus(us, ChronoUnit.MICROS)
  private val instants = Seq(0L, 1L, -86400000000L, 1700000000000000L, Pow53 + 1)
  /** Dates and an instant the legacy java.sql types carry through the
    * hybrid Julian calendar: the Gregorian switch and the year 1000. */
  private val oldDays = Seq(LocalDate.of(1582, 10, 10), LocalDate.of(1000, 1, 1)).map(_.toEpochDay)
  private val OldMicros = LocalDate.of(1000, 1, 1).toEpochDay * 86400000000L

  /** External values per type: the edges each rule guards, and values that
    * equal each other across the integral and decimal types. */
  private def pool(dt: DataType): Seq[Any] = dt match {
    case LongType => Seq(0L, 1L, -1L, 7L, Pow53 - 1, Pow53, Pow53 + 1, -Pow53 - 1, Long.MaxValue)
    case IntegerType => Seq(0, 1, -1, 7, Int.MaxValue, Int.MinValue)
    case `Dec102` => Seq("0.00", "1.50", "-2.25", "7.00", "1.00", "1.23", "99999999.99").map(new java.math.BigDecimal(_))
    case `Dec124` =>
      Seq("0.0000", "1.5000", "1.2345", "7.0000", "-2.2500", "99999999.9999").map(new java.math.BigDecimal(_))
    case StringType => Seq("", "a", "A", "7", "é", "😀", "􏿿", "￿")
    case DateType => (Seq(0L, 1L, -1L, 18000L, 19000L) ++ oldDays).map(d => Date.valueOf(LocalDate.ofEpochDay(d)))
    case TimestampType => (instants :+ OldMicros).map(us => Timestamp.from(micros(us)))
    case TimestampNTZType => (instants :+ OldMicros).map(us => LocalDateTime.ofInstant(micros(us), ZoneOffset.UTC))
    case DoubleType => Seq(0.0, -0.0, Double.NaN, 1.5, 7.0)
    case FloatType => Seq(0.0f, -0.0f, Float.NaN, 1.5f, 7.0f)
  }

  private val sameTypes: Seq[DataType] = Seq(LongType, IntegerType, Dec102, Dec124, StringType,
    DateType, TimestampType, TimestampNTZType, DoubleType, FloatType)
  /** (column type, key frame type) pairs the analyzer coerces for the join. */
  private val crossTypes: Seq[(DataType, DataType)] = Seq(
    LongType -> IntegerType, IntegerType -> LongType, Dec102 -> Dec124, Dec124 -> Dec102,
    LongType -> Dec102, Dec102 -> IntegerType, Dec124 -> LongType,
    LongType -> DoubleType, DoubleType -> LongType, DateType -> TimestampType)

  private def floating(dt: DataType): Boolean = dt == DoubleType || dt == FloatType

  private def values(dt: DataType, max: Int): Gen[List[Any]] =
    Gen.choose(0, max).flatMap(Gen.listOfN(_, Gen.frequency(1 -> Gen.const(null), 6 -> Gen.oneOf(pool(dt)))))

  private val caseGen = for {
    types <- Gen.frequency(3 -> Gen.oneOf(sameTypes).map(t => (t, t)), 2 -> Gen.oneOf(crossTypes))
    rows <- values(types._1, 12)
    keys <- values(types._2, 8)
    local <- Gen.oneOf(true, false)
  } yield (types, rows, keys, local)

  /** Rows (k, v) with v the row's index plus `base`: driver-resident, or
    * distributed over two partitions so filters run on executors. */
  private def frame(dt: DataType, ks: Seq[Any], local: Boolean, base: Int = 0): DataFrame = {
    val schema = StructType(Seq(StructField("k", dt), StructField("v", IntegerType)))
    val rows = ks.zipWithIndex.map { case (k, i) => Row(k, base + i) }
    if (local) spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    else spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def ids(df: DataFrame): Seq[Int] = df.select("v").collect().map(_.getInt(0)).toSeq.sorted

  private def joined(rows: DataFrame, keys: DataFrame, anti: Boolean): DataFrame =
    rows.join(keys.select("k").distinct(), Seq("k"), if (anti) "left_anti" else "left_semi")

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case j: Join => j }.isDefined

  private def tmp(): String = "file:" + Files.createTempDirectory("kfp").toString + "/t"

  property("the key filter equals the semi and anti join; float keys join") =
    Prop.forAllNoShrink(caseGen) { case ((colType, keyType), rowVals, keyVals, local) =>
      val rows = frame(colType, rowVals, local = false)
      val keys = frame(keyType, keyVals, local)
      val probe = Snapshots.probeKeys(keys, "k")
      val small = probe.isInstanceOf[Snapshots.KeysSmall] || probe.isInstanceOf[Snapshots.KeysOpaqueSmall]
      val bad = Seq(false, true).flatMap { anti =>
        val got = Snapshots.keyed(rows, "k", probe, keys, anti)
        val want = ids(joined(rows, keys, anti))
        Seq(
          if (ids(got) != want) Some(s"anti=$anti: ${ids(got)} != $want") else None,
          if ((floating(colType) || floating(keyType)) && !hasJoin(got)) Some(s"anti=$anti: float keys filtered")
          else None,
          if (small && colType == keyType && !floating(colType) && hasJoin(got)) Some(s"anti=$anti: joined")
          else None
        ).flatten
      }
      Prop(bad.isEmpty) :| s"$colType/$keyType local=$local rows=$rowVals keys=$keyVals: ${bad.mkString("; ")}"
    }

  /** A committed table, a verb and its key frame; a merge batch carries
    * the table's own schema. */
  private val verbCaseGen = for {
    verb <- Gen.oneOf("merge", "delete", "deleteMoR")
    types <-
      if (verb == "merge") Gen.oneOf(sameTypes).map(t => (t, t))
      else Gen.frequency(3 -> Gen.oneOf(sameTypes).map(t => (t, t)), 2 -> Gen.oneOf(crossTypes))
    rows <- values(types._1, 12).suchThat(_.nonEmpty)
    keys <- values(types._2, 8).suchThat(ks => verb != "merge" || ks.exists(_ != null))
    local <- Gen.oneOf(true, false)
  } yield (verb, types, rows, keys, local)

  property("readForKeys, merge and keyed delete equal their join forms") =
    Prop.forAllNoShrink(verbCaseGen) { case (verb, (colType, keyType), rowVals, keyVals, local) =>
      val root = tmp()
      Snapshots.commit(frame(colType, rowVals, local = false), root, statsCols = Seq("k"))
      val before = Snapshots.read(spark, root)
      val keys = frame(keyType, keyVals, local, base = 1000)
      val read = ids(Snapshots.readForKeys(spark, root, "k", keys))
      val wantRead = ids(joined(before, keys, anti = false))
      val wantAfter =
        if (verb == "merge") (ids(joined(before, keys, anti = true)) ++ ids(keys)).sorted
        else ids(joined(before, keys, anti = true))
      if (verb == "merge") Snapshots.merge(keys, root, "k")
      else Snapshots.delete(keys, root, "k", mergeOnRead = verb == "deleteMoR")
      val after = ids(Snapshots.read(spark, root))
      Prop(read == wantRead && after == wantAfter) :|
        s"$colType/$keyType $verb local=$local rows=$rowVals keys=$keyVals: " +
          s"read $read vs $wantRead, after $after vs $wantAfter"
    }

  private val dvCaseGen = for {
    files <- Gen.choose(1, 2)
    deletes <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, for {
      m <- Gen.choose(2, 50)
      r <- Gen.choose(0, 49)
      lo <- Gen.choose(0, 5999)
      span <- Gen.choose(1, 800)
      shape <- Gen.oneOf("mod", "band")
    } yield (shape, m, r % m, lo, span)))
    lo <- Gen.choose(0, 5999)
    span <- Gen.choose(1, 1500)
  } yield (files, deletes, lo, span)

  property("the deletion-vector filter equals the anti join over multi-row-group files") =
    Prop.forAllNoShrink(dvCaseGen) { case (nFiles, deletes, lo, span) =>
      import spark.implicits._
      val root = tmp()
      val hc = spark.sparkContext.hadoopConfiguration
      val oldBlock = Option(hc.get("parquet.block.size"))
      hc.set("parquet.block.size", "4096") // row groups of a few hundred rows
      try Snapshots.commit(
        spark.range(0, 6000).select(col("id").cast("int").as("v"), (col("id") * 3).as("w"))
          .repartitionByRange(nFiles, col("v")).sortWithinPartitions("v"),
        root, statsCols = Seq("v"))
      finally oldBlock.fold(hc.unset("parquet.block.size"))(hc.set("parquet.block.size", _))
      def matches(d: (String, Int, Int, Int, Int), v: Int): Boolean = d match {
        case ("mod", m, r, _, _) => v % m == r
        case (_, _, _, a, s) => v >= a && v < a + s
      }
      deletes.foreach { d =>
        val cond = d match {
          case ("mod", m, r, _, _) => col("v") % m === r
          case (_, _, _, a, s) => col("v") >= a && col("v") < a + s
        }
        Snapshots.deleteWhere(spark, root, cond, maxDvFraction = 1.0)
      }
      val m = Snapshots.manifest(spark, root, Snapshots.headVersion(spark, root))
      val positions = m.dvs.flatMap { d =>
        val it = Snapshots.dvDecode(d.b64).getLongIterator
        Iterator.continually(it).takeWhile(_.hasNext).map(i => (d.file, i.next())).toSeq
      }.toDF("f", "p")
      val antiJoined = spark.read.parquet(m.files: _*)
        .select(col("v"), element_at(split(col("_metadata.file_path"), "/"), -1).as("f"),
          col("_metadata.row_index").as("p"))
        .join(positions, Seq("f", "p"), "left_anti")
      val live = (0 until 6000).filterNot(v => deletes.exists(matches(_, v)))
      val band = col("v") >= lo && col("v") < lo + span
      val got = ids(Snapshots.read(spark, root))
      val gotBand = ids(Snapshots.readWhere(spark, root, band))
      val wantBand = ids(antiJoined.filter(band))
      val rowGroups = m.files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), hc))
        try r.getRowGroups.size finally r.close()
      }
      Prop(rowGroups.forall(_ > 2) && got == ids(antiJoined) && got == live && gotBand == wantBand &&
        gotBand == live.filter(v => v >= lo && v < lo + span)) :|
        s"files=$nFiles deletes=$deletes band=[$lo, ${lo + span}) row groups $rowGroups: " +
          s"${got.size} live rows read, ${live.size} expected"
    }
}
