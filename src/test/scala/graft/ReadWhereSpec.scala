package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.Snapshots

/** [[Snapshots.readWhere]] — predicate-driven automatic file pruning: the
  * caller's arbitrary filter Column is mined (from the ANALYZED Catalyst
  * predicate) for range/point/IN constraints on stats columns, the file
  * list shrinks, and the result stays exactly `read().filter(cond)`.
  */
class ReadWhereSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    "file:" + Files.createTempDirectory("rw").toString + "/t"

  /** 800 rows range-clustered on id into 8 tight ~100-wide files; `x` is a
    * second stats column (id % 7 — every file spans its full range, so x
    * predicates never prune here: the conservative path), `s` a string
    * column with no stats at all. */
  private def build(): String = {
    val root = tmp()
    val df = spark.range(0, 800)
      .select($"id", ($"id" % 7).as("x"),
        concat(lit("s"), ($"id" % 3).cast("string")).as("s"))
      .repartitionByRange(8, $"id").sortWithinPartitions("id")
    Snapshots.commit(df, root, statsCols = Seq("id", "x"))
    root
  }

  private def exactVs(root: String, cond: org.apache.spark.sql.Column): Unit = {
    val got = Snapshots.readWhere(spark, root, cond)
      .select("id").as[Long].collect().sorted.toSeq
    val want = Snapshots.read(spark, root).filter(cond)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === want, s"readWhere drifted from read().filter for $cond")
  }

  test("a compound WHERE prunes to the id band's files and stays exact") {
    val root = build()
    // band on the clustered column AND an opaque string conjunct: the id
    // band prunes, the string conjunct contributes nothing, result exact
    val cond = col("id") >= 250 && col("id") < 350 && col("s") =!= "s1"
    val pruned = Snapshots.readWhere(spark, root, cond)
    assert(pruned.inputFiles.length <= 2,
      s"kept ${pruned.inputFiles.length} of 8 files for a 100-wide band")
    exactVs(root, cond)
  }

  test("equality, reversed operands, and IN lists all prune") {
    val root = build()
    val eq = Snapshots.readWhere(spark, root, col("id") === 400)
    assert(eq.inputFiles.length <= 1)
    exactVs(root, col("id") === 400)

    // literal-on-the-left spellings mine the same band
    val rev = lit(350L) <= col("id") && lit(449L) >= col("id")
    assert(Snapshots.readWhere(spark, root, rev).inputFiles.length <= 2)
    exactVs(root, rev)

    // IN prunes by per-file key membership: 3 scattered points whose
    // global envelope spans ~all files still open at most 3
    val in = col("id").isin(5L, 305L, 605L)
    assert(Snapshots.readWhere(spark, root, in).inputFiles.length <= 3)
    exactVs(root, in)
  }

  test("unminable shapes stay conservative and exact") {
    val root = build()
    // an OR prunes by the union of its sides; x spans every file, so all
    // files survive
    val or = col("x") === 3 || col("id") < 10
    assert(Snapshots.readWhere(spark, root, or).inputFiles.length === 8)
    exactVs(root, or)
    // stats-less string predicate: nothing to mine
    exactVs(root, col("s") === "s2")
    // a non-constraining stats-column predicate (x spans every file)
    exactVs(root, col("x") === 3)
  }

  test("the analyzer's widening casts don't defeat pruning") {
    val root = build()
    // a DOUBLE literal coerces the long column: Cast(id as double) > 650.5
    // — widening, looked through, the top band's files only
    val c = col("id") > 650.5
    assert(Snapshots.readWhere(spark, root, c).inputFiles.length <= 2)
    exactVs(root, c)
  }

  test("a band beyond every file reads nothing") {
    val root = build()
    assert(Snapshots.readWhere(spark, root, col("id") > 5000).count() === 0)
    assert(Snapshots.readWhere(spark, root,
      col("id") === 900 && col("s") === "s0").count() === 0)
  }

  test("randomized predicates: readWhere ≡ read().filter, always") {
    val root = build()
    val rnd = new scala.util.Random(7)
    (1 to 12).foreach { _ =>
      val lo = rnd.nextInt(900).toLong
      val hi = lo + rnd.nextInt(300)
      val cond = rnd.nextInt(4) match {
        case 0 => col("id") >= lo && col("id") <= hi
        case 1 => col("id") === lo
        case 2 => col("id") > lo && col("x") <= rnd.nextInt(7)
        case 3 => col("id").isin(lo, hi, lo + 17) && col("s") =!= "s0"
      }
      exactVs(root, cond)
    }
  }
}
