package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.engine.{Incremental, Snapshots}

/** Randomized lifecycle property for the incremental aggregate state:
  * for ANY sequence of snapshot operations — append, copy-on-write merge
  * (update+insert), delete-by-key, overwrite, compaction — refreshing
  * after every step leaves the stored state bit-identical to a
  * from-scratch recompute of the head. The in-memory model is the table's
  * row multiset; the signed-delta cancellation (carried rewrites, merge
  * D/I images, compaction churn) has to hold against whatever file layout
  * the operations happened to produce.
  */
object IncrementalProps extends Properties("Incremental") {

  // each case drives real snapshot commits + refreshes; keep the count
  // modest (the lifecycle inside each case is itself multi-step)
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    PropCases(p, 8)

  private val spark = SparkSpec.spark
  import spark.implicits._

  private sealed trait Op
  private case class Append(rows: List[(Long, String, Long)]) extends Op
  private case class Merge(rows: List[(Long, String, Long)]) extends Op
  private case class Delete(keys: List[Long]) extends Op
  private case class Overwrite(rows: List[(Long, String, Long)]) extends Op
  private case object Compact extends Op
  private case object Restore extends Op

  private val grps = Seq("a", "b", "c")
  private def rowGen(ids: Gen[Long]): Gen[(Long, String, Long)] = for {
    id <- ids
    g <- Gen.oneOf(grps)
    v <- Gen.choose(0L, 1000L)
  } yield (id, g, v)

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.nonEmptyListOf(rowGen(Gen.choose(0L, 200L))).map(Append.apply),
    3 -> Gen.nonEmptyListOf(rowGen(Gen.choose(0L, 200L))).map(Merge.apply),
    2 -> Gen.nonEmptyListOf(Gen.choose(0L, 200L)).map(Delete.apply),
    1 -> Gen.nonEmptyListOf(rowGen(Gen.choose(0L, 200L))).map(Overwrite.apply),
    2 -> Gen.const(Compact),
    // source-table rollback (round 8): restore is a content-CHANGING new
    // commit; the next refresh must fold the inverse delta exactly
    1 -> Gen.const(Restore))

  private val caseGen: Gen[(List[(Long, String, Long)], List[Op])] = for {
    base <- Gen.nonEmptyListOf(rowGen(Gen.choose(0L, 200L)))
    ops <- Gen.listOfN(4, opGen)
  } yield (base, ops)

  private def df(rows: Seq[(Long, String, Long)]) = rows.toDF("id", "grp", "v")

  private def dedupByKey(rows: List[(Long, String, Long)]) =
    rows.groupBy(_._1).map(_._2.last).toList // merge/overwrite batches: one row per key

  property("refresh after every op ≡ recompute of the head") =
    Prop.forAll(caseGen) { case (base, ops) =>
      val root = "file:" + Files.createTempDirectory("incrp").toString + "/t"
      val agg = "file:" + Files.createTempDirectory("incrp").toString + "/a"
      Snapshots.commit(df(dedupByKey(base)), root, statsCols = Seq("id"))

      def stateOk(): Boolean = {
        Incremental.refresh(spark, root, agg, Seq("grp"), Seq("v"))
        val got = Snapshots.read(spark, agg)
          .select("grp", "n_rows", "sum_v")
          .as[(String, Long, BigDecimal)].collect().toSet
        val want = Snapshots.read(spark, root)
          .groupBy("grp")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast("decimal(38,6)")).cast("decimal(38,6)").as("s"))
          .as[(String, Long, BigDecimal)].collect().toSet
        got == want
      }

      stateOk() && ops.forall { op =>
        op match {
          case Append(rows) =>
            // append can duplicate ids; the state counts rows, not keys
            Snapshots.commit(df(rows), root, append = true, statsCols = Seq("id"))
          case Merge(rows) =>
            Snapshots.merge(df(dedupByKey(rows)), root, "id", statsCols = Seq("id"))
          case Delete(keys) =>
            Snapshots.delete(keys.toDF("id"), root, "id", statsCols = Seq("id"))
          case Overwrite(rows) =>
            Snapshots.commit(df(dedupByKey(rows)), root, statsCols = Seq("id"))
          case Compact =>
            Snapshots.compact(spark, root, targetFiles = 2, statsCols = Seq("id"))
          case Restore =>
            Snapshots.restore(spark, root, 1)
        }
        stateOk()
      }
    }

  property("refreshKeyed after every op ≡ recompute of the head") =
    Prop.forAll(caseGen) { case (base, ops) =>
      val root = "file:" + Files.createTempDirectory("incrpk").toString + "/t"
      val agg = "file:" + Files.createTempDirectory("incrpk").toString + "/a"
      Snapshots.commit(df(dedupByKey(base)), root, statsCols = Seq("id"))

      def stateOk(): Boolean = {
        Incremental.refreshKeyed(spark, root, agg, Seq("grp"), Seq("v"),
          stateFiles = 3)
        val got = Incremental.readKeyed(spark, agg, Seq("v"))
          .select(col("grp"), col("n_rows"),
            col("sum_v").cast("decimal(38,6)"))
          .as[(String, Long, BigDecimal)].collect().toSet
        val want = Snapshots.read(spark, root)
          .groupBy("grp")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast("decimal(38,6)")).cast("decimal(38,6)").as("s"))
          .as[(String, Long, BigDecimal)].collect().toSet
        got == want
      }

      stateOk() && ops.forall { op =>
        op match {
          case Append(rows) =>
            Snapshots.commit(df(rows), root, append = true, statsCols = Seq("id"))
          case Merge(rows) =>
            Snapshots.merge(df(dedupByKey(rows)), root, "id", statsCols = Seq("id"))
          case Delete(keys) =>
            Snapshots.delete(keys.toDF("id"), root, "id", statsCols = Seq("id"))
          case Overwrite(rows) =>
            Snapshots.commit(df(dedupByKey(rows)), root, statsCols = Seq("id"))
          case Compact =>
            Snapshots.compact(spark, root, targetFiles = 2, statsCols = Seq("id"))
          case Restore =>
            Snapshots.restore(spark, root, 1)
        }
        stateOk()
      }
    }

  // the additive-sketch claim under fire: random lifecycles (incl. deletes
  // and restores) must keep the maintained histogram BIT-identical to a
  // direct bin recompute — there is no touched-group recompute path to
  // hide behind, cancellation alone has to carry it
  property("refreshHistogram after every op ≡ bin recompute of the head") =
    Prop.forAll(caseGen) { case (base, ops) =>
      val root = "file:" + Files.createTempDirectory("incrph").toString + "/t"
      val agg = "file:" + Files.createTempDirectory("incrph").toString + "/a"
      Snapshots.commit(df(dedupByKey(base)), root, statsCols = Seq("id"))

      def stateOk(): Boolean = {
        Incremental.refreshHistogram(spark, root, agg, Seq("grp"), "v", 25.0)
        val got = Snapshots.read(spark, agg)
          .select("grp", "__bin", "n_rows")
          .as[(String, Long, Long)].collect().toSet
        val want = Snapshots.read(spark, root)
          .withColumn("__bin", floor(col("v").cast("double") / 25.0).cast("long"))
          .groupBy("grp", "__bin").agg(count(lit(1)).as("n"))
          .as[(String, Long, Long)].collect().toSet
        got == want
      }

      stateOk() && ops.forall { op =>
        op match {
          case Append(rows) =>
            Snapshots.commit(df(rows), root, append = true, statsCols = Seq("id"))
          case Merge(rows) =>
            Snapshots.merge(df(dedupByKey(rows)), root, "id", statsCols = Seq("id"))
          case Delete(keys) =>
            Snapshots.delete(keys.toDF("id"), root, "id", statsCols = Seq("id"))
          case Overwrite(rows) =>
            Snapshots.commit(df(dedupByKey(rows)), root, statsCols = Seq("id"))
          case Compact =>
            Snapshots.compact(spark, root, targetFiles = 2, statsCols = Seq("id"))
          case Restore =>
            Snapshots.restore(spark, root, 1)
        }
        stateOk()
      }
    }
}
