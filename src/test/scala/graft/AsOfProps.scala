package graft

import org.apache.spark.sql.functions.lit
import org.scalacheck.{Gen, Prop, Properties}
import graft.operators.AsOf

/** Property tests for the as-of join directions against an in-memory
  * reference model: for random keyed timelines with timestamp collisions,
  * every direction must match the pandas-merge_asof rule set — backward =
  * latest right ≤ t, forward = earliest right ≥ t, nearest = the closer of
  * the two with equidistant ties going backward, and a tolerance bound
  * nulling matches beyond it. Payload values are distinct per right row so
  * the model's tie-break (max payload backward, min payload forward — the
  * operator's struct ordering) is exercised wherever timestamps collide.
  */
object AsOfProps extends Properties("AsOf") {

  // every case runs a real Spark join; 25 random timelines per direction is
  // plenty of collision coverage without minutes of wall clock
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    PropCases(p, 25)

  private val spark = SparkSpec.spark
  import spark.implicits._

  private val rowGen: Gen[(Long, Long)] = for {
    k <- Gen.choose(1L, 3L)
    t <- Gen.choose(0L, 40L)
  } yield (k, t)

  private val caseGen: Gen[(List[(Long, Long)], List[(Long, Long)], Option[Long])] = for {
    left <- Gen.nonEmptyListOf(rowGen)
    right <- Gen.nonEmptyListOf(rowGen)
    tol <- Gen.option(Gen.choose(0L, 15L))
  } yield (left, right, tol)

  /** Reference model. Right rows are (ts, payload); payload values are the
    * (distinct) row indices, so ties on ts resolve by payload exactly like
    * the operator's struct ordering. */
  private def model(
      rights: Seq[(Long, Long)], t: Long,
      direction: String, tol: Option[Long]): Option[(Long, Long)] = {
    def inTol(m: (Long, Long)) = tol.forall(x => math.abs(m._1 - t) <= x)
    val back = rights.filter(_._1 <= t)
      .sortBy(r => (r._1, r._2)).lastOption.filter(inTol)
    val fwd = rights.filter(_._1 >= t)
      .sortBy(r => (r._1, r._2)).headOption.filter(inTol)
    direction match {
      case "backward" => back
      case "forward"  => fwd
      case "nearest"  => (back, fwd) match {
        case (Some(b), Some(f)) => if (f._1 - t < t - b._1) Some(f) else Some(b)
        case (b, f) => b.orElse(f)
      }
    }
  }

  private def check(direction: String): Prop = Prop.forAll(caseGen) {
    case (left, right, tol) =>
      val l = left.toDF("k", "t")
      // payload v = distinct row index → deterministic tie-break everywhere
      val r = right.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "v")
      val got = AsOf.join(l, r, Seq("k"), "t", "t", direction, tol.map(lit(_)))
        .select("k", "t", "v", "matched_t")
        .as[(Long, Long, Option[Long], Option[Long])].collect()
        .groupBy(r => (r._1, r._2)).view.mapValues(_.map(x => (x._4, x._3)).toSet).toMap
      val rightByKey = right.zipWithIndex
        .map { case ((k, t), i) => (k, (t, i.toLong)) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val want = left.distinct.map { case (k, t) =>
        val m = model(rightByKey.getOrElse(k, Nil), t, direction, tol)
        (k, t) -> Set((m.map(_._1), m.map(_._2)))
      }.toMap
      Prop(got == want) :| s"dir=$direction got=$got want=$want"
  }

  property("backward matches the latest-at-or-before model") = check("backward")
  property("forward matches the earliest-at-or-after model") = check("forward")
  property("nearest picks the closer side, backward on ties") = check("nearest")
}
