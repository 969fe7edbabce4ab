package graft.plans

import graft.SparkSuite
import org.scalacheck.{Gen, Test}
import org.scalacheck.Prop.forAll

/** Property fuzz for the custom as-of exec: arbitrary small inputs with
  * FORCED collisions (4 keys, 20 time values, duplicate times, empty
  * sides) against a brute-force in-memory reference of the declared
  * semantics — greatest (time, tiebreak) ≤ (left time, +∞) per key,
  * null when nothing qualifies. Each case is a real Spark job through
  * the full strategy + EnsureRequirements + merge path, so the count is
  * kept small; the deterministic AsOfJoinSpec covers volume. */
class AsOfJoinPropSpec extends SparkSuite {

  private val genRow: Gen[(Long, Long)] = for {
    u <- Gen.choose(0L, 3L)
    t <- Gen.choose(0L, 20L)
  } yield (u, t)

  private val genCase = for {
    nl <- Gen.choose(0, 15)
    nr <- Gen.choose(0, 15)
    l <- Gen.listOfN(nl, genRow)
    r <- Gen.listOfN(nr, genRow)
  } yield (l, r)

  private def reference(
      left: Seq[(Long, Long, Long)],
      right: Seq[(Long, Long, Long)]): Set[(Long, Option[(Long, Long)])] =
    left.map { case (pid, u, t) =>
      val best = right.filter(r => r._2 == u && r._3 <= t)
        .sortBy(r => (r._3, r._1)).lastOption
      (pid, best.map(b => (b._1, b._3)))
    }.toSet

  test("AsOfJoinExec.matches the brute-force reference on arbitrary inputs") {
    val prop = forAll(genCase) { case (lrows, rrows) =>
      val s = spark
      import s.implicits._
      val left = lrows.zipWithIndex
        .map { case ((u, t), i) => (i.toLong, u, t) }
      val right = rrows.zipWithIndex
        .map { case ((u, t), i) => (1000L + i, u, t) }
      val leftDf = left.toDF("p_id", "p_user", "p_ts")
      val rightDf = right.toDF("c_id", "c_user", "c_ts")
      val got = AsOfJoin(s, leftDf, rightDf,
          "p_user", "c_user", "p_ts", "c_ts", "c_id")
        .collect()
        .map { r =>
          val m = if (r.isNullAt(3)) None
            else Some((r.getLong(3), r.getLong(5)))
          (r.getLong(0), m)
        }.toSet
      got == reference(left, right)
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status)
  }
}
