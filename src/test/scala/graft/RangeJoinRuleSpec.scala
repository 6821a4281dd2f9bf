package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.RangeJoinRewriteRule

/** The range theta-join auto-rewrite: same rows as the nested-loop plan,
  * no nested-loop in the physical plan, narrow trigger conditions.
  */
class RangeJoinRuleSpec extends SparkSpec {

  private def withRule[T](body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ RangeJoinRewriteRule
    try body
    finally spark.experimental.extraOptimizations = prev
  }

  private def fixtures: (DataFrame, DataFrame) = {
    import spark.implicits._
    // a_ts = -250 exercises floor (not truncate) bucketing below zero
    val a = Seq((1L, 100L), (2L, 950L), (3L, -250L)).toDF("a_id", "a_ts")
    val b = Seq((10L, 150L), (11L, 1000L), (12L, 1100L), (13L, -200L),
      (14L, 2000L), (15L, 100L)).toDF("b_id", "b_ts")
    (a, b)
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Ground truth computed driver-side in plain Scala — independent of
    * Spark's planner entirely (the session-wide injected rule would
    * otherwise rewrite the "naive" plan too).
    */
  private def brute(lowerInclusive: Boolean): Set[(Long, Long)] = {
    val (a, b) = fixtures
    val as = a.collect().map(r => (r.getLong(0), r.getLong(1)))
    val bs = b.collect().map(r => (r.getLong(0), r.getLong(1)))
    (for {
      (aId, aTs) <- as
      (bId, bTs) <- bs
      if (if (lowerInclusive) bTs >= aTs else bTs > aTs) && bTs <= aTs + 300L
    } yield (aId, bId)).toSet
  }

  test("band join rewrites away the nested loop and keeps exactly the theta-join rows") {
    val (a, b) = fixtures
    val cond = col("b_ts") > col("a_ts") &&
      col("b_ts") <= col("a_ts") + 300L
    val naive = brute(lowerInclusive = false)
    val (got, plan) = withRule {
      val df = a.join(b, cond)
      (pairs(df), df.queryExecution.executedPlan.toString)
    }
    assert(got == naive)
    assert(got == Set((1L, 10L), (2L, 11L), (2L, 12L), (3L, 13L)))
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"rewrite did not fire:\n$plan")
  }

  test("mirrored orientation and inclusive bounds rewrite too") {
    val (a, b) = fixtures
    // same band written from the other direction, >= lower bound, and
    // with the band side as the LEFT join input
    val cond = col("a_ts") <= col("b_ts") &&
      col("a_ts") + 300L >= col("b_ts")
    val naive = brute(lowerInclusive = true)
    val (got, plan) = withRule {
      val df = b.join(a, cond)
      (pairs(df), df.queryExecution.executedPlan.toString)
    }
    assert(got == naive)
    assert(got.contains((1L, 15L))) // b_ts == a_ts kept by the inclusive bound
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"))
  }

  test("BETWEEN bands rewrite (desugars to the >= / <= conjunct pair)") {
    val (a, b) = fixtures
    val cond = col("b_ts").between(col("a_ts"), col("a_ts") + 300L)
    val naive = brute(lowerInclusive = true)
    val (got, plan) = withRule {
      val df = a.join(b, cond)
      (pairs(df), df.queryExecution.executedPlan.toString)
    }
    assert(got == naive)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"rewrite did not fire on BETWEEN:\n$plan")
  }

  test("joins with a cross-side equality conjunct are left untouched") {
    val (a, b) = fixtures
    withRule {
      // equality present: Spark hash-joins on it already; no bucket helpers
      val eqCond = col("a_id") === col("b_id") &&
        col("b_ts") > col("a_ts") && col("b_ts") <= col("a_ts") + 300L
      val opt = a.join(b, eqCond).queryExecution.optimizedPlan.toString
      assert(!opt.contains("_rj_"), s"rule fired on an equi-join:\n$opt")
    }
    // and a non-literal width never matches the band pattern
    withRule {
      val dynCond = col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + col("b_id")
      val opt = a.join(b, dynCond).queryExecution.optimizedPlan.toString
      assert(!opt.contains("_rj_"), s"rule fired on a dynamic width:\n$opt")
    }
  }

  test("randomized equivalence: rewritten plan matches driver-side brute force") {
    import spark.implicits._
    // probe t=-3, width 10: the band (-3, 7] catches build t=-1 and t=5.
    // Truncate-toward-zero bucketing would put -3 in bucket 0 (floor: -1)
    // and miss the build row in bucket -1.
    val (got0, plan0) = withRule {
      val df = Seq((1L, -3L)).toDF("a_id", "a_ts").join(
        Seq((10L, -4L), (11L, -1L), (12L, 5L), (13L, 8L)).toDF("b_id", "b_ts"),
        col("b_ts") > col("a_ts") && col("b_ts") <= col("a_ts") + 10L)
      (pairs(df), df.queryExecution.executedPlan.toString)
    }
    assert(got0 == Set((1L, 11L), (1L, 12L)))
    assert(!plan0.contains("NestedLoop") && !plan0.contains("Cartesian"), plan0)
    val rnd = new scala.util.Random(20260812L) // fixed seed: deterministic
    for (trial <- 1 to 3) {
      val width = Seq(7L, 100L, 1000L)(trial - 1)
      // ts ranges straddle zero and include exact bucket boundaries
      val as = (1L to 150L).map(i => (i, rnd.between(-2000L, 2000L)))
      val bs = (1L to 150L).map(i => (i + 1000L, rnd.between(-2000L, 2000L)))
      val expected = (for {
        (aId, aTs) <- as; (bId, bTs) <- bs
        if bTs > aTs && bTs <= aTs + width
      } yield (aId, bId)).toSet
      val got = pairs(
        as.toDF("a_id", "a_ts").join(bs.toDF("b_id", "b_ts"),
          col("b_ts") > col("a_ts") && col("b_ts") <= col("a_ts") + width))
      assert(got == expected, s"trial $trial (width $width)")
    }
  }

  test("outer range joins are not rewritten (inner-only rule)") {
    val (a, b) = fixtures
    val cond = col("b_ts") > col("a_ts") &&
      col("b_ts") <= col("a_ts") + 300L
    withRule {
      val opt = a.join(b, cond, "left")
        .queryExecution.optimizedPlan.toString
      assert(!opt.contains("_rj_"), s"rule fired on an outer join:\n$opt")
    }
  }
}
