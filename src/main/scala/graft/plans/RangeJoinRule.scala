package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.LongType

/** Auto-rewrite of range theta-joins to binned equi-joins (SURVEY.md §7.5).
  *
  * A join whose only cross-side predicate is a time-range band —
  * `b.t > a.t AND b.t <= a.t + W` with no equality conjunct — has no hash
  * key, so Spark plans a BroadcastNestedLoopJoin: O(|a|·|b|), dead at
  * 100 TB. This rule rewrites it, so a user can write the natural
  * theta-join and still get the scalable plan (the rewrite open-source
  * Spark lacks):
  *
  *   - the reference-point side gains bucket `floor(t / W)` and explodes
  *     its two candidate buckets {b, b+1} (band width == bucket width, so
  *     two buckets always cover the band);
  *   - the other side gains its own bucket;
  *   - the join becomes an equi-join on the bucket with the ORIGINAL
  *     predicate kept as residual — semantics are unchanged by
  *     construction, the bucket equality only prunes candidates.
  *
  * Fires only on the provably-safe shape: INNER join, both band endpoints
  * are bare LongType attributes from opposite sides (exact integer time,
  * e.g. unix_micros), band width a positive Long literal, and no
  * cross-side equality conjunct (if one exists Spark already hash-joins on
  * it; and the rewrite's own bucket equality stops the rule re-firing on
  * its output). Floor division is built as `(t - pmod(t, W)) div W` — the
  * pmod subtraction makes the dividend an exact multiple, so `div`
  * truncation equals mathematical floor for negative times too.
  *
  * Registered via [[graft.GraftExtensions]] (injectOptimizerRule) for
  * production sessions; tests and registry queries attach it to existing
  * sessions through `spark.experimental.extraOptimizations`.
  */
object RangeJoinRewriteRule extends Rule[LogicalPlan] with PredicateHelper {

  /** `big` lies in [small, small + width] (possibly strict at either end —
    * strictness stays in the residual predicate and does not affect
    * bucket coverage, which only needs 0 <= big - small <= width).
    */
  private case class Band(small: AttributeReference, big: AttributeReference,
      width: Long)

  private def longAttr(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference if a.dataType == LongType => Some(a)
    case _ => None
  }

  /** Conjunct asserting big >= small (or strictly >). */
  private def lowerBound(e: Expression): Option[(AttributeReference, AttributeReference)] =
    e match {
      case GreaterThan(b, a)        => for (x <- longAttr(a); y <- longAttr(b)) yield (x, y)
      case GreaterThanOrEqual(b, a) => for (x <- longAttr(a); y <- longAttr(b)) yield (x, y)
      case LessThan(a, b)           => for (x <- longAttr(a); y <- longAttr(b)) yield (x, y)
      case LessThanOrEqual(a, b)    => for (x <- longAttr(a); y <- longAttr(b)) yield (x, y)
      case _ => None
    }

  private def addWithLit(e: Expression): Option[(AttributeReference, Long)] =
    e match {
      case Add(a, Literal(w: Long, LongType), _) => longAttr(a).map((_, w))
      case Add(Literal(w: Long, LongType), a, _) => longAttr(a).map((_, w))
      case _ => None
    }

  /** Conjunct asserting big <= small + width (or strictly <). */
  private def upperBound(e: Expression): Option[(AttributeReference, AttributeReference, Long)] =
    e match {
      case LessThanOrEqual(b, add)    => for (y <- longAttr(b); (x, w) <- addWithLit(add)) yield (x, y, w)
      case LessThan(b, add)           => for (y <- longAttr(b); (x, w) <- addWithLit(add)) yield (x, y, w)
      case GreaterThanOrEqual(add, b) => for (y <- longAttr(b); (x, w) <- addWithLit(add)) yield (x, y, w)
      case GreaterThan(add, b)        => for (y <- longAttr(b); (x, w) <- addWithLit(add)) yield (x, y, w)
      case _ => None
    }

  private def crossSideEquality(conjuncts: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan): Boolean =
    conjuncts.exists {
      case e @ (_: EqualTo | _: EqualNullSafe) =>
        e.references.intersect(left.outputSet).nonEmpty &&
          e.references.intersect(right.outputSet).nonEmpty
      case _ => false
    }

  private def findBand(conjuncts: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan): Option[Band] = {
    val lowers = conjuncts.flatMap(lowerBound)
    val uppers = conjuncts.flatMap(upperBound)
    uppers.collectFirst {
      case (small, big, w)
          if w > 0 && lowers.contains((small, big)) &&
            ((left.outputSet.contains(small) && right.outputSet.contains(big)) ||
              (right.outputSet.contains(small) && left.outputSet.contains(big))) =>
        Band(small, big, w)
    }
  }

  /** floor(t / w) in exact integer arithmetic (matches DuckDB `//`). */
  private def floorDiv(t: Expression, w: Long): Expression =
    IntegralDivide(Subtract(t, Pmod(t, Literal(w))), Literal(w))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjunctivePredicates(cond)
      if (crossSideEquality(conjuncts, left, right)) j
      else findBand(conjuncts, left, right) match {
        case None => j
        case Some(band) => rewrite(j, band)
      }
  }

  private def rewrite(j: Join, band: Band): LogicalPlan = {
    val Join(left, right, _, Some(cond), hint) = j: @unchecked
    val Band(small, big, width) = band
    val smallIsLeft = left.outputSet.contains(small)
    val (smallSide, bigSide) = if (smallIsLeft) (left, right) else (right, left)

    // reference-point side: bucket + explode the two candidates
    val pb = Alias(floorDiv(small, width), "_rj_pb")()
    val projSmall = Project(smallSide.output :+ pb, smallSide)
    val gen = Explode(CreateArray(Seq(
      pb.toAttribute, Add(pb.toAttribute, Literal(1L)))))
    val genOut = DataTypeUtils.toAttributes(gen.elementSchema)
      .map(_.withName("_rj_cb"))
    val exploded = Generate(gen, unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = genOut, child = projSmall)

    // other side: its own bucket
    val eb = Alias(floorDiv(big, width), "_rj_eb")()
    val projBig = Project(bigSide.output :+ eb, bigSide)

    val newCond = And(EqualTo(genOut.head, eb.toAttribute), cond)
    val rejoined =
      if (smallIsLeft) Join(exploded, projBig, Inner, Some(newCond), hint)
      else Join(projBig, exploded, Inner, Some(newCond), hint)
    Project(j.output, rejoined)
  }
}
