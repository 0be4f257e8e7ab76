package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DateType, IntegerType, LongType}

/** Optimizer rule: rewrite a date-interval theta join into a binned
  * equi-join.
  *
  * Spark has no native range-join optimization: an inner join whose only
  * condition is `p >= lo AND p <= date_add(lo, k)` plans as a broadcast
  * nested-loop (or cartesian) join — O(|points|·|intervals|) comparisons,
  * the classic 100 TB cliff when the interval side outgrows a broadcast.
  * This rule injects the standard binning rewrite at the logical level:
  *
  *   - each point row computes its (k+1)-day-wide bin number;
  *   - each interval row explodes to the (≤2) bins it overlaps
  *     (the window spans k+1 days, so the bin quotient increases by at
  *     most one across it — also true around the epoch where integral
  *     division truncates toward zero and bin 0 is double-width);
  *   - the join gains the bin-equality conjunct and keeps the original
  *     range residual, so the planner sees an equi-join: hash-partitioned,
  *     shuffle-parallel, AQE-skew-splittable.
  *
  * A (point, interval) pair can only collide in the point's single bin,
  * so the rewrite produces no duplicates and needs no post-join dedup —
  * results are identical to the nested-loop plan. INNER joins only: for
  * outer joins the exploded interval side would null-pad once per
  * unmatched bin replica. The rule fires only when the join condition is
  * exactly the two range conjuncts (any extra equi-conjunct already gives
  * the planner a hash join, and the 3-conjunct rewritten node can never
  * re-match — the rule is fixed-point-safe inside the operator-
  * optimization batch).
  *
  * Registered through `SparkSessionExtensions.injectOptimizerRule` (see
  * [[graft.SessionDefaults]]); off under [[graft.Plain]]
  * (`spark.graft.plain=true`).
  */
object RangeJoinBinning extends Rule[LogicalPlan] {

  private case class RangePred(p: Expression, lo: Expression, k: Int)

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConj(a) ++ splitConj(b)
    case x => Seq(x)
  }

  /** Match `p >= lo AND p <= date_add(lo, k)` (either conjunct order). */
  private def matchRange(conjs: Seq[Expression]): Option[RangePred] = {
    if (conjs.length != 2) return None
    val cands = for {
      a <- conjs; b <- conjs if a ne b
      rp <- (a, b) match {
        case (GreaterThanOrEqual(p1, l1),
              LessThanOrEqual(p2, DateAdd(l2, Literal(k: Int, IntegerType))))
            if p1.semanticEquals(p2) && l1.semanticEquals(l2) &&
               p1.dataType == DateType && l1.dataType == DateType &&
               k >= 0 && k <= 3660 =>
          Some(RangePred(p1, l1, k))
        case _ => None
      }
    } yield rp
    cands.headOption
  }

  private def dayOf(e: Expression): Expression =
    DateDiff(e, Literal(0, DateType)) // days since epoch, IntegerType

  private def binOf(day: Expression, width: Long): Expression =
    IntegralDivide(Cast(day, LongType), Literal(width))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (graft.Plain(conf)) plan
    else plan.transform {
      // no guard on the case: matchRange walks the conjuncts once here
      // and non-matching joins fall through via the None branches below
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        matchRange(splitConj(cond)) match {
          case None => j
          case Some(rp) => rewrite(j, left, right, cond, hint, rp)
        }
    }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                      cond: Expression, hint: JoinHint,
                      rp: RangePred): LogicalPlan = {
    val pointIsLeft =
      if (rp.p.references.subsetOf(left.outputSet) &&
          rp.lo.references.subsetOf(right.outputSet)) Some(true)
      else if (rp.p.references.subsetOf(right.outputSet) &&
               rp.lo.references.subsetOf(left.outputSet)) Some(false)
      else None
    pointIsLeft match {
      case None => j // predicate straddles sides in a way we don't bin
      case Some(ptLeft) =>
        val width = rp.k + 1L
        val ptChild = if (ptLeft) left else right
        val ivChild = if (ptLeft) right else left
        val ptAlias = Alias(binOf(dayOf(rp.p), width), "__graft_bin_pt")()
        val newPt = Project(ptChild.output :+ ptAlias, ptChild)
        val b1 = binOf(dayOf(rp.lo), width)
        val b2 = binOf(Add(dayOf(rp.lo), Literal(rp.k)), width)
        val gen = Explode(ArrayDistinct(CreateArray(Seq(b1, b2))))
        val el = gen.elementSchema.head
        val ivAttr =
          AttributeReference("__graft_bin_iv", el.dataType, el.nullable)()
        val newIv = Generate(gen, Nil, outer = false, None,
                             Seq(ivAttr), ivChild)
        val newCond = And(EqualTo(ptAlias.toAttribute, ivAttr), cond)
        val (nl, nr) = if (ptLeft) (newPt, newIv) else (newIv, newPt)
        Project(j.output, Join(nl, nr, Inner, Some(newCond), hint))
    }
    }
}
