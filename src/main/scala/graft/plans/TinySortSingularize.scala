package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** AQE runtime rewrite: a GLOBAL sort whose input is a materialized query
  * stage with runtime-exact tiny statistics is rewritten to
  * `Repartition(1) + local sort`.
  *
  * Why: a global sort plans as a range exchange, which costs a separate
  * boundary-sampling job plus a shuffle — pure overhead when the input is a
  * few thousand rows (the common tail of an aggregate-then-ORDER BY query,
  * e.g. the flagship's ~3k-group result). A single-partition local sort of
  * the same input produces the identical total order without either.
  *
  * Why this is scale-safe where a hard-coded `repartition(1)` is not: the
  * rule is injected as an AQE RUNTIME optimizer rule, so it only ever sees
  * plans in which the sort's child is an already-materialized stage with
  * EXACT size statistics (`LogicalQueryStage` + `isMaterialized`). At
  * 100 TB the aggregate output is large, the guard fails, and the normal
  * sampled range sort stands. Estimated (pre-runtime) statistics never
  * trigger the rewrite.
  *
  * Threshold: 4 MiB, far below any input that benefits from a parallel
  * sort. Off under [[graft.Plain]] (`spark.graft.plain=true`).
  */
object TinySortSingularize extends Rule[LogicalPlan] {

  private val maxBytes = 4L << 20

  /** True iff the plan's size bound is runtime-exact and under the
    * threshold: the sort input must sit on a MATERIALIZED AQE stage whose
    * exact size is ≤ maxBytes, reached only through operators that cannot
    * expand data (Project/Filter/Aggregate — the post-shuffle tail of an
    * aggregate-then-sort query; never a join/generate/expand/union). The
    * intervening operators' own estimated stats must also stay under the
    * threshold, so a row-width-inflating projection cannot sneak through. */
  private def materializedTiny(p: LogicalPlan): Boolean =
    p.stats.sizeInBytes <= maxBytes && (p match {
      case lqs: org.apache.spark.sql.execution.adaptive.LogicalQueryStage =>
        // physicalPlan is either the stage itself or a post-shuffle tail
        // (e.g. final HashAggregate) over stage leaves — runtime-exact
        // stats either way once every underlying stage is materialized.
        lqs.physicalPlan match {
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            qs.isMaterialized
          case other =>
            val stages = other.collectLeaves().collect {
              case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q
            }
            stages.nonEmpty && stages.forall(_.isMaterialized)
        }
      case Project(_, child) => materializedTiny(child)
      case Filter(_, child) => materializedTiny(child)
      case Aggregate(_, _, child, _) => materializedTiny(child)
      case _ => false
    })

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (graft.Plain(conf)) plan
    else plan.transformUp {
      // shuffle = false (coalesce): the child is a materialized stage,
      // so a narrow 1-partition merge reads its output directly in the
      // sort's own task — no second shuffle write. When AQE has already
      // coalesced the agg exchange to one partition this is a pure
      // no-op and the local sort fuses into the final-agg stage.
      case Sort(order, true, child, hint) if materializedTiny(child) =>
        Sort(order, global = false,
          Repartition(1, shuffle = false, child), hint)
    }
}
