package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** Optimizer rule: an aggregation whose input is a scan chain over a
  * provably tiny file relation is pinned to one partition
  * (`Repartition(1, shuffle = false)`), which turns the usual
  * partial-agg → hash exchange → final-agg plan into a single fused
  * stage: `Coalesce(1)` reports `SinglePartition`, which satisfies every
  * clustered distribution, so no exchange is planned at all (and a
  * downstream global sort needs no range exchange either).
  *
  * Why: when the whole relation fits in one scan split, the scan — and
  * therefore the partial aggregate, where all the per-row work happens —
  * already runs in a single task. The shuffle between partial and final
  * aggregation then buys zero parallelism and costs a full extra stage:
  * shuffle-file write + AQE stage boundary + task-wave scheduling
  * (~0.1 s fixed on the bench host; TESTDATA.md has the measurement).
  * This is the Spark analogue of the reference's single-threaded
  * per-file engine (reference runner.cc:200 — `maximum_threads = 1`):
  * one tiny file never merits a parallel plan.
  *
  * Why this is scale-safe where an unconditional `coalesce(1)` is not:
  * the guard is the relation's EXACT on-disk byte size (summed from the
  * file index — not a cardinality estimate), compared against a
  * threshold far below any input whose decode would benefit from fanning
  * out (`maxBytes`, 16 MiB ≈ one default scan-split budget). At 100 TB the
  * guard fails by seven orders of magnitude and the normal exchange
  * plan stands. The pattern also requires the aggregate to sit directly
  * on the scan chain (Project/Filter only — never a join/generate/union,
  * whose output can dwarf the scanned bytes).
  *
  * Trade documented: a tiny relation with several row groups loses its
  * ≤4-way decode parallelism; for ≤16 MiB inputs the serial decode is
  * bounded by ~0.2 s, less than the exchange it removes. Fixed-point
  * safe: the inserted Repartition breaks the scan-chain pattern, so the
  * rule cannot re-fire on its own output.
  *
  * Off under [[graft.Plain]] (`spark.graft.plain=true`).
  */
case class TinyAggSingularize(maxBytes: Long = 16L << 20)
    extends Rule[LogicalPlan] {

  /** True iff `p` is Project/Filter steps over a single file relation
    * whose exact total size is under the threshold. */
  private def tinyScanChain(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => tinyScanChain(child)
    case Filter(_, child) => tinyScanChain(child)
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.sizeInBytes <= maxBytes
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (graft.Plain(conf)) plan
    else plan.transformUp {
      case a @ Aggregate(_, _, child, _) if tinyScanChain(child) =>
        a.copy(child = Repartition(1, shuffle = false, child))
    }
}
