package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage

/** AQE runtime rule: sort a small global `ORDER BY` in one partition.
  *
  * A global `Sort` normally reads a range exchange. Spark's range
  * partitioner first runs a sampling job that recomputes the sort's
  * whole input (everything since the last exchange) to pick the
  * partition bounds, and for a small result AQE then coalesces those
  * partitions into one anyway. When a re-optimization finds the sort's
  * input measured and small, this rule gives the `Sort` a
  * `Repartition(1)` child: the sort reads one `Exchange SinglePartition`
  * and no sampling job runs.
  *
  * The rewrite applies only when all of these hold:
  *  - the `Sort` is global and not under a `Limit`/`Offset` (top-K keeps
  *    `TakeOrderedAndProject`, which needs no exchange);
  *  - its input is not already one partition;
  *  - every leaf below it is a [[LogicalQueryStage]], so the size is a
  *    finished stage's measured bytes, not an estimate;
  *  - no `Generate` sits between the sort and those stages (an explode
  *    can multiply rows beyond the size estimate);
  *  - the input is at most `spark.sql.autoBroadcastJoinThreshold` bytes,
  *    Spark's existing bound on data gathered into one place (`-1`
  *    turns the rule off).
  *
  * Rows come out in the same order; only rows that tie on the sort key
  * may come out in a different order, which no result gate sees (they
  * hash rows after a canonical sort).
  *
  * AQE (with Spark's default cost evaluator) adopts a re-optimized plan
  * only when it has no more shuffles than the current one, so a rewrite that would add an exchange (a
  * sort whose input is already one partition or already range-
  * partitioned by its order) is planned and then dropped, never run.
  *
  * Injected into every graft session by [[graft.GraftExtensions]]
  * (`injectRuntimeOptimizerRule`). It runs only when AQE re-optimizes
  * after a stage, so initial plans never show it;
  * `spark.sql.adaptive.optimizer.excludedRules` turns it off for an A/B.
  */
object SmallSortOnePartition extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.autoBroadcastJoinThreshold < 0) plan else rewrite(plan, underLimit = false)

  private def rewrite(plan: LogicalPlan, underLimit: Boolean): LogicalPlan = {
    val below = underLimit || (plan match {
      case _: GlobalLimit | _: LocalLimit | _: Offset => true
      case _ => false
    })
    plan match {
      case s @ Sort(_, true, child, _) if !underLimit && !onePartition(child) && small(child) =>
        s.copy(child = Repartition(1, shuffle = true, rewrite(child, below)))
      case _ => plan.mapChildren(rewrite(_, below))
    }
  }

  /** This rule's own output (which keeps the rule idempotent in AQE's
    * fixed-point batch), or a user's `repartition(1)`. */
  private def onePartition(child: LogicalPlan): Boolean = child match {
    case r: RepartitionOperation => r.numPartitions == 1
    case _ => false
  }

  private def small(child: LogicalPlan): Boolean =
    child.collectLeaves().forall(_.isInstanceOf[LogicalQueryStage]) &&
      child.find(_.isInstanceOf[Generate]).isEmpty &&
      child.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold
}
