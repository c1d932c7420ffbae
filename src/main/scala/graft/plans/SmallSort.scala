package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LogicalPlan, Offset, Project, RepartitionOperation, ReturnAnswer, Sort, Tail, Window}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy: the ORDER BY that produces a query's result, over
  * an input small enough to ship whole, sorts in one partition.
  *
  * Spark plans every global sort as a range shuffle, and the range
  * partitioner first runs a job of its own that recomputes the whole
  * child plan to sample the partition bounds. For a result the driver
  * collects anyway that job is pure overhead: this strategy plans
  *
  *   SortExec(order, global) ← Exchange SinglePartition ← child
  *
  * instead, so the child keeps its parallelism, one spillable task
  * sorts the gathered rows and no sampling job runs (the shape Presto
  * gives every final ORDER BY).
  *
  * Scope, by construction a small-result path:
  *  - only the result sort, `ReturnAnswer(Sort)` or
  *    `ReturnAnswer(Project(_, Sort))` with `global` set — the shapes
  *    Spark's `SpecialLimits` matches. `ORDER BY … LIMIT` is not
  *    matched (it stays `TakeOrderedAndProject`), and a sort that feeds
  *    a write, an aggregate or any other operator is never at the root,
  *    so it keeps its range sort and its output partitioning;
  *  - only when the sort's input is at most
  *    `spark.sql.autoBroadcastJoinThreshold` (Spark's own bound for
  *    "small enough to ship whole"; `-1` turns the strategy off).
  *    Larger results keep the range sort;
  *  - not when Spark already plans the input into one partition (a
  *    global aggregate, a limit, an unpartitioned window below it): the
  *    range sort there has no exchange and no sampling job to save;
  *  - not when the session keeps the final stage's partitioning
  *    (`spark.sql.adaptive.applyFinalStageShuffleOptimizations` off,
  *    which Spark sets while it plans a cached query unless
  *    `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is on).
  */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(s: Sort) if eligible(s) => gather(s) :: Nil
    case ReturnAnswer(Project(list, s: Sort)) if eligible(s) =>
      ProjectExec(list, gather(s)) :: Nil
    case _ => Nil
  }

  private def gather(s: Sort): SparkPlan =
    SortExec(s.order, global = true, ShuffleExchangeExec(SinglePartition, planLater(s.child)))

  private def eligible(s: Sort): Boolean = {
    val conf = SQLConf.get
    val threshold = conf.autoBroadcastJoinThreshold
    s.global && threshold >= 0 &&
      conf.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS) &&
      !onePartition(s.child) && s.child.stats.sizeInBytes <= threshold
  }

  /** Whether Spark already plans `p` into one partition: an operator
    * that requires all tuples in one task, reached through operators
    * that keep their input's partitioning. Errs towards true (any input
    * of a join or union counts), which only leaves the range sort. */
  private def onePartition(p: LogicalPlan): Boolean = p match {
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case _: GlobalLimit | _: Offset | _: Tail => true
    case w: Window if w.partitionSpec.isEmpty => true
    case r: RepartitionOperation => r.numPartitions == 1
    case s: Sort if s.global => false
    case _ => p.children.exists(onePartition)
  }
}
