package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, InterpretedOrdering, InterpretedUnsafeProjection, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LogicalPlan, Offset, Project, RepartitionOperation, ReturnAnswer, Sort, Tail, Window}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{OrderPreservingUnaryExecNode, ProjectExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy: the ORDER BY that produces a query's result, over
  * an input small enough to ship whole, is sorted where the result
  * lands: [[SmallSortExec]].
  *
  * Spark plans every global sort as a range shuffle, and the range
  * partitioner first runs a job of its own that recomputes the whole
  * child plan to sample the partition bounds. For a result the driver
  * collects anyway both that job and the shuffle are overhead: the
  * child's rows reach the driver in the one job `collect()` runs, and
  * the driver sorts them there (the final merge Presto runs on its
  * coordinator, and Spark's own `TakeOrderedAndProjectExec` for
  * `ORDER BY … LIMIT`).
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
    case ReturnAnswer(s: Sort) if eligible(s) =>
      SmallSortExec(s.order, s.child.output, planLater(s.child)) :: Nil
    case ReturnAnswer(Project(list, s: Sort)) if eligible(s) =>
      SmallSortExec(s.order, list, planLater(s.child)) :: Nil
    case _ => Nil
  }

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

/** The result sort of a small query: `TakeOrderedAndProjectExec`
  * without the limit. Planned only at the root by [[SmallSortStrategy]],
  * so under AQE it is the root of the final stage, with no exchange
  * of its own.
  *
  * `collect()` (`executeCollect`) runs the child's one job, sorts the
  * returned rows on the driver with an interpreted ordering and projects
  * them there as partition 0, so the sort compiles no class and needs
  * no memory beyond the collected rows and one array of references.
  * Every other consumer (`toLocalIterator`, `.rdd`, a
  * cache that may change its output partitioning) goes through
  * `execute()`, which gathers the rows into one task through a
  * `SinglePartition` shuffle and sorts them there: the same rows in the
  * same order, in one partition.
  */
case class SmallSortExec(
    order: Seq[SortOrder],
    projectList: Seq[NamedExpression],
    child: SparkPlan) extends OrderPreservingUnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override protected def outputExpressions: Seq[NamedExpression] = projectList
  override protected def orderingExpressions: Seq[SortOrder] = order

  private def projects: Boolean = projectList != child.output

  override def simpleString(maxFields: Int): String = {
    val orderBy = truncatedString(order, "[", ",", "]", maxFields)
    val out = truncatedString(output, "[", ",", "]", maxFields)
    s"$nodeName(orderBy=$orderBy, output=$out)"
  }

  override def executeCollect(): Array[InternalRow] = executeQuery {
    // `sorted` sorts a copy of the reference array: a child may hand out
    // an array it keeps (LocalTableScanExec does)
    val rows = child.executeCollect().sorted(new InterpretedOrdering(order, child.output))
    if (!projects) rows
    else {
      val proj = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(projectList, child.output))
      proj.initialize(0)
      rows.map(r => proj(r).copy())
    }
  }

  /** The plan `execute()` runs: one task gathers and sorts every row. */
  @transient private lazy val gathered: SparkPlan = {
    val sorted = SortExec(order, global = true, ShuffleExchangeExec(SinglePartition, child))
    if (projects) ProjectExec(projectList, sorted) else sorted
  }

  override protected def doExecute(): RDD[InternalRow] = gathered.execute()

  override protected def withNewChildInternal(newChild: SparkPlan): SmallSortExec =
    copy(child = newChild)
}
