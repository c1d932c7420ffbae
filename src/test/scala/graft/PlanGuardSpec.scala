package graft

import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Scale-hygiene guard over EVERY registered query's physical plan:
  * the anti-patterns the per-round plan audits hunt by hand, asserted
  * mechanically so a regression fails the suite instead of waiting for
  * a bench tail WARN.
  *
  *  - `WindowExec` with an empty partitionSpec moves the whole input
  *    through ONE task — the single-partition scale-killer (flagged by
  *    the r2 bench on stream_watermark_late, fixed in r3; never again).
  *  - a global `SortExec` over a `SinglePartition` shuffle sorts the
  *    whole input in ONE task too: allowed only where the sort's
  *    logical input is at or under the broadcast threshold (the
  *    `SmallSortStrategy` gate), and never over an input that is
  *    already in one partition (a second, wasted gather).
  *  - `CartesianProductExec` / `BroadcastNestedLoopJoinExec` are
  *    allowed only where a side is broadcast-tiny BY DESIGN (1-row
  *    corpus stats, ≤16-row centroid/probe sets, bounded payer×part
  *    knowledge-base grids) or the op is semantically cartesian
  *    (join_cross) — every allowance is named and justified here.
  */
class PlanGuardSpec extends SparkSpec {

  /** Queries whose plans legitimately contain a cartesian/BNLJ because
    * one side is bounded by construction (broadcast catalog / probe /
    * stat), or the operator IS a cross join. */
  private val allowUnkeyedJoin: Map[String, String] = Map(
    "join_cross" -> "semantically cartesian (bounded region×nation grid)",
    "text_tfidf" -> "1-row corpus-size aggregate cross-joined into the plan",
    "sim_cosine_topk" -> "10-row probe set broadcast against the corpus",
    "sim_ann_ivf" -> ("16-row centroid set broadcast for cell assignment " +
      "+ 1-row recall-gate aggregate cross-joined onto the output (r17)"),
    "sim_ann_lsh" -> ("r17 recall gate: 10-row exact-probe set broadcast " +
      "+ 1-row recall aggregate cross-joined onto the output"),
    "sim_ann_lsh_multiprobe" -> ("r17 recall gate: 10-row exact-probe set " +
      "broadcast + 1-row recall aggregate cross-joined onto the output"),
    "domain_formulary" -> "payers×part knowledge-base grid (bounded catalogs)",
    "domain_ep1_recommend" -> "payers×part knowledge-base grid (bounded catalogs)",
    "domain_conditions" -> "contraindication catalog broadcast (bounded)",
    "agg_global" -> "single-row global aggregate joined back",
    "text_unigram_logprob" -> "1-row corpus token total cross-joined into the scorer",
    "fn_math_logistic" -> "scalar stat row cross-joined for normalization",
    "agg_histogram" -> "1-row min/max bounds broadcast for binning and labels",
    "cdc_snapshot_diff" -> "1-row max-key shift broadcast into the injected-adds block",
    // surfaced when the sweep became AQE-aware (r17) — all documented
    // shapes that previously hid under AdaptiveSparkPlanExec:
    "join_theta_range" -> ("non-equi range predicate is BNLJ by " +
      "definition; join_range_binned is the scale-safe sibling"),
    "domain_denial_train" -> ("1-row trained-coefficients frame " +
      "broadcast back over the claims for scoring"),
    "domain_diversify" -> ("bounded knowledge-base grid + regimen-" +
      "prefix candidate join (r13 audit; candidates pre-cut, argmin " +
      "on the native heap)"))

  private def offenders(plan: SparkPlan): Seq[String] = {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    // AQE-aware (r17): AdaptiveSparkPlanExec is a leaf to foreach, so
    // a sweep that doesn't descend through it (and through reused
    // exchanges/stages) inspects nothing — every allowance below
    // would hold vacuously
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          bad += "unpartitioned WindowExec (single-task window)"
        case SortExec(_, true, e @ ShuffleExchangeExec(SinglePartition, _, _, _), _) =>
          val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
          val input = p.logicalLink.flatMap(_.collectFirst { case l: Sort => l.child })
          if (!input.exists(i => threshold >= 0 && i.stats.sizeInBytes <= threshold))
            bad += s"one-task SortExec over ${input.map(_.stats.sizeInBytes)} bytes"
          if (e.child.outputPartitioning == SinglePartition)
            bad += "one-task SortExec gathering an input already in one partition"
        case _: CartesianProductExec => bad += "CartesianProductExec"
        case _: BroadcastNestedLoopJoinExec => bad += "BroadcastNestedLoopJoinExec"
        case _ => ()
      }
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          walk(r.child)
        case other => other.children.foreach(walk)
      }
    }
    walk(plan)
    bad.toSeq
  }

  /** Queries whose shipped plan must route per-group k-selection
    * through the native TopKPerGroup operator (r6: the window
    * row_number form is kept only as the oracle/parity twin). */
  private val mustUseNativeTopK =
    Seq("win_rank_topk", "sim_cosine_topk", "topk_per_group_native",
      "sample_stratified", "topk_sql_rewrite",
      // r14: the diversify argmin must stay on the heap operator — a
      // regression to min_by(struct, struct) re-plans as SortAggregate
      // over the candidate set (the r13 34s scale-killer)
      "domain_diversify")

  mustUseNativeTopK.foreach { name =>
    test(s"native top-k routing: $name") {
      val df = SparkEntry.queries(name)(spark, sf())
      df.collect() // force the AQE final plan
      def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
        case _ => p.children.flatMap(flatten)
      })
      val execs = flatten(df.queryExecution.executedPlan)
        .collect { case t: graft.plans.TopKPerGroupExec => t }
      assert(execs.exists(_.partial) && execs.exists(!_.partial),
        s"$name must plan through partial+final TopKPerGroupExec:\n" +
          df.queryExecution.executedPlan)
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"plan hygiene: $name") {
      val found = offenders(fn(spark, sf()).queryExecution.executedPlan)
      if (allowUnkeyedJoin.contains(name)) {
        // allowance covers unkeyed joins, never one-task windows or sorts
        assert(!found.exists(f => f.contains("WindowExec") || f.contains("SortExec")),
          s"$name: ${found.mkString(", ")}")
      } else {
        assert(found.isEmpty, s"$name: ${found.mkString(", ")}")
      }
    }
  }
}
