package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.expressions.NTile
import org.apache.spark.sql.catalyst.expressions.aggregate.PercentileBase
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CollectLimitExec, InputAdapter,
  LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Whole-surface physical-plan audit: every declared query — current and
  * FUTURE — is swept for the unconditional scale-killers, so a new
  * query can't ship one unnoticed (the per-query guards in [[PlanSpec]]
  * pin richer, query-specific properties):
  *
  *  - `CartesianProductExec`: never acceptable on unbounded relations,
  *    and the bounded cross-joins this library uses (single-row stats
  *    frames) plan as broadcast joins, so the operator's appearance at
  *    all is a bug;
  *  - a `ShuffleExchangeExec` to `SinglePartition`: acceptable ONLY when
  *    its child produces boundedly many rows — a partial aggregate (one
  *    accumulator row per upstream partition), a TakeOrdered/limit
  *    (≤ k rows) — because everything below one of those funnels the
  *    full relation through a single task;
  *  - an `ntile` window ([[NTile]] inside a [[WindowExec]]): ntile gets
  *    NO `WindowGroupLimit` prune (every row survives to the sort,
  *    unlike rank-1 filters), so each partition of the window — or the
  *    whole relation, when the partition spec is empty — is one
  *    unbounded per-task sort. The r8 round shipped exactly this shape
  *    (perplexity terciles partitioned by a 3-value stratum column);
  *    the scale-safe replacement is `Prefix.stratifiedNtile`, so an
  *    ntile surviving to a physical plan fails the audit unless its
  *    partition key is on the explicit scaling-cardinality allowlist.
  *
  * The audit WALKS the executed-plan tree (descending into AQE wrappers
  * and subquery plans) rather than matching printed lines — the r9 form
  * assumed "the next printed line is the exchange's child", which
  * breaks on reused-exchange and subquery print layouts.
  *
  * Building a plan does not run the query, but composite queries do
  * driver-side estimation (centroid seeding, BPE rounds, strata counts)
  * at DataFrame-construction time — the audit costs roughly one
  * Verify-style pass of plan building, not of execution.
  */
class GlobalPlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Strip codegen wrappers so the exchange-child check sees the real
    * operator. */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter => unwrap(i.child)
    case _ => p
  }

  /** A SinglePartition exchange directly above one of these ships
    * partition-count-many (or ≤ k) rows, never the relation. A
    * `Project` is transparent (r13): projection never changes
    * cardinality, so an exchange above Project(aggregate) is exactly
    * as bounded as one above the aggregate (q_cusum's per-period
    * arithmetic projection exposed the gap). */
  private def bounded(p: SparkPlan): Boolean = p match {
    case _: HashAggregateExec | _: SortAggregateExec |
         _: ObjectHashAggregateExec | _: TakeOrderedAndProjectExec |
         _: LocalLimitExec | _: CollectLimitExec => true
    case pr: org.apache.spark.sql.execution.ProjectExec =>
      bounded(unwrap(pr.child))
    case _ => false
  }

  /** ntile windows whose partition key PROVABLY scales with the
    * relation (per-key row count stays bounded as data grows), so the
    * per-partition sort is not a funnel. Any NEW ntile query must either
    * use `Prefix.stratifiedNtile` or be added here with the same
    * cardinality argument — the audit's job is to force that judgment
    * to be made explicitly, never shipped by accident (the r8 weak was
    * ntile over a 3-value stratum column).
    */
  private val ntileScalingPartitionKeys: Map[String, String] = Map(
    "q_window_funcs" -> "user_id" // events per user bounded; users grow with SF
  )

  /** Value-buffering percentile aggregates (`percentile`, `median` —
    * Catalyst [[PercentileBase]]) whose group key PROVABLY scales with
    * the relation. The aggregate's buffer is the group's whole
    * value→count map and its final merge has |groups| tasks, so over a
    * non-scaling key (the r10 weak: `l_returnflag`, 3 values) it is a
    * fixed-task memory funnel whose per-task state grows with the
    * corpus. The scale-safe replacement is `Prefix.groupPercentiles`;
    * any NEW percentile aggregate must either use that or be allowlisted
    * here with a cardinality argument.
    */
  private val percentileScalingGroupKeys: Map[String, String] = Map.empty

  /** Queries whose UNKEYED window (empty partitionSpec — the whole
    * relation through ONE task's sort) is provably bounded: every entry
    * must name the bounding operator that cuts the input to O(k) rows
    * BEFORE the window. Spark only inserts `WindowGroupLimitExec` for
    * rank-filter patterns, so these plans carry a bare WindowExec and
    * the audit cannot see the bound structurally — the allowlist forces
    * the argument to be written. Any NEW unkeyed window must either
    * restructure (Prefix machinery / TakeOrdered-then-rank) or be
    * argued here.
    */
  private val unkeyedWindowBounded: Map[String, String] = Map(
    "q_vocab" -> "rankedTop: orderBy.limit(k) TakeOrdered precedes the rank window (k=100)",
    "q_heavy_hitters" -> "rankedTop: same TakeOrdered-then-rank shape over the sketch's recount",
    "q_hybrid_retrieval" -> "rrfFuse: inputs are per-ranking top-k cuts; the fused relation is <= 2k rows",
    "q_cusum" -> "cusum: the window's child is the per-period count aggregate — cardinality = distinct periods (time-bounded), never event rows; the prefix-sum/running-min recursion is over that bounded series by construction"
  )

  /** Side-effectful composition queries, left out of the audit. Each
    * runs two or more ingest ticks while its DataFrame is being built
    * (parquet subtrees written to a temp root), and its registered plan
    * is only the verdict read-back, which has no operator to audit (see
    * [[Queries.slowTier]]). Building them took 289 s of the audit's
    * 388 s (local[8], 4 vCPU), none of it plan work. */
  private val tickComposites: Set[String] = Set(
    "q_admission_ladder", "q_ladder_bloom", "q_ingest_ladder",
    "q_reladder", "q_reladder_apply", "q_reladder_refund",
    "q_reladder_refund_lag", "q_line_rung",
    "q_domain_quota", "q_domain_quota_psl")

  /** Pre-order walk of the physical tree, descending into AQE wrappers
    * (leaf nodes holding the real plan) and subquery plans. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case _ => p.children.foreach(walk(_)(f))
    }
    p.subqueries.foreach(walk(_)(f))
  }

  test("all declared queries: no CartesianProduct; SinglePartition exchanges bounded; no ntile / unkeyed / value-buffering-percentile funnels") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for (q <- Queries.all if !tickComposites(q.name)) {
      try {
        val plan = q.fn(spark, sf).queryExecution.executedPlan
        walk(plan) {
          case _: CartesianProductExec =>
            offenders += s"${q.name}: CartesianProduct in plan"
          case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
            val child = unwrap(e.child)
            if (!bounded(child))
              offenders += s"${q.name}: SinglePartition exchange over " +
                s"unbounded child: ${child.nodeName}"
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
              if a.aggregateExpressions.exists(
                _.aggregateFunction.isInstanceOf[PercentileBase]) &&
                !percentileScalingGroupKeys.get(q.name).exists(k =>
                  a.groupingExpressions.exists(
                    _.references.exists(_.name == k))) =>
            offenders += s"${q.name}: value-buffering percentile aggregate " +
              s"(grouping=${a.groupingExpressions.mkString(",").take(60)}) — " +
              "use Prefix.groupPercentiles or allowlist a scaling group key"
          case w: WindowExec
              if w.partitionSpec.isEmpty &&
                !unkeyedWindowBounded.contains(q.name) =>
            offenders += s"${q.name}: UNKEYED window (whole relation " +
              "through one task's sort) with no written boundedness " +
              "argument — restructure or allowlist with the bounding operator"
          case w: WindowExec
              if w.windowExpression.exists(
                _.collectFirst { case _: NTile => () }.nonEmpty) &&
                !ntileScalingPartitionKeys.get(q.name).exists(k =>
                  w.partitionSpec.exists(_.references.exists(_.name == k))) =>
            offenders += s"${q.name}: un-prunable ntile window " +
              s"(partitionSpec=${w.partitionSpec.mkString(",").take(60)}) — " +
              "use Prefix.stratifiedNtile or allowlist a scaling partition key"
          case _ => ()
        }
      } catch { case e: Exception =>
        offenders += s"${q.name}: plan build failed: ${e.getMessage}" }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} scale-killer plan shapes:\n${offenders.mkString("\n")}")
  }
}
