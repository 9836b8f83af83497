package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Noise-immune perf gating: structural assertions over EXECUTED physical
  * plans. Wall-clock benches alias host weather (round 7 measured ±50%
  * single-query swings on an idle machine); the plan SHAPE — which joins
  * broadcast, whether a window is partitioned, whether a cartesian
  * slipped in — is deterministic for a given (query, data, config), so a
  * regression trips a spec instead of drowning in measurement noise.
  *
  * The walk descends through AQE wrappers ([[AdaptiveSparkPlanExec]] is
  * resolved AFTER execution so runtime re-plans are what's audited),
  * query stages, reused exchanges, and subquery plans.
  */
object PlanGate {

  /** One offending plan node: `rule` names the violated invariant. */
  final case class Finding(rule: String, node: String) {
    override def toString = s"$rule: $node"
  }

  /** Every node of the FINAL executed plan, descending into AQE /
    * query-stage / reused-exchange wrappers and subqueries.
    */
  def allNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val buf = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return
      buf += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case r: ReusedExchangeExec    => walk(r.child)
        case _                        => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    buf.toSeq
  }

  /** Materialise `df`'s OWN query execution (so AQE reaches its final
    * plan) and return every physical node. `toRdd.count()` drives the
    * exact plan under audit — a `df.count()` would build a different
    * (aggregated) plan instead.
    */
  def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.queryExecution.toRdd.count()
    allNodes(df.queryExecution.executedPlan)
  }

  /** Global invariants, violated unless the query is whitelisted:
    *
    *  - `cartesian`: a [[CartesianProductExec]] is |L|×|R| work AND a
    *    full materialisation of both sides — fatal at scale unless the
    *    semantics ARE cartesian (the reference's `cartesianJoin=True`
    *    surface).
    *  - `nested-loop`: [[BroadcastNestedLoopJoinExec]] is how Spark
    *    renders a crossJoin against a broadcast side; legitimate ONLY
    *    when the broadcast side is a bounded aggregate (1-row stats
    *    frames, k centroids, vocab-sized merge tables) — each
    *    whitelisted site is audited to be so.
    *  - `global-window`: a [[WindowExec]]/[[WindowGroupLimitExec]] with
    *    an empty partition spec funnels EVERY row through one partition
    *    — the classic scale-killer this library's SurrogateKeys
    *    two-phase layout exists to avoid.
    *  - `single-partition-sort`: a [[SortExec]] fed by an exchange to
    *    [[SinglePartition]] sorts the world on one task. (A global
    *    `orderBy` is fine — that's range partitioning; TakeOrdered is
    *    fine — that's a reduction.)
    */
  def audit(nodes: Seq[SparkPlan]): Seq[Finding] = {
    def label(p: SparkPlan): String =
      p.nodeName + " " + p.simpleStringWithNodeId()
    nodes.flatMap {
      case c: CartesianProductExec =>
        Some(Finding("cartesian", label(c)))
      case j: BroadcastNestedLoopJoinExec =>
        Some(Finding("nested-loop", label(j)))
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Some(Finding("global-window", label(w)))
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Some(Finding("global-window", label(w)))
      case s: SortExec =>
        val singlePart = s.child match {
          case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
          case q: QueryStageExec => q.plan match {
            case e: ShuffleExchangeExec =>
              e.outputPartitioning == SinglePartition
            case _ => false
          }
          case _ => false
        }
        if (singlePart) Some(Finding("single-partition-sort", label(s)))
        else None
      case _ => None
    }
  }

  /** True when the executed plan contains at least one broadcast hash
    * join — the positive assertion for the SK-map / lookup joins that
    * must never degrade to a shuffled join on a dimension-sized side.
    */
  def hasBroadcastHashJoin(nodes: Seq[SparkPlan]): Boolean =
    nodes.exists(_.isInstanceOf[BroadcastHashJoinExec])
}
