package graft

import org.apache.spark.sql.execution.SparkPlan

/** Audit an EXECUTED adaptive plan for scale cliffs the sf0.001 CI
  * sweeps cannot see — AQE converts joins at runtime from observed
  * sizes, so a corpus-sized broadcast may exist ONLY at scale. Flags:
  *   - a BroadcastHashJoin whose build side reaches a scan whose size
  *     statistics DO NOT TRACK the data — a checkpointed RDD leaf (the
  *     r12 set-similarity cliff: `localCheckpoint` forfeits statistics,
  *     so the planner undersells a corpus-sized table at every scale) —
  *     without an intervening aggregate/rank-limit;
  *   - any CartesianProductExec.
  *
  * What is deliberately NOT a hit (r13 redesign — the first folded-in
  * bench sweep audited never-executed INITIAL plans and produced 17
  * phantom hits, zero reproducible on any executed plan):
  *   - a broadcast build rooted at a FILE scan: the planner's estimate
  *     is derived from file size × pruning, so it grows linearly with
  *     the data — at a bigger scale the same plan degrades to a shuffle
  *     join by construction (q21's pruned+filtered `orders` build is
  *     the canonical case: ~12 MB at 10×, SMJ at 100×). A non-tracking
  *     estimate needs a non-tracking LEAF, and the only one this
  *     catalog produces is the checkpointed RDD scan;
  *   - a build side that materialized through a ShuffleQueryStage: its
  *     size was OBSERVED at runtime before any downstream broadcast
  *     decision, which is AQE working as designed.
  *
  * The walk descends through broadcast/result query stages (they are
  * leaf wrappers — the pre-r13 audit stopped at them and was
  * structurally blind in executed plans, proven by ScaleAuditSpec's
  * positive control) and stops clean at shuffle stages.
  *
  * [[audit]] runs inside every Bench smoke loop (VERDICT r12 task #5)
  * and its hits land in the bench JSON under `"scale_audit"`; `Diag smoke`
  * prints the same sweep, for named queries or (without names) for every
  * smoke query on the scaled lake.
  */
object ScaleAudit {

  private def reachesNonTracking(n: SparkPlan): Option[String] = n match {
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => None
    case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec => None
    case _: org.apache.spark.sql.execution.LocalLimitExec => None
    case _: org.apache.spark.sql.execution.GlobalLimitExec => None
    // runtime-observed boundary: whatever sits below was sized by AQE
    case _: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => None
    // broadcast/table-cache stages are leaf WRAPPERS — descend into the
    // actual build pipeline
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      reachesNonTracking(s.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      reachesNonTracking(r.child)
    case _: org.apache.spark.sql.execution.RDDScanExec => Some("checkpointed-rdd")
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec
      if j.joinType.toString == "LeftSemi" || j.joinType.toString == "LeftAnti" =>
      reachesNonTracking(j.left)
    case other => other.children.flatMap(reachesNonTracking(_)).headOption
  }

  /** All cliff hits in an executed plan (empty = clean). Walks through
    * adaptive wrappers and query stages to the runtime-final operators.
    */
  def audit(plan: SparkPlan): Seq[String] = {
    val hits = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: SparkPlan): Unit = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        walk(r.child)
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        reachesNonTracking(build).foreach(src =>
          hits += s"BHJ build<-$src keys=${j.leftKeys.mkString(",").take(40)}")
        j.children.foreach(walk)
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        hits += "CartesianProduct"; c.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    hits.distinct.toSeq
  }
}
