package graft

import org.apache.spark.sql.execution.SparkPlan

/** Structural scale audits over physical plans — the harness leg of the
  * r8 verdict's "unpartitioned window" finding, generalized so the class
  * can't recur (the HUGEINT-guard playbook applied to plans): any
  * `WindowExec` with an EMPTY partition spec funnels its whole input
  * through one task, which is fine over a domain-bounded aggregate
  * (calendar days, cent histograms, decile tables) and a 100 TB killer
  * over anything data-proportional.
  *
  * Used by `Diag plans` (per-round plan dump) and pinned in CI by
  * `WindowAuditSpec`, which sweeps every catalog query and fails on any
  * new unbounded site that isn't explicitly whitelisted with a rationale.
  */
object PlanAudit {

  import org.apache.spark.sql.execution._

  /** Catalog queries whose unpartitioned ordered windows are bounded for
    * reasons the structural rule below can't see. Every entry must carry
    * the boundedness argument; adding a name here is a review decision,
    * not a green-CI shortcut.
    */
  val boundedWindowWhitelist: Map[String, String] = Map(
    // MMR re-rank: the pool tables are localCheckpoint-pinned LIMIT-k
    // outputs (the RDDScan hides the upstream GlobalLimit), so every
    // window input is ≤ poolK rows by construction.
    "sim_mmr_rerank" -> "windows read localCheckpoint-pinned LIMIT-k pools"
  )

  /** Flags `WindowExec` nodes with an empty partition spec and a
    * non-empty order spec whose input is not provably bounded (see
    * [[isBounded]]). Returns one message per offending node; empty =
    * clean.
    */
  def unboundedGlobalWindows(plan: SparkPlan): Seq[String] = {
    val norm = plan match {
      case a: adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    norm.collectWithSubqueries {
      case w: window.WindowExec
          if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty &&
            !w.children.forall(isBounded) =>
        s"unpartitioned ordered window over a non-aggregated input " +
          s"(single task at scale): ${w.simpleString(120)}"
    }
  }

  /** Bounded-domain grouping-key whitelist (r10 verdict task #6): an
    * aggregate's output is accepted as bounded ONLY when every grouping
    * key matches one of these documented domains. This is the inverse of
    * the r9/r10 blacklist (`_id$|.key$|…`), which silently admitted any
    * data-proportional key named outside the pattern — `node`, `src`,
    * `nbr`, `bkt` — exactly the names the graph operators group by.
    * Each entry carries the one-line boundedness argument; adding a
    * pattern is a review decision, not a green-CI shortcut.
    */
  private[graft] val boundedDomainKeys: Seq[(scala.util.matching.Regex, String)] = Seq(
    """(?i).*(^|_)(day|date|dt|week|month|year|hour|minute|dow|hod|dnum)s?$""".r ->
      "calendar units (incl. the dnum epoch-day convention): cardinality fixed by the clock, not the corpus",
    """(?i).*_(pm|ppm|permille)$""".r ->
      "fixed-point permille/ppm quantization: <= 10^6 distinct values by construction",
    """(?i).*(bucket|bin|band|tile|decile|quantile|percentile|grid|cell)s?$""".r ->
      "explicit binning: the query constructs a fixed number of bins",
    """(?i).*(^|_)(type|kind|class|status|state|flag|op|opcode|category|cat)s?$""".r ->
      "enum codes: closed vocabularies (event types, CDC ops, statuses)",
    """(?i).*(^|_)(lang|language|source|shard|split|segment|grade|tier|level|priority|label)s?$""".r ->
      "catalog enums: language / source / shard / split / priority domains",
    """(?i).*(^|_)(region|nation|brand|container|mode|returnflag|linestatus|mktsegment|shippriority|orderpriority|shipmode|shipinstruct|mfgr)(_?(name|code))?s?$""".r ->
      "TPC-H dimension domains: fixed-cardinality reference data",
    """(?i).*(^|_)(side|variant|arm|cohort|method|metric|feature|col|column|field|rule|check|audit|stage|phase|round|iter|threshold|param)s?$""".r ->
      "audit/experiment axes: one row per declared metric / arm / rule",
    """(?i).*(^|_)(is|has)_[a-z0-9_]+$""".r ->
      "boolean predicates: two-valued by construction"
  )

  private def inBoundedDomain(name: String): Boolean =
    boundedDomainKeys.exists(_._1.matches(name))

  /** A grouping is bounded iff EVERY key sits in a documented bounded
    * domain (a global aggregate — no keys — is 1 row). Computed keys
    * surface in the physical plan as `_groupingexpression#N`, with the
    * user's alias applied in the aggregate's own resultExpressions
    * (`_groupingexpression#17 AS month#6`), so the check resolves each
    * key's DISPLAY name through those aliases before falling back to the
    * raw reference names. Unknown names are data-proportional until
    * argued otherwise.
    */
  private def boundedDomainGrouping(a: aggregate.BaseAggregateExec): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    a.groupingExpressions.forall { g =>
      val aliasName = a.resultExpressions.collectFirst {
        case al: Alias if al.child.semanticEquals(g) => al.name
      }
      aliasName.exists(inBoundedDomain) ||
        g.references.forall(r => inBoundedDomain(r.name))
    }
  }

  /** Recursive cardinality-boundedness on the window's actual input
    * path — NOT "some aggregate exists somewhere in the subtree" (the r9
    * false-negative: a raw stream that merely JOINS a broadcast
    * aggregate passed the old check).
    *
    *  - limits / top-k / window-group-limits / literal relations: bounded
    *  - aggregates: bounded iff EVERY grouping key is in the documented
    *    bounded-domain whitelist OR the aggregate's own input is already
    *    bounded
    *  - joins / unions / everything else: bounded iff EVERY child is —
    *    so a broadcast-join of raw rows against a tiny aggregate is
    *    correctly unbounded (its cardinality follows the raw side)
    *  - leaves (file scans, shuffle reads of unbounded stages): unbounded
    */
  private[graft] def isBounded(p: SparkPlan): Boolean = p match {
    case _: GlobalLimitExec | _: LocalLimitExec |
        _: TakeOrderedAndProjectExec | _: LocalTableScanExec => true
    case _: window.WindowGroupLimitExec => true
    case r: RDDScanExec => r.name == "OneRowRelation"
    case a: aggregate.BaseAggregateExec =>
      boundedDomainGrouping(a) || a.children.forall(isBounded)
    case q: adaptive.ShuffleQueryStageExec => isBounded(q.plan)
    case q: adaptive.BroadcastQueryStageExec => isBounded(q.plan)
    case a: adaptive.AdaptiveSparkPlanExec => isBounded(a.executedPlan)
    case s: WholeStageCodegenExec => isBounded(s.child)
    case i: InputAdapter => isBounded(i.child)
    case r: ReusedSubqueryExec => isBounded(r.child)
    case e: exchange.ReusedExchangeExec => isBounded(e.child)
    case leaf if leaf.children.isEmpty => false
    case other => other.children.forall(isBounded)
  }
}
