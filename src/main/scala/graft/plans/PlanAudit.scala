package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec

/** Executed-plan audits shared by the plan-shape regression specs and the
  * query builders' own plan checks. The central question: how many times
  * does a query's executed TREE physically scan each source path? Textual
  * plan counts over-report (a cached InMemoryRelation prints its interior
  * FileScan; AQE prints stages twice), so every audit here collects over
  * one walk of the actual node tree ([[nodes]]), which credits
  * `ReusedExchangeExec` (its child executes elsewhere, once) and follows
  * adaptive stages to their executed plans. Duplicate fact-table scans are
  * invisible at test scale and a direct multiplier on 100 TB I/O — q_j2
  * scanned lineitem six times before r11 caught it with this walk (the
  * `j2_ab`/`scans_ab` dev probes that first ran it are in git history at
  * commit 5683966). */
object PlanAudit {

  /** Every node of the executed tree, pre-order. An `AdaptiveSparkPlanExec`
    * is followed to its executed plan and a `QueryStageExec` to its stage
    * plan; a `ReusedExchangeExec` is a leaf, credited to the one place its
    * child executes. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => plan.children.flatMap(nodes)
  })

  /** All source paths scanned by the executed tree, one entry per physical
    * scan (so a path scanned twice appears twice). The DataFrame must have
    * been EXECUTED first — under AQE the pre-execution tree holds
    * unresolved stages. */
  def scannedPaths(plan: SparkPlan): Seq[String] = nodes(plan).flatMap {
    case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    case _ => Nil
  }

  /** Execute `df` (noop-sink, forcing every column) and return path →
    * physical scan count for every path scanned more than `budget` times. */
  def overBudgetScans(df: DataFrame, budget: Int = 1): Map[String, Int] = {
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ())
    scannedPaths(qe.executedPlan)
      .groupBy(identity).view.mapValues(_.size)
      .filter(_._2 > budget).toMap
  }

  /** Exact-percentile aggregates in the executed tree — the
    * all-values-in-one-buffer shape (`PercentileBase` subclasses —
    * `percentile`, `percentile_cont`, `percentile_disc` — are
    * TypedImperativeAggregates whose state is every value in the group): at
    * corpus scale the final merge holds the whole column in one aggregator.
    * Benched production paths must be free of ALL of them (approx_percentile's
    * GK sketch is the bounded-memory replacement of identical plan shape);
    * the exact forms are the oracle-twin instrument only. */
  def exactPercentileAggs(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.PercentileBase
    aggregateFunctions(plan).collect { case pct: PercentileBase => pct.toString }
  }

  /** Every aggregate function of every aggregate node in the executed tree
    * (partial and final halves both appear). Unlike [[scannedPaths]] this
    * needs no execution first: the pre-execution adaptive tree already holds
    * every aggregate node. */
  def aggregateFunctions(plan: SparkPlan): Seq[AggregateFunction] =
    nodes(plan).flatMap {
      case h: HashAggregateExec => h.aggregateExpressions.map(_.aggregateFunction)
      case o: ObjectHashAggregateExec => o.aggregateExpressions.map(_.aggregateFunction)
      case s: SortAggregateExec => s.aggregateExpressions.map(_.aggregateFunction)
      case _ => Nil
    }

  /** Every shuffle exchange in the executed tree — the audit behind a
    * "scan-speed, zero-shuffle" claim: a per-row projection battery
    * (Gopher/C4 signals, chunking) must execute with NO exchange at all,
    * as an operator and as its registered query. Reused exchanges credit
    * their one execution. */
  def shuffleExchanges(plan: SparkPlan): Seq[String] =
    nodes(plan).collect { case e: ShuffleExchangeLike => e.simpleString(120) }

  /** Global sorts in the executed tree: `SortExec` with `global = true`, a
    * range shuffle whose boundary-sampling pass runs its whole child an
    * extra time. A top-k (`orderBy` + `limit`) plans as
    * `TakeOrderedAndProject`, and window, aggregate and join sorts are
    * per-partition, so none of those appear here. */
  def globalSorts(plan: SparkPlan): Seq[String] =
    nodes(plan).collect { case s: SortExec if s.global => s.simpleString(120) }

  /** Duplicate exchange groups: shuffles whose whole canonicalized child
    * subtrees are identical modulo expression, plan, query-stage and codegen
    * ids, i.e. the same data shuffled twice because exchange reuse did not
    * catch it. Identical exchange keys over different inputs (a two-phase
    * top-k) are not duplicates. One entry per group: its size and the
    * exchange's line. Like [[scannedPaths]], needs the executed plan. */
  def duplicateExchanges(plan: SparkPlan): Seq[String] =
    nodes(plan).collect { case e: ShuffleExchangeLike => e }
      .groupBy(e => (e.simpleString(200) + "\n" + e.child.canonicalized.toString)
        .replaceAll("#\\d+L?", "#x").replaceAll("plan_id=\\d+", "p")
        .replaceAll("QueryStage \\d+", "QueryStage x")
        .replaceAll("\\*\\(\\d+\\)", "*(x)"))
      .collect { case (k, g) if g.size > 1 => s"${g.size}x ${k.linesIterator.next()}" }
      .toSeq.sorted

  /** Window nodes that rank corpus-scale data in single-expression
    * partitions — the "whole-group window" shape whose partition count is
    * the GROUP count, funneling each group's full row set through one task
    * (the r11 verdict's scale-killer #1 in Sampling.mixture). A window is
    * flagged when its partition spec has fewer than two expressions AND its
    * input subtree reaches a scan without crossing an aggregation (an
    * aggregate bounds its output to the group count, so a window above one
    * ranks already-reduced data). Note a Filter does NOT count as bounding —
    * callers apply this to plans whose windows must be STRUCTURALLY bounded
    * (e.g. mixture), not to top-k shapes whose phase-2 input is bounded only
    * by a phase-1 rank filter. */
  def wholeGroupWindows(plan: SparkPlan): Seq[String] = {
    def unaggregatedScanBelow(p: SparkPlan): Boolean = p match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
          _: SortAggregateExec => false
      case a: AdaptiveSparkPlanExec => unaggregatedScanBelow(a.executedPlan)
      case q: QueryStageExec => unaggregatedScanBelow(q.plan)
      case r: ReusedExchangeExec => unaggregatedScanBelow(r.child)
      case leaf if leaf.children.isEmpty => true // any scan/leaf counts
      case other => other.children.exists(unaggregatedScanBelow)
    }
    nodes(plan).collect {
      case w: WindowExec if w.partitionSpec.size < 2 &&
          unaggregatedScanBelow(w.child) => w.simpleString(120)
    }
  }
}
