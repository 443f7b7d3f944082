package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec

/** Executed-plan audits shared by the Scratch probes and the plan-shape
  * regression specs. The central question: how many times does a query's
  * executed TREE physically scan each source path? Textual plan counts
  * over-report (a cached InMemoryRelation prints its interior FileScan;
  * AQE prints stages twice), so these walk the actual node tree, crediting
  * `ReusedExchangeExec` (its child executes elsewhere, once) and following
  * adaptive stages to their executed plans. Duplicate fact-table scans are
  * invisible at test scale and a direct multiplier on 100 TB I/O — q_j2
  * scanned lineitem six times before r11 caught it with this walk. */
object PlanAudit {

  /** All source paths scanned by the executed tree, one entry per physical
    * scan (so a path scanned twice appears twice). The DataFrame must have
    * been EXECUTED first — under AQE the pre-execution tree holds
    * unresolved stages. */
  def scannedPaths(plan: SparkPlan): Seq[String] = {
    val self = plan match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
      case a: AdaptiveSparkPlanExec => scannedPaths(a.executedPlan)
      case q: QueryStageExec => scannedPaths(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case _ => Seq.empty
    }
    self ++ plan.children.flatMap(scannedPaths)
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
  def aggregateFunctions(plan: SparkPlan): Seq[AggregateFunction] = {
    val self = plan match {
      case a: AdaptiveSparkPlanExec => aggregateFunctions(a.executedPlan)
      case q: QueryStageExec => aggregateFunctions(q.plan)
      case r: ReusedExchangeExec => aggregateFunctions(r.child)
      case h: HashAggregateExec => h.aggregateExpressions.map(_.aggregateFunction)
      case o: ObjectHashAggregateExec => o.aggregateExpressions.map(_.aggregateFunction)
      case s: SortAggregateExec => s.aggregateExpressions.map(_.aggregateFunction)
      case _ => Seq.empty
    }
    self ++ plan.children.flatMap(aggregateFunctions)
  }

  /** Every shuffle exchange in the executed tree — the audit behind a
    * "scan-speed, zero-shuffle" claim: a per-row projection battery
    * (Gopher/C4 signals, chunking) must execute with NO exchange at all,
    * and its registered query form with exactly ONE (the deterministic
    * dump's global sort). Reused exchanges credit their one execution. */
  def shuffleExchanges(plan: SparkPlan): Seq[String] = {
    def walk(p: SparkPlan): Seq[String] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => Seq.empty
        case e: ShuffleExchangeLike => Seq(e.simpleString(120))
        case _ => Seq.empty
      }
      self ++ p.children.flatMap(walk)
    }
    walk(plan)
  }

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
    def walk(p: SparkPlan): Seq[String] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.size < 2 &&
            unaggregatedScanBelow(w.child) =>
          Seq(w.simpleString(120))
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => Seq.empty
      }
      self ++ p.children.flatMap(walk)
    }
    walk(plan)
  }
}
