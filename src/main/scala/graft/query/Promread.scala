package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The promread read path — P4–P8, A13, A14, O1, O2 (reference:
  * pkg/promread/handler.go:227-321 query construction, :137-224 row handling).
  *
  * The reference builds ClickHouse SQL text; we build Catalyst `Column`
  * predicates, which is the same thing one level earlier: Catalyst pushes the
  * compiled predicates into the parquet scan (PushedFilters), prunes columns
  * to the projection list, and pushes the LIMIT. Nothing here shuffles except
  * the optional per-series regroup: the final ORDER BY + LIMIT plans as a
  * top-k (`TakeOrderedAndProject`), not a global sort.
  */
object Promread {

  sealed trait MatcherType
  case object EQ extends MatcherType
  case object NEQ extends MatcherType
  case object RE extends MatcherType
  case object NRE extends MatcherType

  /** One Prometheus label matcher. `__name__` targets the metric name column;
    * any other name targets `attributes[name]` (handler.go:243-281). */
  case class Matcher(name: String, tpe: MatcherType, value: String)

  /** P4 — compile one matcher to a predicate.
    * ClickHouse `match()` is RE2, Spark `rlike` is Java regex — both
    * find-anywhere, unanchored; queries stick to the common syntax subset
    * (SURVEY §2.2 P4). Missing attribute keys: `element_at` yields NULL, and
    * NULL-compare yields NULL → row filtered, matching CH behavior for
    * equality; for NEQ/NRE on a missing key the reference's CH returns ''
    * (which IS != v), so we coalesce to '' to keep that edge exact. */
  def compile(m: Matcher, metricCol: Column, attributes: Column): Column = {
    val target =
      if (m.name == "__name__") metricCol
      else coalesce(element_at(attributes, m.name), lit(""))
    m.tpe match {
      case EQ  => target === m.value
      case NEQ => target =!= m.value
      case RE  => target.rlike(m.value)
      case NRE => !target.rlike(m.value)
    }
  }

  /** P4+P5+P6 — full WHERE: workspace AND time range AND all matchers
    * (handler.go:227-260). Zero start/end means unbounded (handler.go:233-241). */
  def predicate(matchers: Seq[Matcher], workspaceId: String,
      startMs: Long, endMs: Long,
      metricCol: Column = col("metric"),
      attributes: Column = col("attributes"),
      workspaceCol: Column = col("workspace_id"),
      tsMsCol: Column = col("ts_ms")): Column = {
    val base = workspaceCol === workspaceId
    val afterStart = if (startMs > 0) tsMsCol >= startMs else lit(true)
    val beforeEnd = if (endMs > 0) tsMsCol <= endMs else lit(true)
    matchers.map(compile(_, metricCol, attributes))
      .foldLeft(base && afterStart && beforeEnd)(_ && _)
  }

  /** P8 — resolution routing table (handler.go:304-321), finest tier first:
    * (tier, maxAgeMs, maxSpanMs). A query goes to the first tier whose age
    * AND span it is strictly under — raw if age<3h ∧ span<1h; 1m if
    * age<15d ∧ span<24h; 5m if age<63d ∧ span<7d — and to [[CoarsestTier]]
    * otherwise. */
  val Routes: Seq[(String, Long, Long)] = {
    val h = 3600L * 1000; val d = 24 * h
    Seq(("metrics_raw", 3 * h, 1 * h),
      ("metrics_1m", 15 * d, 24 * h),
      ("metrics_5m", 63 * d, 7 * d))
  }
  val CoarsestTier = "metrics_1h"

  /** P8 — pick the physical table by query age and span over [[Routes]].
    * Age/span from ms-epoch params; start=end=0 short-circuits to raw.
    * Semantically this is a materialized-view rewrite done at the app level
    * (SURVEY §4). */
  def selectTable(startMs: Column, endMs: Column, nowMs: Long): Column = {
    val span = endMs - startMs
    val age = lit(nowMs) - startMs
    Routes.foldLeft(when(startMs === 0 && endMs === 0, "metrics_raw")) {
      case (acc, (tier, maxAge, maxSpan)) => acc.when(age < maxAge && span < maxSpan, tier)
    }.otherwise(CoarsestTier)
  }

  def selectTable(startMs: Long, endMs: Long, nowMs: Long): String =
    if (startMs == 0 && endMs == 0) "metrics_raw"
    else Routes.collectFirst {
      case (tier, maxAge, maxSpan)
          if nowMs - startMs < maxAge && endMs - startMs < maxSpan => tier
    }.getOrElse(CoarsestTier)

  /** A13 — sample value per row: gauges/sums carry `value`; histograms expose
    * sum/count (avg) when count > 0 (handler.go:179-205). Rows matching
    * neither arm yield NULL; the reference skips such rows in its output loop
    * entirely, so read paths must filter `sample_value IS NOT NULL` before
    * [[shape]] (q_read_path does). */
  def sampleValue(value: Column, count: Column, sum: Column): Column =
    when(value.isNotNull, value)
      .when(count.isNotNull && sum.isNotNull && count > 0, sum / count)

  /** F15 — deterministic label-set key "k1=v1,k2=v2" with sorted entries
    * (handler.go:341-347; reference iterates a map, we sort). Native codegen
    * expression — computed once per OUTPUT row of every read path, so the
    * interpreted HOF chain was measurable at bench scale. */
  def labelsKey(attributes: Column): Column =
    graft.functions.LabelsKeyExpr.labelsKey(attributes)

  /** Readable HOF reference shape of [[labelsKey]]; pinned identical by
    * LabelsKeyExprSpec. */
  def labelsKeyHof(attributes: Column): Column =
    array_join(
      array_sort(transform(map_entries(attributes),
        e => concat(e.getField("key"), lit("="), e.getField("value")))),
      ",")

  /** O1+O2 — the reference's unconditional result shaping: ORDER BY metric,
    * timestamp, LIMIT 100000 (handler.go:297-298). `tieBreak` makes batch
    * output deterministic where the reference relied on storage order. */
  def shape(df: DataFrame, tsMsCol: Column, tieBreak: Seq[Column],
      limit: Int = 100000): DataFrame =
    df.orderBy(col("metric") +: tsMsCol +: tieBreak: _*).limit(limit)

  /** A14 — regroup scanned rows into per-series summaries
    * (handler.go:137-174): group by (metric, label set). Emitting the full
    * sample arrays is `collect_list(struct(ts,value))`; summary aggregates are
    * the scale-friendly default. */
  def regroupSeries(df: DataFrame, tsMsCol: Column, valueCol: Column): DataFrame =
    df.groupBy(col("metric"), col("labels"))
      .agg(
        count(lit(1)).as("n_samples"),
        min(tsMsCol).as("first_ts_ms"),
        max(tsMsCol).as("last_ts_ms"),
        sum(valueCol).as("value_sum"))
}
