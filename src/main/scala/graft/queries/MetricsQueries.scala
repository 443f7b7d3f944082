package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{OtlpFlatten, Validation}
import graft.metrics.{EventsMetrics, Rollup, Temporality}
import graft.query.Promread

/** Metrics-pipeline operator queries: temporality conversion A4–A6 + J1,
  * rollup cascade A1–A3, series hash F9, ingest flatten S2, validation P1–P3,
  * resolution routing P8, and the composite promread read path
  * (P4–P7 + A13/A14 + O1/O2).
  *
  * All run over the canonical events→metrics view so the DuckDB oracle can
  * restate each operator in ANSI SQL (window functions for the stateful ops).
  */
object MetricsQueries {

  import OracleDefs.{NowMs, EvtCte}

  private val seriesCols = Seq(col("workspace_id"), col("metric"), col("user_id"))
  private val orderCols = Seq(col("ts_ms"), col("event_id"))
  private val SeriesPart = "PARTITION BY workspace_id, metric, user_id ORDER BY ts_ms, event_id"

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100, 0).cast("long")

  /** Closed-form projection of a FULL rollup tier for the oracle: scalar
    * stats + count/sum + bucket concat reduced to (size, count total), then
    * `mid` (the 1m-only exp fields), then attrs + samples_count. */
  private def fullRollupOut(mid: Seq[org.apache.spark.sql.Column]) =
    Seq(col("workspace_id"), col("metric"), col("bucket_ms"),
      col("value_min"), col("value_max"),
      OracleDefs.stableAvg4(col("value_avg")).as("value_avg"), col("value_last"),
      col("count"), round(col("sum"), 2).as("sum"),
      size(col("buckets")).as("n_bucket_entries"),
      aggregate(col("buckets"), lit(0L),
        (acc, b) => acc + b.getField("count")).as("bucket_count_total")) ++
      mid ++
      Seq(Promread.labelsKey(col("attributes")).as("attrs"), col("samples_count"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A4 — cumulative→delta with counter-reset rule (temporality.go:43-113);
    // semantics pinned by the reference's own test sequences
    // (temporality_test.go:20-95): first point raw, reset → raw, else v−prev.
    "q_a4_cum_to_delta" -> ((s, d) =>
      Temporality.toDelta(EventsMetrics.fromEvents(s, d), seriesCols, orderCols)
        .select(col("event_id"), round(col("delta"), 2).as("delta"))),

    // A5 — counter-reset detection counts per series (temporality.go:142-179)
    // (the window and the per-series count both cluster on the series key,
    // so one exchange feeds window → agg)
    "q_a5_reset_count" -> ((s, d) =>
      Temporality.toDelta(EventsMetrics.fromEvents(s, d), seriesCols, orderCols)
        .groupBy(col("workspace_id"), col("metric"), col("user_id"))
        .agg(sum(when(col("is_reset"), 1L).otherwise(0L)).as("resets"),
          count(lit(1)).as("points"))),

    // A6/W2 — delta→cumulative running reconstruction (temporality.go:181-236),
    // keyed per series (diverging from the reference's shared-accumulator bug
    // at handler.go:184-197 — documented in Temporality.toCumulative).
    "q_a6_delta_to_cum" -> ((s, d) =>
      Temporality.toCumulative(EventsMetrics.fromEvents(s, d), seriesCols, orderCols)
        .select(col("event_id"), round(col("cum_value"), 2).as("cum_value"))),

    // A4 histogram arm — cumulative→delta for count/sum/buckets per series
    // (temporality.go:87-94 guarded subtraction + :115-140 bucket alignment):
    // count/sum subtract only when the previous value is > 0; reset (count
    // decreased) passes the raw snapshot through; buckets delta at matching
    // bounds. The fixture's pmod sequences hit every arm: first point, reset,
    // prev=0 passthrough, and the normal subtraction.
    "q_a4_hist_deltas" -> ((s, d) => {
      val w = Temporality.seriesWindow(seriesCols, orderCols)
      val snap = EventsMetrics.fromEvents(s, d).select(
        col("workspace_id"), col("metric"), col("user_id"),
        col("ts_ms"), col("event_id"),
        pmod(col("event_id"), lit(97L)).as("ccount"),
        round(col("value") * 10, 2).as("csum"),
        array(
          struct(lit(1.0).as("le"), pmod(col("event_id"), lit(13L)).as("count")),
          struct(lit(5.0).as("le"), pmod(col("event_id"), lit(29L)).as("count")))
          .as("cbuckets"))
      val prevCount = lag(col("ccount"), 1).over(w)
      val prevSum = lag(col("csum"), 1).over(w)
      val prevBuckets = lag(col("cbuckets"), 1).over(w)
      val reset = coalesce(Temporality.resetFlag(col("ccount"), w), lit(false))
      snap.select(
        col("event_id"),
        reset.as("is_reset"),
        Temporality.deltaGuarded(col("ccount"), prevCount, reset)
          .as("count_delta"),
        round(Temporality.deltaGuarded(col("csum"), prevSum, reset), 2)
          .as("sum_delta"),
        aggregate(
          Temporality.deltaBuckets(col("cbuckets"), prevBuckets, reset),
          lit(0L), (acc, b) => acc + b.getField("count"))
          .as("bucket_delta_total"))
    }),

    // J1/W1 — series-state lookup: previous point per series via lag
    // (temporality.go:11-23,51-61 as-of self-join semantics)
    "q_j1_lag_lookup" -> ((s, d) => {
      val w = Temporality.seriesWindow(seriesCols, orderCols)
      EventsMetrics.fromEvents(s, d).select(col("event_id"),
        coalesce(lag(col("value"), 1).over(w), lit(-1.0)).as("prev_value"),
        coalesce(col("ts_ms") - lag(col("ts_ms"), 1).over(w), lit(-1L)).as("gap_ms"))
    }),

    // A1/W3/ST4 — 1m rollup (schema.sql:146-192): min/max/avg/anyLast/sum/count
    "q_a1_rollup_1m" -> ((s, d) => {
      Rollup.rollup1m(EventsMetrics.fromEvents(s, d),
          Seq(col("workspace_id"), col("metric")),
          col("ts_ms"), col("value"), col("event_id"))
        .select(col("workspace_id"), col("metric"), col("bucket_ms"),
          col("value_min"), col("value_max"),
          OracleDefs.stableAvg4(col("value_avg")).as("value_avg"),
          col("value_last"),
          round(col("value_sum"), 2).as("value_sum"),
          col("samples_count"))
    }),

    // A2 — 5m rollup over 1m with the faithful avg-of-avgs (schema.sql:262)
    "q_a2_rollup_5m" -> ((s, d) => {
      val keys = Seq(col("workspace_id"), col("metric"))
      val m1 = Rollup.rollup1m(EventsMetrics.fromEvents(s, d), keys,
        col("ts_ms"), col("value"), col("event_id"))
      Rollup.rollup5m(m1, keys)
        .select(col("workspace_id"), col("metric"), col("bucket_ms"),
          col("value_min"), col("value_max"),
          OracleDefs.stableAvg4(col("value_avg")).as("value_avg"),
          col("value_last"),
          round(col("value_sum"), 2).as("value_sum"),
          col("samples_count"))
    }),

    // A3 — 1h rollup over 5m (schema.sql:340-374), full cascade
    "q_a3_rollup_1h" -> ((s, d) => {
      val keys = Seq(col("workspace_id"), col("metric"))
      val m1 = Rollup.rollup1m(EventsMetrics.fromEvents(s, d), keys,
        col("ts_ms"), col("value"), col("event_id"))
      Rollup.rollup1h(Rollup.rollup5m(m1, keys), keys)
        .select(col("workspace_id"), col("metric"), col("bucket_ms"),
          col("value_min"), col("value_max"),
          OracleDefs.stableAvg4(col("value_avg")).as("value_avg"),
          col("value_last"),
          round(col("value_sum"), 2).as("value_sum"),
          col("samples_count"))
    }),

    // A1 full-width — the COMPLETE 1m MV column set (schema.sql:146-192):
    // scalar stats + sum(count)/sum(sum) + the groupArray bucket concat +
    // exp fields + any(attributes), over the deterministic histogram-typed
    // fixture (EventsMetrics.withHistogram). Bucket/exp payloads are
    // projected to closed-form scalars so the oracle can restate them
    // (sizes + count totals).
    "q_a1_full_rollup" -> ((s, d) => {
      val hist = EventsMetrics.withHistogram(EventsMetrics.fromEvents(s, d))
      Rollup.rollup1mFull(hist, Seq(col("workspace_id"), col("metric")),
          col("ts_ms"), col("event_id"))
        .select(fullRollupOut(
          Seq(col("exp_scale"), col("exp_zero_count"), col("exp_zero_threshold"),
            size(col("exp_positive_buckets")).as("n_exp_entries"),
            size(col("exp_negative_buckets")).as("n_exp_neg_entries"),
            aggregate(col("exp_negative_buckets"), lit(0L),
              (acc, b) => acc + b.getField("count")).as("exp_neg_count_total"))): _*)
    }),

    // A2 full-width — the COMPLETE 5m MV column set (schema.sql:249-283):
    // the 1m full tier re-aggregated with sum(count)/sum(sum), the
    // groupArray bucket concat, any(attributes) and sum(samples_count).
    // Exp fields are dropped, faithful to the 5m table (schema.sql:194-247).
    "q_a2_full_rollup" -> ((s, d) => {
      val keys = Seq(col("workspace_id"), col("metric"))
      val m1 = Rollup.rollup1mFull(
        EventsMetrics.withHistogram(EventsMetrics.fromEvents(s, d)),
        keys, col("ts_ms"), col("event_id"))
      Rollup.rollup5mFull(m1, keys)
        .select(fullRollupOut(Nil): _*)
    }),

    // A3 full-width — the COMPLETE 1h MV column set (schema.sql:340-374),
    // full cascade 1m→5m→1h over the histogram fixture.
    "q_a3_full_rollup" -> ((s, d) => {
      val keys = Seq(col("workspace_id"), col("metric"))
      val m1 = Rollup.rollup1mFull(
        EventsMetrics.withHistogram(EventsMetrics.fromEvents(s, d)),
        keys, col("ts_ms"), col("event_id"))
      Rollup.rollup1hFull(Rollup.rollup5mFull(m1, keys), keys)
        .select(fullRollupOut(Nil): _*)
    }),

    // F9 — series hash determinism: xxhash64 over sorted attribute entries
    // must be injective on the key set (writer.go:105-116 + SURVEY's
    // determinism fix). DuckDB cannot compute xxhash64, so the oracle checks
    // the hash's *distinct count* equals the key set's distinct count.
    "q_f9_series_hash" -> ((s, d) => {
      EventsMetrics.canonical(s, d).agg(
        count_distinct(col("series_hash")).as("distinct_hashes"),
        count_distinct(col("workspace_id"), col("metric"), col("user_id"))
          .as("distinct_keys"))
    }),

    // S2 — OTLP-shaped nest → explode flatten round-trip (otlp.go:91-124):
    // the flattened output must equal the flat projection of the source.
    // The nest keys include a day bucket so collect_list arrays stay bounded
    // (~rows/day/resource) — nesting a whole table into a handful of resource
    // rows would make the harness query itself the scale hazard.
    "q_s2_flatten" -> ((s, d) => {
      val flat = EventsMetrics.fromEvents(s, d)
      val nested = OtlpFlatten.nest(flat,
        Seq(col("workspace_id"), col("service_name"),
          Rollup.bucketMs(col("ts_ms"), 86400000L).as("day_ms")),
        struct(col("event_id"), col("metric"), col("ts_ms"),
          OtlpFlatten.widen(col("value")).as("value")))
      OtlpFlatten.flatten(nested)
        .select(col("dp.event_id").as("event_id"), col("workspace_id"),
          col("dp.metric").as("metric"), col("service_name"),
          col("dp.ts_ms").as("ts_ms"), col("dp.value").as("value"))
    }),

    // P1 — validation with first-match-wins reject reasons
    // (processor.go:120-172); corruption is synthesized deterministically so
    // every rule fires on a known subset.
    "q_p1_validation" -> ((s, d) => {
      val cor = EventsMetrics.fromEvents(s, d).select(
        col("event_id"),
        when(col("event_id") % 89 === 0, "").otherwise(col("metric")).as("name"),
        when(col("event_id") % 83 === 0, 0L)
          .when(col("event_id") % 79 === 0, col("ts_ms") + 3456000000L)
          .otherwise(col("ts_ms")).as("ts2"),
        when(col("event_id") % 73 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("val"),
        when(col("event_type") === "error", "bogus")
          .when(col("event_type").isin("view", "click"), "gauge")
          .otherwise("sum").as("mtype"))
      cor.withColumn("reject_reason",
          Validation.rejectReason(col("name"), col("ts2"), col("mtype"),
            col("val"), lit(null).cast("long"), lit(null).cast("double"),
            lit(null).cast("array<struct<le:double,count:bigint>>"), NowMs))
        .groupBy(col("reject_reason")).agg(count(lit(1)).as("cnt"))
    }),

    // P2/P3 — workspace + TTL stamping (processor.go:62,98)
    "q_p2_p3_stamping" -> ((s, d) => {
      val df = EventsMetrics.fromEvents(s, d).filter(col("event_id") % 100 === 0)
      Validation.stampTtl(Validation.stampWorkspace(df, "ws-override"), lit(NowMs))
        .select(col("event_id"), col("workspace_id"), col("ttl_ms"), col("ts_ms"))
    }),

    // P8 — resolution routing truth table (handler.go:304-321)
    "q_p8_route" -> ((s, d) => {
      import s.implicits._
      val h = 3600L * 1000; val day = 24 * h
      val cases = Seq(
        (1L, 0L, 0L),
        (2L, NowMs - 2 * h, NowMs - 90 * 60 * 1000L),
        (3L, NowMs - 2 * day, NowMs - 2 * day + 12 * h),
        (4L, NowMs - 30 * day, NowMs - 30 * day + 3 * day),
        (5L, NowMs - 100 * day, NowMs - 100 * day + day),
        (6L, NowMs - 2 * day, NowMs),
        (7L, NowMs - h, NowMs))
      cases.toDF("case_id", "start_ms", "end_ms")
        .withColumn("tbl", Promread.selectTable(col("start_ms"), col("end_ms"), NowMs))
    }),

    // P4+P5+P6+P7 — matcher compiler EQ/NEQ/RE/NRE + workspace + projection
    "q_p4_matchers" -> ((s, d) => {
      import Promread._
      val df = EventsMetrics.withAttributes(EventsMetrics.fromEvents(s, d))
      val pred = predicate(
        Seq(Matcher("__name__", RE, "^evt_(purchase|view)$"),
          Matcher("user", NRE, "^1"),
          Matcher("svc", NEQ, "svc-2")),
        workspaceId = "ws-1", startMs = 0, endMs = 0)
      df.filter(pred)
        .select(col("event_id"), col("metric"), col("service_name"), col("user_id"))
    }),

    // The composite promread read path: matchers + range + routing-to-raw +
    // A13 sample value + F15 labels + O1 order + O2 limit
    // (handler.go:125-225 end-to-end)
    "q_read_path" -> ((s, d) => {
      import Promread._
      val df = EventsMetrics.withAttributes(EventsMetrics.fromEvents(s, d))
      val startMs = 1704844800000L // 2024-01-10
      val endMs = 1705708800000L   // 2024-01-20
      val pred = predicate(
        Seq(Matcher("__name__", RE, "^evt_(purchase|signup)$"),
          Matcher("user", NEQ, "3")),
        workspaceId = "ws-2", startMs = startMs, endMs = endMs)
      val rows = df.filter(pred)
        .withColumn("labels", labelsKey(col("attributes")))
        .withColumn("sample_value",
          sampleValue(col("value"), lit(null).cast("long"), lit(null).cast("double")))
        .filter(col("sample_value").isNotNull) // reference skips null-sample rows
      shape(rows, col("ts_ms"), Seq(col("event_id")))
        .select(col("metric"), col("labels"), col("ts_ms"), col("sample_value"))
    }),

    // A13 histogram arm — the same read path over a MIXED fixture where every
    // 5th row is histogram-typed (value NULL, count/sum set): sampleValue must
    // take the sum/count avg branch (handler.go:201-205) for those rows and
    // the gauge branch for the rest, in one scan.
    "q_read_path_hist" -> ((s, d) => {
      import Promread._
      val df = EventsMetrics.withAttributes(EventsMetrics.fromEvents(s, d))
      val isHist = col("event_id") % 5 === 0
      val pred = predicate(
        Seq(Matcher("__name__", RE, "^evt_(purchase|signup)$")),
        workspaceId = "ws-2", startMs = 1704844800000L, endMs = 1705708800000L)
      val rows = df.filter(pred)
        .withColumn("labels", labelsKey(col("attributes")))
        .withColumn("sample_value",
          sampleValue(
            when(!isHist, col("value")),
            when(isHist, (col("user_id") % 7 + 2).cast("long")),
            when(isHist, round(col("value") * 3, 2))))
        .filter(col("sample_value").isNotNull)
      shape(rows, col("ts_ms"), Seq(col("event_id")))
        .select(col("metric"), col("labels"), col("ts_ms"),
          round(col("sample_value"), 6).as("sample_value"),
          isHist.as("is_hist"))
    }),

    // A14 — series regrouping for output (handler.go:137-174)
    "q_a14_series_regroup" -> ((s, d) => {
      val df = EventsMetrics.withAttributes(EventsMetrics.fromEvents(s, d))
        .filter(col("workspace_id") === "ws-0")
        .withColumn("labels", Promread.labelsKey(col("attributes")))
      Promread.regroupSeries(df.withColumn("value_cents", cents(col("value"))),
          col("ts_ms"), col("value_cents"))
        .select(col("metric"), col("labels"), col("n_samples"),
          col("first_ts_ms"), col("last_ts_ms"),
          col("value_sum").cast("long").as("value_cents_sum"))
    }))

  /** DuckDB restatement of rollup1mFull over the withHistogram fixture, with
    * the bucket/exp payloads already reduced to closed-form modular sums. */
  private val M1FullSql =
    """SELECT workspace_id, metric, (ts_ms // 60000) * 60000 AS bucket_ms,
      |       min(value) vmin, max(value) vmax, avg(value) vavg,
      |       arg_max(value, event_id) vlast,
      |       sum(user_id % 10 + 1) cntc, sum(round(value * 10, 2)) sumc,
      |       4 * count(*) nbe,
      |       sum(user_id % 3 + user_id % 5 + user_id % 7 + user_id % 11) bct,
      |       count(*) cnt, max(event_id) lseq
      |       FROM evt GROUP BY 1,2,3""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_a4_cum_to_delta" -> s"""$EvtCte,
      |x AS (SELECT workspace_id, metric, user_id, ts_ms, event_id, value,
      |             lag(value) OVER ($SeriesPart) AS prev FROM evt)
      |SELECT event_id,
      |       round(CASE WHEN prev IS NULL THEN value
      |                  WHEN value < prev THEN value
      |                  ELSE value - prev END, 2) AS delta
      |FROM x ORDER BY workspace_id, metric, user_id, ts_ms, event_id""".stripMargin,

    "q_a5_reset_count" -> s"""$EvtCte,
      |x AS (SELECT workspace_id, metric, user_id, value,
      |             lag(value) OVER ($SeriesPart) AS prev FROM evt)
      |SELECT workspace_id, metric, user_id,
      |       CAST(sum(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END) AS BIGINT) AS resets,
      |       count(*) AS points
      |FROM x GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,

    "q_a6_delta_to_cum" -> s"""$EvtCte
      |SELECT event_id,
      |       round(sum(value) OVER ($SeriesPart
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_value
      |FROM evt ORDER BY workspace_id, metric, user_id, ts_ms, event_id""".stripMargin,

    "q_a4_hist_deltas" -> s"""$EvtCte,
      |x AS (SELECT workspace_id, metric, user_id, ts_ms, event_id,
      |             event_id % 97 AS ccount, round(value * 10, 2) AS csum,
      |             lag(event_id % 97) OVER ($SeriesPart) AS pcount,
      |             lag(round(value * 10, 2)) OVER ($SeriesPart) AS psum,
      |             lag(event_id) OVER ($SeriesPart) AS pev
      |      FROM evt)
      |SELECT event_id,
      |       (pcount IS NOT NULL AND ccount < pcount) AS is_reset,
      |       CAST(CASE WHEN pcount IS NULL OR ccount < pcount THEN ccount
      |                 WHEN pcount > 0 THEN ccount - pcount
      |                 ELSE ccount END AS BIGINT) AS count_delta,
      |       round(CASE WHEN pcount IS NULL OR ccount < pcount THEN csum
      |                  WHEN psum > 0 THEN csum - psum
      |                  ELSE csum END, 2) AS sum_delta,
      |       CAST(CASE WHEN pcount IS NULL OR ccount < pcount
      |                 THEN (event_id % 13) + (event_id % 29)
      |                 ELSE (event_id % 13 - pev % 13) + (event_id % 29 - pev % 29)
      |            END AS BIGINT) AS bucket_delta_total
      |FROM x ORDER BY workspace_id, metric, user_id, ts_ms, event_id""".stripMargin,

    "q_j1_lag_lookup" -> s"""$EvtCte
      |SELECT event_id,
      |       coalesce(lag(value) OVER ($SeriesPart), -1.0) AS prev_value,
      |       coalesce(ts_ms - lag(ts_ms) OVER ($SeriesPart), -1) AS gap_ms
      |FROM evt ORDER BY workspace_id, metric, user_id, ts_ms, event_id""".stripMargin,

    "q_a1_rollup_1m" -> s"""$EvtCte
      |SELECT workspace_id, metric,
      |       (ts_ms // 60000) * 60000 AS bucket_ms,
      |       min(value) AS value_min, max(value) AS value_max,
      |       ${OracleDefs.stableAvg4Sql("avg(value)")} AS value_avg,
      |       arg_max(value, event_id) AS value_last,
      |       round(sum(value), 2) AS value_sum,
      |       count(*) AS samples_count
      |FROM evt GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,

    "q_a2_rollup_5m" -> s"""$EvtCte,
      |m1 AS (SELECT workspace_id, metric, (ts_ms // 60000) * 60000 AS bucket_ms,
      |       min(value) vmin, max(value) vmax, avg(value) vavg,
      |       arg_max(value, event_id) vlast, sum(value) vsum, count(*) cnt,
      |       max(event_id) lseq
      |       FROM evt GROUP BY 1,2,3)
      |SELECT workspace_id, metric, (bucket_ms // 300000) * 300000 AS bucket_ms,
      |       min(vmin) AS value_min, max(vmax) AS value_max,
      |       ${OracleDefs.stableAvg4Sql("avg(vavg)")} AS value_avg,
      |       arg_max(vlast, lseq) AS value_last,
      |       round(sum(vsum), 2) AS value_sum,
      |       CAST(sum(cnt) AS BIGINT) AS samples_count
      |FROM m1 GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,

    "q_a3_rollup_1h" -> s"""$EvtCte,
      |m1 AS (SELECT workspace_id, metric, (ts_ms // 60000) * 60000 AS bucket_ms,
      |       min(value) vmin, max(value) vmax, avg(value) vavg,
      |       arg_max(value, event_id) vlast, sum(value) vsum, count(*) cnt,
      |       max(event_id) lseq
      |       FROM evt GROUP BY 1,2,3),
      |m5 AS (SELECT workspace_id, metric, (bucket_ms // 300000) * 300000 AS bucket_ms,
      |       min(vmin) vmin, max(vmax) vmax, avg(vavg) vavg,
      |       arg_max(vlast, lseq) vlast, sum(vsum) vsum,
      |       CAST(sum(cnt) AS BIGINT) cnt, max(lseq) lseq
      |       FROM m1 GROUP BY 1,2,3)
      |SELECT workspace_id, metric, (bucket_ms // 3600000) * 3600000 AS bucket_ms,
      |       min(vmin) AS value_min, max(vmax) AS value_max,
      |       ${OracleDefs.stableAvg4Sql("avg(vavg)")} AS value_avg,
      |       arg_max(vlast, lseq) AS value_last,
      |       round(sum(vsum), 2) AS value_sum,
      |       CAST(sum(cnt) AS BIGINT) AS samples_count
      |FROM m5 GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,

    "q_a1_full_rollup" -> s"""$EvtCte
      |SELECT workspace_id, metric, (ts_ms // 60000) * 60000 AS bucket_ms,
      |       min(value) AS value_min, max(value) AS value_max,
      |       ${OracleDefs.stableAvg4Sql("avg(value)")} AS value_avg,
      |       arg_max(value, event_id) AS value_last,
      |       CAST(sum(user_id % 10 + 1) AS BIGINT) AS count,
      |       round(sum(round(value * 10, 2)), 2) AS sum,
      |       CAST(4 * count(*) AS INT) AS n_bucket_entries,
      |       CAST(sum(user_id % 3 + user_id % 5 + user_id % 7 + user_id % 11) AS BIGINT)
      |         AS bucket_count_total,
      |       CAST(length(metric) % 3 AS INT) AS exp_scale,
      |       CAST(sum(user_id % 4) AS BIGINT) AS exp_zero_count,
      |       CAST((length(metric) % 3) * 0.5 AS DOUBLE) AS exp_zero_threshold,
      |       CAST(count(*) AS INT) AS n_exp_entries,
      |       CAST(count(*) AS INT) AS n_exp_neg_entries,
      |       CAST(sum(user_id % 6) AS BIGINT) AS exp_neg_count_total,
      |       'm=' || metric AS attrs,
      |       count(*) AS samples_count
      |FROM evt GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_a2_full_rollup" -> s"""$EvtCte,
      |m1 AS ($M1FullSql)
      |SELECT workspace_id, metric, (bucket_ms // 300000) * 300000 AS bucket_ms,
      |       min(vmin) AS value_min, max(vmax) AS value_max,
      |       ${OracleDefs.stableAvg4Sql("avg(vavg)")} AS value_avg,
      |       arg_max(vlast, lseq) AS value_last,
      |       CAST(sum(cntc) AS BIGINT) AS count,
      |       round(sum(sumc), 2) AS sum,
      |       CAST(sum(nbe) AS INT) AS n_bucket_entries,
      |       CAST(sum(bct) AS BIGINT) AS bucket_count_total,
      |       'm=' || metric AS attrs,
      |       CAST(sum(cnt) AS BIGINT) AS samples_count
      |FROM m1 GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,

    "q_a3_full_rollup" -> s"""$EvtCte,
      |m1 AS ($M1FullSql),
      |m5 AS (SELECT workspace_id, metric, (bucket_ms // 300000) * 300000 AS bucket_ms,
      |       min(vmin) vmin, max(vmax) vmax, avg(vavg) vavg,
      |       arg_max(vlast, lseq) vlast, sum(cntc) cntc, sum(sumc) sumc,
      |       sum(nbe) nbe, sum(bct) bct, sum(cnt) cnt, max(lseq) lseq
      |       FROM m1 GROUP BY 1,2,3)
      |SELECT workspace_id, metric, (bucket_ms // 3600000) * 3600000 AS bucket_ms,
      |       min(vmin) AS value_min, max(vmax) AS value_max,
      |       ${OracleDefs.stableAvg4Sql("avg(vavg)")} AS value_avg,
      |       arg_max(vlast, lseq) AS value_last,
      |       CAST(sum(cntc) AS BIGINT) AS count,
      |       round(sum(sumc), 2) AS sum,
      |       CAST(sum(nbe) AS INT) AS n_bucket_entries,
      |       CAST(sum(bct) AS BIGINT) AS bucket_count_total,
      |       'm=' || metric AS attrs,
      |       CAST(sum(cnt) AS BIGINT) AS samples_count
      |FROM m5 GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,

    "q_f9_series_hash" -> s"""$EvtCte
      |SELECT count(DISTINCT (workspace_id, metric, user_id)) AS distinct_hashes,
      |       count(DISTINCT (workspace_id, metric, user_id)) AS distinct_keys
      |FROM evt""".stripMargin,

    "q_s2_flatten" -> s"""$EvtCte
      |SELECT event_id, workspace_id, metric, service_name, ts_ms,
      |       CAST(value AS DOUBLE) AS value
      |FROM evt ORDER BY event_id""".stripMargin,

    "q_p1_validation" -> s"""$EvtCte,
      |cor AS (SELECT event_id,
      |        CASE WHEN event_id % 89 = 0 THEN '' ELSE metric END AS name,
      |        CASE WHEN event_id % 83 = 0 THEN 0
      |             WHEN event_id % 79 = 0 THEN ts_ms + 3456000000
      |             ELSE ts_ms END AS ts2,
      |        CASE WHEN event_id % 73 = 0 THEN NULL ELSE value END AS val,
      |        CASE WHEN event_type = 'error' THEN 'bogus'
      |             WHEN event_type IN ('view','click') THEN 'gauge'
      |             ELSE 'sum' END AS mtype
      |        FROM evt)
      |SELECT reject_reason, count(*) AS cnt FROM (
      |  SELECT CASE WHEN name = '' THEN 'empty_name'
      |              WHEN ts2 = 0 THEN 'zero_ts'
      |              WHEN ts2 > ${NowMs + 86400000L} THEN 'too_future'
      |              WHEN ts2 < ${NowMs - 7 * 86400000L} THEN 'too_old'
      |              WHEN mtype IN ('gauge','sum') AND val IS NULL THEN 'missing_value'
      |              WHEN mtype NOT IN ('gauge','sum','histogram','summary') THEN 'unknown_type'
      |              ELSE 'valid' END AS reject_reason
      |  FROM cor)
      |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_p2_p3_stamping" -> s"""$EvtCte
      |SELECT event_id, 'ws-override' AS workspace_id,
      |       ${NowMs + 3 * 3600000L} AS ttl_ms, ts_ms
      |FROM evt WHERE event_id % 100 = 0 ORDER BY event_id""".stripMargin,

    "q_p8_route" -> {
      val h = 3600000L; val day = 24 * h
      val cases = Seq(
        (1L, 0L, 0L),
        (2L, NowMs - 2 * h, NowMs - 90 * 60000L),
        (3L, NowMs - 2 * day, NowMs - 2 * day + 12 * h),
        (4L, NowMs - 30 * day, NowMs - 30 * day + 3 * day),
        (5L, NowMs - 100 * day, NowMs - 100 * day + day),
        (6L, NowMs - 2 * day, NowMs),
        (7L, NowMs - h, NowMs))
      val values = cases.map { case (i, a, b) => s"($i, $a, $b)" }.mkString(",")
      s"""SELECT case_id, start_ms, end_ms,
        |       CASE WHEN start_ms = 0 AND end_ms = 0 THEN 'metrics_raw'
        |            WHEN $NowMs - start_ms < ${3 * h} AND end_ms - start_ms < $h THEN 'metrics_raw'
        |            WHEN $NowMs - start_ms < ${15 * day} AND end_ms - start_ms < ${24 * h} THEN 'metrics_1m'
        |            WHEN $NowMs - start_ms < ${63 * day} AND end_ms - start_ms < ${7 * day} THEN 'metrics_5m'
        |            ELSE 'metrics_1h' END AS tbl
        |FROM (VALUES $values) t(case_id, start_ms, end_ms)
        |ORDER BY case_id""".stripMargin
    },

    "q_p4_matchers" -> s"""$EvtCte
      |SELECT event_id, metric, service_name, user_id FROM evt
      |WHERE workspace_id = 'ws-1'
      |  AND regexp_matches(metric, '^evt_(purchase|view)$$')
      |  AND NOT regexp_matches(CAST(user_id AS VARCHAR), '^1')
      |  AND service_name <> 'svc-2'
      |ORDER BY event_id""".stripMargin,

    "q_read_path" -> s"""$EvtCte
      |SELECT metric,
      |       'kind=' || event_type || ',svc=' || service_name ||
      |         ',user=' || CAST(user_id AS VARCHAR) AS labels,
      |       ts_ms, value AS sample_value
      |FROM evt
      |WHERE workspace_id = 'ws-2'
      |  AND ts_ms >= 1704844800000 AND ts_ms <= 1705708800000
      |  AND regexp_matches(metric, '^evt_(purchase|signup)$$')
      |  AND CAST(user_id AS VARCHAR) <> '3'
      |ORDER BY metric, ts_ms, event_id
      |LIMIT 100000""".stripMargin,

    "q_read_path_hist" -> s"""$EvtCte
      |SELECT metric,
      |       'kind=' || event_type || ',svc=' || service_name ||
      |         ',user=' || CAST(user_id AS VARCHAR) AS labels,
      |       ts_ms,
      |       round(CASE WHEN event_id % 5 = 0
      |                  THEN round(value * 3, 2) / (user_id % 7 + 2)
      |                  ELSE value END, 6) AS sample_value,
      |       event_id % 5 = 0 AS is_hist
      |FROM evt
      |WHERE workspace_id = 'ws-2'
      |  AND ts_ms >= 1704844800000 AND ts_ms <= 1705708800000
      |  AND regexp_matches(metric, '^evt_(purchase|signup)$$')
      |ORDER BY metric, ts_ms, event_id
      |LIMIT 100000""".stripMargin,

    "q_a14_series_regroup" -> s"""$EvtCte
      |SELECT metric,
      |       'kind=' || event_type || ',svc=' || service_name ||
      |         ',user=' || CAST(user_id AS VARCHAR) AS labels,
      |       count(*) AS n_samples,
      |       min(ts_ms) AS first_ts_ms, max(ts_ms) AS last_ts_ms,
      |       CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents_sum
      |FROM evt WHERE workspace_id = 'ws-0'
      |GROUP BY 1,2 ORDER BY metric, labels""".stripMargin)
}
