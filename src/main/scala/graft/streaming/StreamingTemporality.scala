package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.model.{Bucket, ConversionState, ExemplarRow, MetricPoint}

/** Converted output of one datapoint (delta temporality). */
case class DeltaPoint(
    series_hash: Long,
    workspaceId: String,
    metric: String,
    ts_ms: Long,
    is_reset: Boolean,
    delta: Option[Double],
    delta_count: Option[Long],
    delta_sum: Option[Double],
    delta_buckets: Seq[Bucket],
    attributes: Map[String, String] = Map.empty,
    exemplars: Seq[ExemplarRow] = Nil,
    metric_type: Byte = 0,
    is_monotonic: Boolean = false,
    serviceName: String = "",
    ttl_ms: Long = 0L)

/** ST1–ST8 — the streaming twin of [[graft.metrics.Temporality]] (reference:
  * internal/converter/temporality.go:11-141 per-series state map;
  * internal/processor/processor.go:81-87 dual flush trigger).
  *
  * The reference keeps `map[seriesHash]ConversionState` in one process; at
  * 100 TB-scale ingest that state must live sharded next to the data, so here
  * it is a `flatMapGroupsWithState` keyed by series_hash: Spark hash-partitions
  * the stream by key, each executor owns its shard of states in the state
  * store, and checkpointing (ST6) makes it exactly-once across restarts.
  *
  * Semantics — identical to the batch rules, pinned by the reference's test
  * sequences (test/temporality_test.go:20-95):
  *   first point → raw; monotonic reset (v < last) → raw; else v − last.
  *   Histogram count/sum subtract only when previous > 0 (temporality.go:87-94);
  *   buckets align by bound, absent bound → raw count (temporality.go:115-140,
  *   Go-map last-wins on duplicate bounds).
  *
  * Ordering (ST7): within a micro-batch the group's rows are sorted by
  * (ts_ms, insertion) before folding — Spark does not guarantee intra-group
  * order. ACROSS batches, a point at ts <= state.lastTimestamp is late data:
  * dropped, mirroring the watermark policy (ST3) — the reference instead
  * trusts arrival order (SURVEY §7.4.1), which a distributed shuffle cannot.
  */
object StreamingTemporality extends Serializable {

  /** Pure per-series fold shared by every entry point (and unit tests):
    * (state, sorted points) → (new state, outputs).
    *
    * Reset detection is type-aware, exactly the reference's ResetDetector
    * (temporality.go:145-179): a monotonic SUM resets when value drops; a
    * HISTOGRAM resets when COUNT drops (sum/buckets don't vote). State
    * fields update only when the point carries them (temporality.go:79,
    * :100-105 — `if metric.X != nil { state.LastX = … }`), except
    * lastBuckets, which the reference overwrites unconditionally (:106). */
  def foldSeries(init: Option[ConversionState], points: Seq[MetricPoint])
      : (Option[ConversionState], Seq[DeltaPoint]) = {
    var st = init
    val out = Seq.newBuilder[DeltaPoint]
    points.foreach { p =>
      val tsMs = p.timestamp.getTime
      if (st.exists(_.lastTimestamp >= tsMs)) {
        // late or duplicate within the series — dropped (ST3/ST7)
      } else {
        val prev = st.filter(_.initialized)
        val isHistogram = p.metric_type == graft.model.Schemas.MetricType.Histogram
        val reset = prev.exists { s =>
          if (isHistogram) p.count.exists(_ < s.lastCount)
          else p.is_monotonic && p.value.exists(_ < s.lastValue)
        }
        val delta = p.value.map { v =>
          prev match {
            case Some(s) if !reset => v - s.lastValue
            case _ => v
          }
        }
        val deltaCount = p.count.map { c =>
          prev match {
            case Some(s) if !reset && s.lastCount > 0 => c - s.lastCount
            case _ => c
          }
        }
        val deltaSum = p.sum.map { v =>
          prev match {
            case Some(s) if !reset && s.lastSum > 0 => v - s.lastSum
            case _ => v
          }
        }
        val deltaBuckets = prev match {
          case Some(s) if !reset && s.lastBuckets.nonEmpty =>
            val prevByLe = s.lastBuckets.map(b => b.le -> b.count).toMap // last-wins
            p.buckets.map(b => Bucket(b.le, b.count - prevByLe.getOrElse(b.le, 0L)))
          case _ => p.buckets
        }
        out += DeltaPoint(p.series_hash, p.workspaceId, p.metric, tsMs,
          reset, delta, deltaCount, deltaSum, deltaBuckets, p.attributes,
          p.exemplars, p.metric_type, p.is_monotonic, p.serviceName, p.ttl_ms)
        st = Some(ConversionState(
          lastValue = p.value.getOrElse(prev.fold(0.0)(_.lastValue)),
          lastCount = p.count.getOrElse(prev.fold(0L)(_.lastCount)),
          lastSum = p.sum.getOrElse(prev.fold(0.0)(_.lastSum)),
          lastBuckets = p.buckets,
          lastTimestamp = tsMs,
          initialized = true))
      }
    }
    (st, out.result())
  }

  /** ST2 — stateful per-series conversion. Works identically on a batch
    * Dataset (state starts empty per key; timeouts are inert) and a
    * streaming one (state persists in the checkpointed state store).
    *
    * `stateTtlMs > 0` bounds state growth: a series idle longer than the TTL
    * is evicted (processing-time timeout). The reference leaks conversion
    * state forever (temporality.go:11-23 — never deleted); a deliberate
    * improvement for long-running deployments (GraftApp enables it), sized
    * well above the validation late-window so no live series can be evicted
    * while its data is still accepted. Opt-in because timeout bookkeeping
    * keeps an open-ended-trigger query permanently busy — continuous
    * timeout-evaluation micro-batches — which e.g. blocks
    * `processAllAvailable` in tests and burns cycles on idle streams. */
  def convertDelta(points: Dataset[MetricPoint],
      stateTtlMs: Long = 0L): Dataset[DeltaPoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    def convertGroup(key: Long, it: Iterator[MetricPoint],
        state: GroupState[ConversionState]): Iterator[DeltaPoint] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val sorted = it.toSeq.sortBy(p => p.timestamp.getTime) // ST7
        val (next, out) = foldSeries(state.getOption, sorted)
        next.foreach(state.update)
        if (stateTtlMs > 0 && state.exists) state.setTimeoutDuration(stateTtlMs)
        out.iterator
      }
    }
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    points
      .groupByKey(_.series_hash)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(convertGroup)
  }

  /** ST4 — streaming tumbling 1m rollup with watermark-bounded state: the
    * streaming twin of the metrics_1m MV (schema.sql:146-192). `max_by` gives
    * anyLast-by-event-time. The 5m/1h tiers cascade by re-reading this sink in
    * batch (ST8): same MV chain as the reference, and the parquet sink is the
    * handoff point — streaming aggregation of a streaming aggregate is not a
    * thing Spark (or the reference's MV engine, which also reads the 1m TABLE)
    * does. */
  /** `seqCol` orders anyLast within the bucket; it defaults to event time,
    * which leaves value_last ARRIVAL-DEPENDENT on equal timestamps — exactly
    * ClickHouse anyLast's contract (schema.sql:161). Pass a unique ingestion
    * sequence for a deterministic pick (the batch twin uses event_id). */
  def rollup1m(points: DataFrame, tsCol: String, lateness: String = "10 minutes",
      seqCol: Option[String] = None): DataFrame =
    points
      .withWatermark(tsCol, lateness)
      .groupBy(
        window(col(tsCol), "1 minute").as("w"),
        col("workspaceId"), col("metric"), col("series_hash"))
      .agg(
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        avg(col("value")).as("value_avg"),
        max_by(col("value"), col(seqCol.getOrElse(tsCol))).as("value_last"),
        sum(col("value")).as("value_sum"),
        count(lit(1)).as("samples_count"))
      .select(unix_millis(col("w.start")).as("bucket_ms"),
        col("workspaceId"), col("metric"), col("series_hash"),
        col("value_min"), col("value_max"), col("value_avg"),
        col("value_last"), col("value_sum"), col("samples_count"))

  /** ST4 full-width — streaming twin of [[graft.metrics.Rollup.rollup1mFull]]
    * over the streamed ingest schema: scalar stats plus sum(count)/sum(sum),
    * the per-minute bucket concatenation (`flatten(collect_list)` — ClickHouse
    * `groupArray`, schema.sql:163-171), and `any(attributes)`. The
    * exp-histogram columns of the batch MV are absent here BY the reference's
    * own semantics: ingest never copies exp payloads into the point stream
    * (otlp.go:234-258), so a streamed point cannot carry them.
    * Pinned batch ≡ streaming (shared fixture, bucket arrays compared sorted
    * — collect order is row-arrival-dependent in both engines) by
    * StreamingTemporalitySpec. `seqCol` as in [[rollup1m]]: default event
    * time reproduces anyLast's arrival-dependence on ties; pass a unique
    * sequence for the batch twin's deterministic pick. */
  def rollup1mFull(points: DataFrame, tsCol: String,
      lateness: String = "10 minutes", seqCol: Option[String] = None): DataFrame =
    points
      .withWatermark(tsCol, lateness)
      .groupBy(
        window(col(tsCol), "1 minute").as("w"),
        col("workspaceId"), col("metric"), col("series_hash"))
      .agg(
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        avg(col("value")).as("value_avg"),
        max_by(col("value"), col(seqCol.getOrElse(tsCol))).as("value_last"),
        sum(col("count")).as("count"),
        sum(col("sum")).as("sum"),
        flatten(collect_list(col("buckets"))).as("buckets"),
        any_value(col("attributes"), lit(true)).as("attributes"),
        count(lit(1)).as("samples_count"))
      .select(unix_millis(col("w.start")).as("bucket_ms"),
        col("workspaceId"), col("metric"), col("series_hash"),
        col("value_min"), col("value_max"), col("value_avg"), col("value_last"),
        col("count"), col("sum"), col("buckets"), col("attributes"),
        col("samples_count"))

  /** ST4 + ST8 — the reference's continuous MV cascade (metrics_5m_mv
    * re-aggregating the 1m tier, schema.sql:249-283) as ONE streaming query:
    * two chained event-time window aggregations — Spark's
    * multiple-stateful-operator support, the 5m tier re-grouping on
    * `window_time` of the 1m window. Column set and faithful avg-of-avgs as
    * [[graft.metrics.Rollup.rollup5mFull]]; `value_last` at 5m picks the
    * LATEST 1m bucket's value_last (ordered by the 1m window's event time —
    * the batch cascade orders by `last_seq`, which is monotone with the
    * bucket, so the twins agree). The batch cascade through the STORED tiers
    * ([[graft.sink.RollupMaintenance.refreshCascade]]) remains the primary
    * ST8 path; this is the single-query continuous variant, pinned
    * streaming ≡ batch-cascade by StreamingTemporalitySpec. */
  def rollup5mFullStreaming(points: DataFrame, tsCol: String,
      lateness: String = "10 minutes", seqCol: Option[String] = None): DataFrame =
    projectTier(coarserTier(
      oneMinuteFullWindowed(points, tsCol, lateness, seqCol),
      "w", "w5", "5 minutes"), "w5")

  /** The full three-tier chain 1m→5m→1h as ONE streaming query (three
    * chained stateful window aggregations) — the deepest MV-chain shape the
    * reference runs (metrics_1h_mv reading the 5m tier, schema.sql:340-374).
    * Same spec-pinned batch-equivalence contract as the 5m twin. */
  def rollup1hFullStreaming(points: DataFrame, tsCol: String,
      lateness: String = "10 minutes", seqCol: Option[String] = None): DataFrame =
    projectTier(coarserTier(coarserTier(
      oneMinuteFullWindowed(points, tsCol, lateness, seqCol),
      "w", "w5", "5 minutes"), "w5", "w1h", "1 hour"), "w1h")

  /** First cascade stage: full-width 1m windowed agg KEEPING the window
    * column so a coarser tier can re-group on `window_time` of it. */
  private def oneMinuteFullWindowed(points: DataFrame, tsCol: String,
      lateness: String, seqCol: Option[String]): DataFrame =
    points
      .withWatermark(tsCol, lateness)
      .groupBy(
        window(col(tsCol), "1 minute").as("w"),
        col("workspaceId"), col("metric"), col("series_hash"))
      .agg(
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        avg(col("value")).as("value_avg"),
        max_by(col("value"), col(seqCol.getOrElse(tsCol))).as("value_last"),
        sum(col("count")).as("count"),
        sum(col("sum")).as("sum"),
        flatten(collect_list(col("buckets"))).as("buckets"),
        any_value(col("attributes"), lit(true)).as("attributes"),
        count(lit(1)).as("samples_count"))

  /** One coarser cascade stage over a windowed finer tier: re-group on
    * `window_time(finer window)`, re-aggregate with the reference MV's
    * column semantics (faithful avg-of-avgs; value_last from the LATEST
    * finer window — batch orders by last_seq, monotone with the window). */
  private def coarserTier(finer: DataFrame, wCol: String, outCol: String,
      duration: String): DataFrame =
    finer
      .groupBy(
        window(window_time(col(wCol)), duration).as(outCol),
        col("workspaceId"), col("metric"), col("series_hash"))
      .agg(
        min(col("value_min")).as("value_min"),
        max(col("value_max")).as("value_max"),
        avg(col("value_avg")).as("value_avg"), // avg-of-avgs, schema.sql:262
        max_by(col("value_last"), window_time(col(wCol))).as("value_last"),
        sum(col("count")).as("count"),
        sum(col("sum")).as("sum"),
        flatten(collect_list(col("buckets"))).as("buckets"),
        any_value(col("attributes"), lit(true)).as("attributes"),
        sum(col("samples_count")).as("samples_count"))

  private def projectTier(tier: DataFrame, wCol: String): DataFrame =
    tier.select(unix_millis(col(s"$wCol.start")).as("bucket_ms"),
      col("workspaceId"), col("metric"), col("series_hash"),
      col("value_min"), col("value_max"), col("value_avg"), col("value_last"),
      col("count"), col("sum"), col("buckets"), col("attributes"),
      col("samples_count"))

  /** ST1 + ST6 + S7 — wire a converted stream into a parquet sink with a
    * processing-time trigger and checkpoint: the flush loop of
    * processor.go:81-87 (ticker + batch-size) maps to micro-batch triggers;
    * exactly-once replaces the reference's at-least-once manual flush. */
  def start(points: Dataset[MetricPoint], sinkDir: String, checkpointDir: String,
      intervalMs: Long = 10000L): StreamingQuery =
    convertDelta(points).writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(intervalMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      .outputMode(OutputMode.Append)
      .start()
}
