package graft

import java.io.FileInputStream
import java.util.Properties

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.{OtlpFlatten, Validation}
import graft.metrics.EventsMetrics
import graft.model.{MetricPoint, Schemas}
import graft.sink.MetricsSink
import graft.streaming.{OtlpSource, StreamingTemporality}

/** S10 — config-driven wiring of the whole ingest pipeline (reference:
  * cmd/main.go:59-216 — YAML config → receiver → processor → writer chain).
  *
  * One streaming query: OTLP export files → flatten → per-type convert →
  * validate (invalid rows DROPPED with a log count, exactly the reference's
  * behavior — processor.go:66-70 returns the error, the receiver logs and
  * moves on; nothing is stored) → workspace/TTL stamp → exemplar cap →
  * series hash → optional cumulative→delta with checkpointed per-series
  * state → partitioned raw-tier Parquet.
  *
  * Config keys (java properties; the reference's YAML fields, flattened):
  *   source.dir, storage.dir, checkpoint.dir,
  *   processor.workspace_id, processor.convert_to_delta,
  *   processor.enable_exemplars, processor.max_exemplars_per_metric,
  *   processor.flush_interval_ms, source.max_files_per_trigger,
  *   maintenance.rollup_every_batches, maintenance.retention_drop,
  *   maintenance.compact_max_files, maintenance.publish_routing,
  *   maintenance.merge_tier_buckets, transport.port, transport.grpc_port,
  *   transport.query_timeout_ms
  *
  * The typed state path carries attributes and exemplar payloads through
  * conversion, so both modes store full rows.
  */
case class GraftConfig(
    sourceDir: String,
    storageDir: String,
    checkpointDir: String,
    workspaceId: String = "default",
    convertToDelta: Boolean = true,
    enableExemplars: Boolean = true,
    maxExemplarsPerMetric: Int = 10,
    flushIntervalMs: Long = 10000L,
    maxFilesPerTrigger: Int = 16,
    stateTtlMs: Long = 8L * 24 * 3600 * 1000,
    rollupEveryBatches: Int = 0,
    retentionDrop: Boolean = false,
    compactMaxFiles: Int = 0,
    publishRouting: Boolean = true,
    mergeTierBuckets: Boolean = false,
    transportPort: Option[Int] = None,
    grpcPort: Option[Int] = None,
    queryTimeoutMs: Long = graft.transport.RemoteReadServer.DefaultQueryTimeoutMs,
    sourceClean: String = "off",
    sourceArchiveDir: Option[String] = None,
    nowMs: Option[Long] = None)

object GraftApp {

  def load(path: String): GraftConfig = {
    val p = new Properties()
    val in = new FileInputStream(path)
    try p.load(in) finally in.close()
    def get(k: String): Option[String] = Option(p.getProperty(k))
    def req(k: String): String = get(k).getOrElse(
      throw new IllegalArgumentException(s"missing config key: $k"))
    GraftConfig(
      sourceDir = req("source.dir"),
      storageDir = req("storage.dir"),
      checkpointDir = req("checkpoint.dir"),
      workspaceId = get("processor.workspace_id").getOrElse("default"),
      convertToDelta = get("processor.convert_to_delta").forall(_.toBoolean),
      enableExemplars = get("processor.enable_exemplars").forall(_.toBoolean),
      maxExemplarsPerMetric =
        get("processor.max_exemplars_per_metric").map(_.toInt).getOrElse(10),
      flushIntervalMs =
        get("processor.flush_interval_ms").map(_.toLong).getOrElse(10000L),
      maxFilesPerTrigger =
        get("source.max_files_per_trigger").map(_.toInt).getOrElse(16),
      stateTtlMs = get("processor.state_ttl_ms").map(_.toLong)
        .getOrElse(8L * 24 * 3600 * 1000),
      rollupEveryBatches =
        get("maintenance.rollup_every_batches").map(_.toInt).getOrElse(0),
      retentionDrop =
        get("maintenance.retention_drop").exists(_.toBoolean),
      compactMaxFiles =
        get("maintenance.compact_max_files").map(_.toInt).getOrElse(0),
      publishRouting =
        get("maintenance.publish_routing").forall(_.toBoolean),
      mergeTierBuckets =
        get("maintenance.merge_tier_buckets").exists(_.toBoolean),
      transportPort = get("transport.port").map(_.toInt),
      grpcPort = get("transport.grpc_port").map(_.toInt),
      queryTimeoutMs = get("transport.query_timeout_ms").map(_.toLong)
        .getOrElse(graft.transport.RemoteReadServer.DefaultQueryTimeoutMs),
      sourceClean = get("source.clean").getOrElse("off"),
      sourceArchiveDir = get("source.archive_dir"))
  }

  /** The stateless ingest chain S2→S3→P1→P2→P3→S4→F9, export rows in, one
    * validated/stamped row per datapoint out. Pure column work — identical
    * for batch and streaming frames. `nowMs` is a Column: streams pass
    * `current_timestamp()` (pinned per micro-batch by Structured Streaming —
    * the per-metric `time.Now()` of processor.go:129); tests pin a literal. */
  def convert(exports: DataFrame, cfg: GraftConfig, nowMs: Column): DataFrame = {
    val converted = OtlpFlatten.convertDatapoints(OtlpSource.explodeExport(exports))
    val validated = converted
      .withColumn("reject_reason",
        Validation.rejectReason(col("metric"), col("ts_ms"), col("kind"),
          col("value"), col("count"), col("sum"), col("buckets"), nowMs))
      .filter(col("reject_reason") === Validation.Valid)
    Validation.stampTtl(
      Validation.stampWorkspace(validated, cfg.workspaceId), nowMs)
      .withColumn("service_name",
        coalesce(element_at(col("resource_attrs"), "service.name"), lit("")))
      .withColumn("exemplars",
        Validation.capExemplars(col("exemplars"), cfg.enableExemplars,
          cfg.maxExemplarsPerMetric))
      .withColumn("series_hash",
        EventsMetrics.seriesHash(col("metric"), col("workspace_id"),
          col("attributes")))
  }

  /** The storage row shape shared by BOTH write modes (metrics_raw,
    * schema.sql:2-73) — flipping convert_to_delta must never fork the
    * table's schema. */
  private val rawColumns = Seq("workspace_id", "series_hash", "metric",
    "service_name", "ts_ms", "metric_type", "temporality", "is_monotonic",
    "value", "count", "sum", "buckets", "attributes", "exemplars", "ttl_ms")

  def toPoints(validated: DataFrame): Dataset[MetricPoint] = {
    val spark = validated.sparkSession
    import spark.implicits._
    validated.select(
      col("workspace_id").as("workspaceId"),
      col("series_hash"),
      col("metric"),
      timestamp_millis(col("ts_ms")).as("timestamp"),
      col("metric_type"),
      col("temporality"),
      col("is_monotonic"),
      col("value"),
      col("count"),
      col("sum"),
      coalesce(col("buckets"),
        array().cast("array<struct<le:double,count:bigint>>")).as("buckets"),
      col("attributes"),
      coalesce(col("exemplars"), array().cast(
        org.apache.spark.sql.types.ArrayType(graft.model.Schemas.exemplarType)))
        .as("exemplars"),
      col("service_name").as("serviceName"),
      col("ttl_ms")).as[MetricPoint]
  }

  /** Converted DeltaPoint rows reshaped to the raw storage schema: delta
    * values replace cumulative ones and temporality becomes Delta, exactly
    * the reference's in-place mutation (temporality.go:64-65). */
  private def deltaToRaw(deltas: DataFrame): DataFrame =
    deltas.select(
      col("workspaceId").as("workspace_id"), col("series_hash"), col("metric"),
      col("serviceName").as("service_name"), col("ts_ms"), col("metric_type"),
      lit(Schemas.Temporality.Delta).cast("tinyint").as("temporality"),
      col("is_monotonic"),
      col("delta").as("value"), col("delta_count").as("count"),
      col("delta_sum").as("sum"), col("delta_buckets").as("buckets"),
      col("attributes"), col("exemplars"), col("ttl_ms"))

  /** ST1/ST6/S7 — start the pipeline: micro-batch trigger = the reference's
    * flush ticker, checkpoint = exactly-once, foreachBatch = the columnar
    * batched INSERT (writer.go:147-258) through the partitioned sink.
    *
    * Delta conversion is gated exactly like the reference (processor.go:
    * 106-110): only CUMULATIVE SUM/HISTOGRAM rows enter the stateful path;
    * gauges, summaries, and already-delta rows pass through untouched. Both
    * branches land in the same metrics_raw schema.
    *
    * A run-to-completion trigger (`AvailableNow`, `Once`) with delta
    * conversion and `stateTtlMs > 0` is refused: the processing-time state
    * timeout asks for another batch after every batch, so the query would
    * never terminate. */
  def start(spark: SparkSession, cfg: GraftConfig,
      trigger: Trigger = null): StreamingQuery = {
    @scala.annotation.nowarn("cat=deprecation") // Trigger.Once is still accepted
    val runsToCompletion = trigger == Trigger.AvailableNow() || trigger == Trigger.Once()
    require(!(runsToCompletion && cfg.convertToDelta && cfg.stateTtlMs > 0),
      s"trigger $trigger never terminates with processor.state_ttl_ms = " +
        s"${cfg.stateTtlMs}: set stateTtlMs (processor.state_ttl_ms) to 0 " +
        "or use a ProcessingTime trigger")
    val nowCol = cfg.nowMs.map(n => lit(n))
      .getOrElse(unix_millis(current_timestamp()))
    val exports = OtlpSource.fileStream(spark, cfg.sourceDir,
      cfg.maxFilesPerTrigger, cfg.sourceClean, cfg.sourceArchiveDir)
    val validated = convert(exports, cfg, nowCol)
    val out: DataFrame =
      if (cfg.convertToDelta) {
        val convertible = col("temporality") === Schemas.Temporality.Cumulative &&
          col("metric_type").isin(Schemas.MetricType.Sum, Schemas.MetricType.Histogram)
        val deltas = deltaToRaw(
          StreamingTemporality.convertDelta(toPoints(validated.filter(convertible)),
            cfg.stateTtlMs).toDF())
        validated.filter(!convertible).select(rawColumns.map(col): _*)
          .unionByName(deltas)
      } else validated.select(rawColumns.map(col): _*)
    val writer = out.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        MetricsSink.write(batch, cfg.storageDir, MetricsSink.Raw,
          col("ts_ms"),
          Seq(col("workspace_id"), col("metric"), col("series_hash")))
        maintain(spark, cfg, batchId)
      }
    Option(trigger).fold(writer)(t => writer.trigger(t))
      .start()
  }

  /** The raw storage row extended with the empty exp columns the reference's
    * raw TABLE declares (schema.sql:1-61) but its ingest never fills
    * (otlp.go:234-258 doesn't copy exp payloads off the wire) — the cascade's
    * 1m tier then keeps the full reference shape over app-written storage. */
  private val EmptyExpBuckets = "array<struct<index:int,count:bigint>>"
  def withEmptyExp(raw: DataFrame): DataFrame = raw
    .withColumn("exp_scale", lit(0))
    .withColumn("exp_zero_count", lit(0L))
    .withColumn("exp_zero_threshold", lit(0.0))
    .withColumn("exp_positive_buckets", array().cast(EmptyExpBuckets))
    .withColumn("exp_negative_buckets", array().cast(EmptyExpBuckets))

  /** Storage maintenance tick — the reference's MV-on-insert + TTL merges
    * (schema.sql:183/274/365 freshness, :63-73 TTL) and background part
    * merges as explicit, independently config-gated steps after each
    * micro-batch: the 1m→5m→1h cascade refresh on its every-Nth-batch
    * cadence (it reads and rewrites real data), retention partition-drop
    * and raw-tier compaction every tick when enabled (both are a cheap
    * directory listing when there is nothing to do). Inside foreachBatch
    * each step serializes with ingest writes, so a reader never sees a
    * tier mid-rewrite from this app. */
  def maintain(spark: SparkSession, cfg: GraftConfig, batchId: Long): Unit = {
    val now = cfg.nowMs.getOrElse(System.currentTimeMillis())
    if (cfg.rollupEveryBatches > 0 && batchId % cfg.rollupEveryBatches == 0) {
      graft.sink.RollupMaintenance.refreshCascade(spark, cfg.storageDir, now,
        Seq(col("workspace_id"), col("metric"), col("series_hash")),
        col("ts_ms"), col("ts_ms"), prepRaw = withEmptyExp,
        mergeTierBuckets = cfg.mergeTierBuckets)
      // Publish the freshness watermark the [[graft.plans.RollupRouting]]
      // rule needs (it is registered in every graft session but inert until
      // these confs exist): the cascade just recomputed every tier bucket
      // below `now`, so ad-hoc dashboard aggregates over raw on this session
      // now auto-route to the stored tiers — the Catalyst analog of the
      // reference routing every aged read in its handler (handler.go:
      // 304-321) without the caller opting in per query. Conf order matters
      // on first publish: baseDir/keys before freshAsOfMs, so a query
      // planned between the sets still sees an inert rule, never a
      // watermark without a directory. Only `freshAsOfMs` advances on later
      // ticks (monotone — a concurrent query sees either the old or new
      // watermark, both exact assertions).
      if (cfg.publishRouting) {
        spark.conf.set("spark.graft.rollup.baseDir", cfg.storageDir)
        spark.conf.set("spark.graft.rollup.keys",
          "workspace_id,metric,series_hash")
        spark.conf.set("spark.graft.rollup.freshAsOfMs", now.toString)
      }
    }
    if (cfg.retentionDrop)
      MetricsSink.tiers.foreach(t =>
        MetricsSink.dropExpiredPartitions(spark, cfg.storageDir, t, now))
    // only raw accumulates append parts per trigger; the rollup tiers are
    // rewritten wholesale by refreshTier's dynamic overwrite
    if (cfg.compactMaxFiles > 0)
      MetricsSink.compactPartitions(spark, cfg.storageDir, MetricsSink.Raw,
        Seq(col("workspace_id"), col("metric"), col("series_hash")),
        col("ts_ms"), maxFiles = cfg.compactMaxFiles)
  }

  def main(args: Array[String]): Unit = {
    val cfg = load(args.headOption.getOrElse("graft.properties"))
    val spark = Sessions.local()
    // optional network shell: remote-read out + export-batch landing in
    // (transport.port; 0 = ephemeral) — the reference's promread HTTP
    // endpoint and the landing-zone analog of its OTLP receiver
    val transport = cfg.transportPort.map { p =>
      val srv = new graft.transport.RemoteReadServer(spark, cfg.storageDir,
        cfg.sourceDir, cfg.workspaceId,
        () => cfg.nowMs.getOrElse(System.currentTimeMillis()),
        queryTimeoutMs = cfg.queryTimeoutMs)
      val bound = srv.start(p)
      println(s"[graft] remote-read transport on 127.0.0.1:$bound")
      srv
    }
    // optional gRPC OTLP receiver (transport.grpc_port; 0 = ephemeral) —
    // the reference's native ingest transport (otlp.go:42-68); batches land
    // in the same watched source dir the file stream consumes
    val grpc = cfg.grpcPort.map { p =>
      val srv = new graft.transport.GrpcOtlpReceiver(spark, cfg.sourceDir)
      val bound = srv.start(p)
      println(s"[graft] grpc otlp receiver on 127.0.0.1:$bound")
      srv
    }
    val query = start(spark, cfg,
      Trigger.ProcessingTime(cfg.flushIntervalMs,
        java.util.concurrent.TimeUnit.MILLISECONDS))
    // live ops status on GET /status: stream liveness + the last
    // micro-batch's full progress JSON (rows/sec, state store sizes, sink
    // commit durations — Spark's own progress object, passed through)
    transport.foreach { srv =>
      srv.statusJson = () => {
        val progress = Option(query.lastProgress).map(_.json).getOrElse("null")
        s"""{"active":${query.isActive},"lastProgress":$progress}"""
      }
    }
    try query.awaitTermination()
    finally {
      transport.foreach(_.stop())
      grpc.foreach(_.stop())
    }
  }
}
