package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ST8 — the MV cascade as incremental batch jobs over recent partitions
  * (reference: internal/clickhouse/schema.sql — each materialized view
  * re-aggregates only fresh rows: 1m reads raw `WHERE timestamp >= now() −
  * INTERVAL 1 DAY` (:183), 5m reads 1m `>= now() − 15 DAY` (:274), 1h reads
  * 5m `>= now() − 63 DAY` (:365)).
  *
  * Spark-first: each refresh is one bounded scan → one hash aggregation →
  * a staged Parquet write swapped in partition-by-partition with atomic
  * renames (the same crash-safe protocol as compaction). The freshness
  * filter lands on the partition column, so the scan prunes to the last N
  * date directories — at 100 TB the job cost is proportional to the
  * freshness window, never to table history.
  *
  * Divergence from the reference, deliberate: ClickHouse MVs append partial
  * aggregate rows per insert block (the same bucket appears once per block,
  * never merged — plain MergeTree targets, schema.sql:96-143). This job
  * instead RECOMPUTES each fresh bucket exactly once, then rewrites only the
  * touched date partitions, merging back the partitions' pre-window rows —
  * idempotent (re-running converges to the same table) and exact. Pre-window
  * rows must be preserved explicitly because a monthly partition (5m/1h,
  * toYYYYMM) spans more history than the freshness window, and the finer
  * source tier may already be TTL-dropped for that span — recomputing them is
  * impossible, losing them would silently shrink the table.
  *
  * Schedule refreshes at bucket-aligned times (the window edge then falls on
  * a bucket boundary); an unaligned edge makes the single straddling bucket a
  * fresh-rows-only partial — the same artifact the reference's per-block MV
  * aggregation has permanently.
  */
object RollupMaintenance {

  private val D = 24 * 3600L * 1000L

  /** Freshness windows per target tier (schema.sql:183,274,365). */
  val freshnessMs: Map[String, Long] =
    Map("metrics_1m" -> 1 * D, "metrics_5m" -> 15 * D, "metrics_1h" -> 63 * D)

  /** True when `tsMs` lands exactly on a partition boundary of `tier`
    * (UTC midnight; first-of-month midnight for monthly tiers) — then no
    * rewritten partition can contain pre-window rows. */
  private[sink] def partitionAligned(tier: MetricsSink.Tier, tsMs: Long): Boolean = {
    val t = java.time.Instant.ofEpochMilli(tsMs).atZone(java.time.ZoneOffset.UTC)
    val midnight = t.toLocalTime == java.time.LocalTime.MIDNIGHT
    if (tier.monthly) midnight && t.getDayOfMonth == 1 else midnight
  }

  /** Recompute one tier from its source tier inside the freshness window and
    * merge into the target table. `rollup` maps the fresh source slice to
    * target-tier rows and must emit `bucket_ms`. */
  def refreshTier(spark: SparkSession, baseDir: String,
      source: MetricsSink.Tier, target: MetricsSink.Tier,
      sourceTsMs: Column, nowMs: Long, sortKey: Seq[Column])(
      rollup: DataFrame => DataFrame): Unit = {
    // Source-coverage clamp: the freshness window can reach further back than
    // the source tier is retained (raw keeps 3h, the 1m window is 1 day; the
    // reference never hits this because its MVs are insert-triggered and
    // never re-read raw). Recomputing a span the source no longer covers
    // yields zero rows — and the rewrite below would replace previously
    // stored target rows for that span with nothing. Clamping the window's
    // lower edge to the oldest SURVIVING source partition keeps every target
    // partition the source cannot regenerate out of the rewrite set entirely
    // (daily targets: the clamped edge is partition-aligned, so older
    // partitions never appear in the output and dynamic overwrite leaves
    // them intact; monthly targets: the keep-scan below preserves the
    // pre-edge rows of the edge partition).
    val oldestSourceMs =
      MetricsSink.oldestPartitionStartMs(spark, baseDir, source)
    if (oldestSourceMs.isEmpty) return // no source data — nothing refreshable
    val startMs = math.max(nowMs - freshnessMs(target.name), oldestSourceMs.get)
    val fresh = MetricsSink.read(spark, baseDir, source)
      .filter(MetricsSink.partitionFilter(source, startMs, 0L))
      .filter(sourceTsMs >= startMs)
      .drop(MetricsSink.PartitionCol)
    val recomputed = rollup(fresh)

    // Pre-window rows living in partitions we are about to rewrite. Only the
    // SINGLE partition containing the window edge can hold any — every later
    // partition starts at or after the edge — so the keep-scan reads exactly
    // one partition (not the whole freshness span, which for the 1h tier is
    // ~3 monthly partitions), and is skipped entirely when the edge lands on
    // a partition boundary. The read is load-bearing even for daily tiers: a
    // mid-day edge leaves that morning's buckets pre-window, and the finer
    // source tier may already be TTL-dropped for them (raw keeps 3h) —
    // recomputing is impossible, losing them would silently shrink the table.
    val targetDir = new Path(s"$baseDir/${target.name}")
    val fs = targetDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal any prior crash before reading the tier (an interrupted swap may
    // have a partition parked in trash), then clear a stale staging dir
    if (fs.exists(targetDir)) MetricsSink.recoverSwaps(fs, targetDir)
    val staging = new Path(targetDir, StagingName)
    fs.delete(staging, true)
    // one fs.exists on the single edge partition directory beats scheduling a
    // scan job that would list-and-prune its way to zero files — on a cold
    // object store that is a whole round of task launches saved per refresh
    val edgeDir = new Path(targetDir,
      s"${MetricsSink.PartitionCol}=${MetricsSink.fmt(target, startMs)}")
    val keep =
      if (!fs.exists(targetDir) || partitionAligned(target, startMs) ||
        !fs.exists(edgeDir)) None
      else Some(MetricsSink.read(spark, baseDir, target)
        .filter(col(MetricsSink.PartitionCol) === MetricsSink.fmt(target, startMs))
        .filter(col("bucket_ms") < startMs)
        .drop(MetricsSink.PartitionCol))

    // Write-new-then-swap, the same crash-safe protocol as compaction
    // (MetricsSink.compactPartitions): the merged window lands in a
    // dot-prefixed staging dir (invisible to readers; reading the live edge
    // partition while writing staging never overlaps, so no lineage
    // checkpoint is needed), then each touched partition swaps in with
    // atomic renames only. Spark's dynamic partition overwrite was NOT
    // crash-safe here: its commit deletes each touched partition before
    // renaming staged files in, and a crash mid-commit destroys the edge
    // partition's pre-window rows — which the source tier, already
    // TTL-dropped for that span, can never regenerate. With the swap
    // protocol every crash point leaves at least one durable full copy of
    // each partition, and re-running the refresh converges
    // (recoverSwaps above + idempotent recompute).
    // writeFiles checks (or, on the first refresh, writes) the live tier's
    // record before the staging write, so no swapped-in file precedes it
    MetricsSink.writeFiles(keep.fold(recomputed)(_.unionByName(recomputed)),
      baseDir, target, col("bucket_ms"), sortKey, "overwrite", staging.toString)
    val stagedParts = fs.listStatus(staging).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"${MetricsSink.PartitionCol}="))
    stagedParts.foreach { st =>
      val value = st.getPath.getName.stripPrefix(s"${MetricsSink.PartitionCol}=")
      MetricsSink.swapPartitionIn(fs, targetDir, value, st.getPath)
    }
    fs.delete(staging, true) // _SUCCESS and empty dirs
    ()
  }

  /** Dot-prefixed staging directory for in-flight refresh output — invisible
    * to Spark's file listing, deleted as stale at the start of every refresh
    * (single-writer contract, as for compaction). */
  private[sink] val StagingName = ".refresh_staging"

  /** Run the full cascade raw→1m→5m→1h, mirroring the reference's MV chain
    * (tier N+1 reads the tier-N TABLE, never raw — schema.sql:249,340).
    *
    * FULL-width: the raw tier must carry the complete datapoint column set
    * (value + count/sum + buckets + exp fields + attributes — the reference's
    * raw `metrics` table, schema.sql:1-61), and every stored tier then keeps
    * the columns its reference table declares: 1m with exp fields
    * (schema.sql:146-192), 5m/1h with buckets + attributes but no exp
    * (schema.sql:194-247,285-336). A histogram-quantile read that P8-routes
    * to ANY tier finds real stored buckets to merge.
    *
    * `prepRaw` adapts a raw table whose INGEST leaves exp payloads absent
    * (the app's case — otlp.go:234-258 never copies them off the wire) by
    * extending it with the empty exp columns the reference's raw table
    * declares anyway; the stored tiers then keep the reference shape. */
  def refreshCascade(spark: SparkSession, baseDir: String, nowMs: Long,
      seriesCols: Seq[Column], tsMs: Column, seq: Column,
      prepRaw: DataFrame => DataFrame = identity,
      mergeTierBuckets: Boolean = false): Unit = {
    import graft.metrics.Rollup
    refreshTier(spark, baseDir, MetricsSink.Raw, MetricsSink.M1,
      tsMs, nowMs, seriesCols)(
      df => Rollup.rollup1mFull(prepRaw(df), seriesCols, tsMs, seq,
        mergeTierBuckets))
    refreshTier(spark, baseDir, MetricsSink.M1, MetricsSink.M5,
      col("bucket_ms"), nowMs, seriesCols)(
      df => Rollup.rollup5mFull(df, seriesCols, mergeTierBuckets))
    refreshTier(spark, baseDir, MetricsSink.M5, MetricsSink.H1,
      col("bucket_ms"), nowMs, seriesCols)(
      df => Rollup.rollup1hFull(df, seriesCols, mergeTierBuckets))
  }
}
