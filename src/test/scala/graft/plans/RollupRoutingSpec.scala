package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.metrics.{EventsMetrics, Rollup}
import graft.sink.{MetricsSink, RollupMaintenance}

/** SURVEY §4 v1 — the MV-routing rule must (a) fire: an Aggregate re-deriving
  * a rollup from metrics_raw plans as a scan of the stored tier; (b) stay
  * exact: rewritten results equal the unrewritten aggregation; (c) refuse
  * every case it cannot prove (avg on coarse tiers, unaligned bounds, no
  * freshness bound, foreign grouping). */
class RollupRoutingSpec extends SparkSpec {

  private val keys = Seq(col("workspace_id"), col("metric"))
  private val NowA = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
  private val Day = 86400000L

  private lazy val base: String = {
    val b = Files.createTempDirectory("graft_routing").toString
    MetricsSink.write(
      EventsMetrics.withHistogram(EventsMetrics.fromEvents(spark, Sf)),
      b, MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite")
    RollupMaintenance.refreshCascade(spark, b, NowA, keys,
      col("ts_ms"), col("event_id"))
    b
  }

  /** Aggregate over raw in exactly the rollup shape the rule recognizes. */
  private def q(grainMs: Long, withAvg: Boolean,
      lo: Long = NowA - Day, hi: Long = NowA): DataFrame = {
    val raw = spark.read.parquet(s"$base/metrics_raw")
      .filter(col("ts_ms") >= lo && col("ts_ms") < hi)
      .groupBy(col("workspace_id"), col("metric"),
        Rollup.bucketMs(col("ts_ms"), grainMs).as("bucket_ms"))
    val aggs = Seq(
      min(col("value")).as("vmin"), max(col("value")).as("vmax"),
      count(lit(1)).as("n"), sum(col("count")).as("c"),
      sum(col("sum")).as("s")) ++
      (if (withAvg) Seq(avg(col("value")).as("vavg")) else Nil)
    raw.agg(aggs.head, aggs.tail: _*)
  }

  /** Collect with float columns rounded: the stored tier's avg/sum were
    * aggregated in a different partial-agg order than the direct query, so
    * the last ulp can differ while both are correct. */
  private def rows(df: DataFrame): Seq[String] = {
    val rounded = df.columns.map { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType => round(col(c), 6).as(c)
        case _ => col(c)
      }
    }
    df.select(rounded: _*).collect().map(_.toString).sorted.toSeq
  }

  private def withRule[T](body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ RollupRouting(spark)
    spark.conf.set("spark.graft.rollup.baseDir", base)
    spark.conf.set("spark.graft.rollup.freshAsOfMs", NowA.toString)
    spark.conf.set("spark.graft.rollup.keys", "workspace_id,metric")
    try body
    finally {
      spark.experimental.extraOptimizations = prev
      spark.conf.unset("spark.graft.rollup.baseDir")
      spark.conf.unset("spark.graft.rollup.freshAsOfMs")
      spark.conf.unset("spark.graft.rollup.keys")
    }
  }

  private def scans(df: DataFrame, table: String): Boolean =
    df.queryExecution.executedPlan.toString.contains(table)

  test("1m aggregate over raw rewrites to a metrics_1m scan, exactly") {
    val direct = rows(q(60000L, withAvg = true))
    assert(direct.nonEmpty)
    withRule {
      val routed = q(60000L, withAvg = true)
      assert(scans(routed, "metrics_1m"), "rewrite did not fire")
      assert(!scans(routed, "metrics_raw"), "raw still scanned after rewrite")
      // the time bounds must become directory pruning on the tier scan
      val fileScan = routed.queryExecution.executedPlan.toString.linesIterator
        .find(_.contains("PartitionFilters")).getOrElse("")
      assert(fileScan.matches(".*PartitionFilters: \\[.*p_date.*"),
        s"no p_date partition pruning in: $fileScan")
      assert(rows(routed) === direct)
    }
  }

  test("1h aggregate without avg rewrites to metrics_1h, exactly") {
    val direct = rows(q(3600000L, withAvg = false))
    assert(direct.nonEmpty)
    withRule {
      val routed = q(3600000L, withAvg = false)
      assert(scans(routed, "metrics_1h"), "rewrite did not fire")
      assert(!scans(routed, "metrics_raw"))
      assert(rows(routed) === direct)
    }
  }

  test("key-subset grouping re-aggregates the stored tier, exactly") {
    // the per-metric dashboard shape: coarser than the tier's series keys,
    // answered by re-aggregating the tier (min of mins, sums of sums)
    def perMetric() = spark.read.parquet(s"$base/metrics_raw")
      .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
      .groupBy(col("metric"), Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        count(lit(1)).as("n"), sum(col("count")).as("c"), sum(col("sum")).as("s"))
    val direct = rows(perMetric())
    assert(direct.nonEmpty)
    withRule {
      val routed = perMetric()
      assert(scans(routed, "metrics_1m"), "regroup rewrite did not fire")
      assert(!scans(routed, "metrics_raw"))
      assert(rows(routed) === direct)
    }
  }

  test("refusals: every unprovable case keeps the raw scan") {
    withRule {
      // avg over a coarse tier would read avg-of-avgs — must refuse
      assert(scans(q(3600000L, withAvg = true), "metrics_raw"))
      // unaligned lower bound slices a bucket — must refuse
      assert(scans(q(60000L, withAvg = false, lo = NowA - Day + 1), "metrics_raw"))
      // upper bound beyond the freshness watermark — must refuse
      assert(scans(q(60000L, withAvg = false, hi = NowA + 60000), "metrics_raw"))
      // regrouped average is not derivable from the stored columns — refuse
      val coarseAvg = spark.read.parquet(s"$base/metrics_raw")
        .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
        .groupBy(col("metric"), Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
        .agg(avg(col("value")).as("vavg"))
      assert(scans(coarseAvg, "metrics_raw"))
      // grouping on a non-key column — refuse
      val foreign = spark.read.parquet(s"$base/metrics_raw")
        .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
        .groupBy(col("event_id"), Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
        .agg(min(col("value")).as("vmin"))
      assert(scans(foreign, "metrics_raw"))
      // non-rollup grain — must refuse
      assert(scans(q(120000L, withAvg = false), "metrics_raw"))
    }
  }

  test("aggregate calls inside scalar wrappers route and stay exact") {
    // the shape real dashboards produce: CollapseProject folds the user's
    // projection into the Aggregate, so the rule sees round(avg(value)+ε, 4)
    // and max(value) − min(value), not bare calls
    def wrapped() = spark.read.parquet(s"$base/metrics_raw")
      .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
      .groupBy(col("workspace_id"), col("metric"),
        Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
      .agg(round(avg(col("value")) + 1e-9, 4).as("avg4"),
        (max(col("value")) - min(col("value"))).as("spread"),
        (count(lit(1)) * 2).as("n2"))
    val direct = rows(wrapped())
    assert(direct.nonEmpty)
    withRule {
      val routed = wrapped()
      assert(scans(routed, "metrics_1m"), "wrapped-aggregate rewrite did not fire")
      assert(!scans(routed, "metrics_raw"))
      assert(rows(routed) === direct)
    }
    // regrouped + wrapped: the re-aggregation lands inside the wrapper
    def regroupWrapped() = spark.read.parquet(s"$base/metrics_raw")
      .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
      .groupBy(col("metric"), Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
      .agg((max(col("value")) - min(col("value"))).as("spread"),
        round(sum(col("sum")), 2).as("s2"))
    val directRg = rows(regroupWrapped())
    withRule {
      val routed = regroupWrapped()
      assert(scans(routed, "metrics_1m"), "regroup+wrapped rewrite did not fire")
      assert(rows(routed) === directRg)
    }
    // a nondeterministic wrapper must decline
    withRule {
      val nd = spark.read.parquet(s"$base/metrics_raw")
        .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
        .groupBy(col("workspace_id"), col("metric"),
          Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
        .agg((min(col("value")) + rand()).as("vr"))
      assert(scans(nd, "metrics_raw"), "nondeterministic wrapper must not route")
    }
  }

  test("histogram dashboard shape routes onto the stored bucket concat, exactly") {
    import graft.histo.HistogramFunctions._
    // the reference's characteristic read (README.md:161-170): quantiles over
    // merged buckets per 5m window, alongside sum(count)/sum(sum) — at exact
    // tier keys this forces the re-aggregation path (the tier stores the
    // UNMERGED concat; singleton groups keep every other mapping exact)
    def hist() = spark.read.parquet(s"$base/metrics_raw")
      .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
      .groupBy(col("workspace_id"), col("metric"),
        Rollup.bucketMs(col("ts_ms"), 300000L).as("bucket_ms"))
      .agg(sum(col("count")).as("c"), round(sum(col("sum")), 2).as("s"),
        merge_buckets_agg(col("buckets")).as("merged"),
        round(histogram_quantile(merge_buckets_agg(col("buckets")), lit(95.0)), 6)
          .as("p95"))
    val direct = rows(hist())
    assert(direct.nonEmpty)
    withRule {
      val routed = hist()
      assert(scans(routed, "metrics_5m"), "histogram rewrite did not fire")
      assert(!scans(routed, "metrics_raw"))
      assert(routed.queryExecution.executedPlan.toString
        .contains("merge_buckets_agg"), "bucket merge missing from routed plan")
      assert(rows(routed) === direct)
    }
    // avg(value) alongside a bucket merge at the 1m tier: the forced
    // re-aggregation averages singleton groups — still exact
    def histAvg() = spark.read.parquet(s"$base/metrics_raw")
      .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
      .groupBy(col("workspace_id"), col("metric"),
        Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
      .agg(avg(col("value")).as("vavg"),
        merge_buckets_agg(col("buckets")).as("merged"))
    val directAvg = rows(histAvg())
    withRule {
      val routed = histAvg()
      assert(scans(routed, "metrics_1m"), "1m histogram+avg rewrite did not fire")
      assert(rows(routed) === directAvg)
    }
    // per-metric regrouping with a bucket merge: concats merge across the
    // regrouped tier rows — same entry multiset, still exact
    def histRegroup() = spark.read.parquet(s"$base/metrics_raw")
      .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
      .groupBy(col("metric"), Rollup.bucketMs(col("ts_ms"), 3600000L).as("bucket_ms"))
      .agg(merge_buckets_agg(col("buckets")).as("merged"),
        sum(col("count")).as("c"))
    val directRg = rows(histRegroup())
    withRule {
      val routed = histRegroup()
      assert(scans(routed, "metrics_1h"), "regrouped histogram rewrite did not fire")
      assert(rows(routed) === directRg)
    }
  }

  test("bucket merge declines on a tier without a buckets column") {
    import graft.histo.HistogramFunctions._
    // a THIN 1m tier (scalar-only rollup1m) has no bucket concat to merge —
    // the rule must keep the raw scan, not route to a column that isn't there
    val thinBase = Files.createTempDirectory("graft_routing_thin").toString
    val raw = EventsMetrics.withHistogram(EventsMetrics.fromEvents(spark, Sf))
    MetricsSink.write(raw, thinBase, MetricsSink.Raw, col("ts_ms"), keys,
      mode = "overwrite")
    MetricsSink.write(
      Rollup.rollup1m(raw, keys, col("ts_ms"), col("value"), col("event_id")),
      thinBase, MetricsSink.M1, col("bucket_ms"), keys, mode = "overwrite")
    def q1m() = spark.read.parquet(s"$thinBase/metrics_raw")
      .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
      .groupBy(col("workspace_id"), col("metric"),
        Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
      .agg(merge_buckets_agg(col("buckets")).as("merged"))
    val direct = rows(q1m())
    assert(direct.nonEmpty)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ RollupRouting(spark)
    spark.conf.set("spark.graft.rollup.baseDir", thinBase)
    spark.conf.set("spark.graft.rollup.freshAsOfMs", NowA.toString)
    try {
      val routed = q1m()
      assert(scans(routed, "metrics_raw"), "must decline on bucket-less tier")
      assert(rows(routed) === direct)
    } finally {
      spark.experimental.extraOptimizations = prev
      spark.conf.unset("spark.graft.rollup.baseDir")
      spark.conf.unset("spark.graft.rollup.freshAsOfMs")
    }
  }

  test("missing tier directory declines the rewrite instead of failing the query") {
    // raw only, no cascade: the 1m tier was never materialized
    val rawOnly = Files.createTempDirectory("graft_routing_raw").toString
    MetricsSink.write(
      EventsMetrics.withHistogram(EventsMetrics.fromEvents(spark, Sf)),
      rawOnly, MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite")
    def q1m() = spark.read.parquet(s"$rawOnly/metrics_raw")
      .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
      .groupBy(col("workspace_id"), col("metric"),
        Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
      .agg(min(col("value")).as("vmin"), count(lit(1)).as("n"))
    val direct = rows(q1m())
    assert(direct.nonEmpty)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ RollupRouting(spark)
    spark.conf.set("spark.graft.rollup.baseDir", rawOnly)
    spark.conf.set("spark.graft.rollup.freshAsOfMs", NowA.toString)
    try {
      val routed = q1m()
      // the query must still ANSWER (from raw) — a missing tier is a
      // decline, not an AnalysisException out of the optimizer
      assert(scans(routed, "metrics_raw"))
      assert(rows(routed) === direct)
    } finally {
      spark.experimental.extraOptimizations = prev
      spark.conf.unset("spark.graft.rollup.baseDir")
      spark.conf.unset("spark.graft.rollup.freshAsOfMs")
    }
  }

  test("planning a routed aggregate starts no job") {
    withRule {
      val routed = q(60000L, withAvg = true)
      val (_, jobs) = jobsDuring(routed.queryExecution.executedPlan)
      assert(jobs.isEmpty, s"planning started ${jobs.size} job(s)")
      assert(scans(routed, "metrics_1m"), "rewrite did not fire")
    }
  }

  test("a recorded tier with no data file declines the rewrite") {
    // raw written, the 1m tier recorded in its real shape but holding no file
    val b = Files.createTempDirectory("graft_routing_empty").toString
    MetricsSink.write(
      EventsMetrics.withHistogram(EventsMetrics.fromEvents(spark, Sf)),
      b, MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite")
    MetricsSink.write(MetricsSink.read(spark, base, MetricsSink.M1)
      .drop(MetricsSink.PartitionCol).limit(0),
      b, MetricsSink.M1, col("bucket_ms"), keys, mode = "overwrite")
    def q1m() = MetricsSink.read(spark, b, MetricsSink.Raw)
      .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
      .groupBy(col("workspace_id"), col("metric"),
        Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
      .agg(min(col("value")).as("vmin"), count(lit(1)).as("n"))
    val direct = rows(q1m())
    assert(direct.nonEmpty)
    withRule {
      spark.conf.set("spark.graft.rollup.baseDir", b)
      val routed = q1m()
      assert(scans(routed, "metrics_raw"), "routed to a tier with no data")
      assert(rows(routed) === direct)
    }
  }

  test("configured key absent from the tier schema declines, never throws") {
    // event_id is a raw column and a configured rollup key here, but the
    // stored tiers do not carry it — a filter referencing it used to throw
    // NoSuchElementException inside the rule
    withRule {
      spark.conf.set("spark.graft.rollup.keys", "workspace_id,metric,event_id")
      val filtered = spark.read.parquet(s"$base/metrics_raw")
        .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA &&
          col("event_id") > 0)
        .groupBy(col("workspace_id"), col("metric"),
          Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
        .agg(min(col("value")).as("vmin"))
      assert(scans(filtered, "metrics_raw"), "must decline on unknown tier key")
      assert(rows(filtered).nonEmpty)
    }
  }

  test("rule is inert without its confs") {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ RollupRouting(spark)
    try assert(scans(q(60000L, withAvg = false), "metrics_raw"))
    finally spark.experimental.extraOptimizations = prev
  }
}
