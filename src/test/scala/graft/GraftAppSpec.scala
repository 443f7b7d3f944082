package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sink.MetricsSink

/** S1+S10 end-to-end: OTLP export files → flatten → convert → validate →
  * stamp → delta conversion → partitioned raw sink, with checkpointed
  * restart (SURVEY §7.2's full-flow milestone; reference cmd/main.go chain
  * + temporality_test.go:20-95 sequences). */
class GraftAppSpec extends SparkSpec {

  private val NowMs = java.time.Instant.parse("2024-01-24T00:00:00Z").toEpochMilli

  /** Export rows with explicit kind/temporality per datapoint; every
    * datapoint carries one exemplar. */
  private def exportRowsTyped(series: Seq[(String, String, Int, Long, Double)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dps = series.map { case (m, kind, temp, ts, v) =>
      val ex = Seq(Row("span-1", s"trace-$m", v,
        new java.sql.Timestamp(ts), Map("e" -> "x")))
      Row(m, kind, ts, temp, true, null, v, null, null, null, null,
        Map("k" -> "v"), ex)
    }
    val rows = Seq(Row(Map("service.name" -> "svc-a"), dps)).asJava
    spark.createDataFrame(rows, graft.streaming.OtlpSource.exportSchema)
  }

  /** Cumulative monotonic sum series named `m`, one datapoint per (ts, value). */
  private def exportRows(series: Seq[(String, Long, Double)]): DataFrame =
    exportRowsTyped(series.map { case (m, ts, v) => (m, "sum", 1, ts, v) })

  /** Land one micro-batch as a single parquet file in the watched dir. */
  private def land(dir: String, n: Int, df: DataFrame): Unit = {
    val tmp = Files.createTempDirectory("land").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(dir, s"batch_$n.parquet")
    java.nio.file.Files.copy(src.toPath, dst.toPath)
    ()
  }

  // stateTtlMs = 0: these runs use AvailableNow, which GraftApp.start
  // refuses with a state TTL (its processing-time timeouts would schedule a
  // timeout-evaluation batch after every batch and never drain); the TTL is
  // for the interval-triggered daemon (see StreamingTemporality.convertDelta).
  // publishRouting off by default here: the session is shared across suites,
  // and these fixtures' scratch storeDirs must not outlive their test as
  // session-wide routing confs (the dedicated routed-dashboard test below
  // opts in and unsets in a finally)
  private def cfgFor(base: String): GraftConfig = GraftConfig(
    sourceDir = s"$base/in",
    storageDir = s"$base/store",
    checkpointDir = s"$base/ckpt",
    workspaceId = "ws-app",
    convertToDelta = true,
    stateTtlMs = 0L,
    publishRouting = false,
    nowMs = Some(NowMs))

  private def runOnce(cfg: GraftConfig): Unit = {
    val q = GraftApp.start(spark, cfg, Trigger.AvailableNow())
    q.awaitTermination()
  }

  private def sinkRows(cfg: GraftConfig): Array[(String, Long, Double)] =
    MetricsSink.read(spark, cfg.storageDir, MetricsSink.Raw)
      .select(col("metric"), col("ts_ms"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))

  test("end-to-end: reference sequence [100,150,200] lands as deltas [100,50,50]") {
    val base = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${base}/in").mkdirs()
    val cfg = cfgFor(base)
    land(cfg.sourceDir, 1, exportRows(Seq(
      ("m1", NowMs - 3000, 100.0), ("m1", NowMs - 2000, 150.0),
      ("m1", NowMs - 1000, 200.0))))
    runOnce(cfg)
    assert(sinkRows(cfg).toSeq === Seq(
      ("m1", NowMs - 3000, 100.0), ("m1", NowMs - 2000, 50.0),
      ("m1", NowMs - 1000, 50.0)))
  }

  test("a run-to-completion trigger with a state TTL fails at start, not never") {
    val base = Files.createTempDirectory("graft_app").toString
    val cfg = cfgFor(base).copy(stateTtlMs = 60000L)
    new java.io.File(cfg.sourceDir).mkdirs()
    @annotation.nowarn("cat=deprecation")
    val triggers = Seq(Trigger.AvailableNow(), Trigger.Once())
    triggers.foreach { t =>
      val e = intercept[IllegalArgumentException](GraftApp.start(spark, cfg, t))
      assert(e.getMessage.contains("state_ttl_ms") && e.getMessage.contains(t.toString))
    }
    // without delta conversion there is no state to time out: it runs
    runOnce(cfg.copy(convertToDelta = false))
  }

  test("checkpointed restart: new file continues per-series state (ST6)") {
    val base = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${base}/in").mkdirs()
    val cfg = cfgFor(base)
    land(cfg.sourceDir, 1, exportRows(Seq(
      ("m2", NowMs - 3000, 100.0), ("m2", NowMs - 2000, 150.0))))
    runOnce(cfg)
    // second run, same checkpoint: the 200 must convert as 200-150=50,
    // proving state survived; batch 1 must not be re-emitted.
    land(cfg.sourceDir, 2, exportRows(Seq(("m2", NowMs - 1000, 200.0))))
    runOnce(cfg)
    assert(sinkRows(cfg).toSeq === Seq(
      ("m2", NowMs - 3000, 100.0), ("m2", NowMs - 2000, 50.0),
      ("m2", NowMs - 1000, 50.0)))
  }

  test("conversion gating: gauges and already-delta sums bypass the stateful path") {
    val base = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${base}/in").mkdirs()
    val cfg = cfgFor(base)
    land(cfg.sourceDir, 1, exportRowsTyped(Seq(
      // gauge [70, 50]: must NOT become [70, -20]
      ("g1", "gauge", 1, NowMs - 2000, 70.0), ("g1", "gauge", 1, NowMs - 1000, 50.0),
      // delta-temporality sum [5, 5]: must NOT become [5, 0]
      ("d1", "sum", 2, NowMs - 2000, 5.0), ("d1", "sum", 2, NowMs - 1000, 5.0),
      // cumulative sum [10, 30]: MUST become [10, 20]
      ("c1", "sum", 1, NowMs - 2000, 10.0), ("c1", "sum", 1, NowMs - 1000, 30.0))))
    runOnce(cfg)
    val rows = MetricsSink.read(spark, cfg.storageDir, MetricsSink.Raw)
      .select(col("metric"), col("ts_ms"), col("value"), col("temporality"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getByte(3))).sortBy(t => (t._1, t._2))
    assert(rows.filter(_._1 == "g1").map(_._3).toSeq === Seq(70.0, 50.0))
    assert(rows.filter(_._1 == "g1").forall(_._4 == 0)) // gauge: unspecified
    assert(rows.filter(_._1 == "d1").map(_._3).toSeq === Seq(5.0, 5.0))
    assert(rows.filter(_._1 == "d1").forall(_._4 == 2)) // already delta
    assert(rows.filter(_._1 == "c1").map(_._3).toSeq === Seq(10.0, 20.0))
    assert(rows.filter(_._1 == "c1").forall(_._4 == 2)) // converted to delta
  }

  test("non-delta mode stores the full converted frame, exemplars included") {
    val base = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${base}/in").mkdirs()
    val cfg = cfgFor(base).copy(convertToDelta = false)
    land(cfg.sourceDir, 1, exportRows(Seq(
      ("m4", NowMs - 2000, 100.0), ("m4", NowMs - 1000, 150.0))))
    runOnce(cfg)
    val rows = MetricsSink.read(spark, cfg.storageDir, MetricsSink.Raw)
      .select(col("workspace_id"), col("metric"), col("value"),
        col("ttl_ms"), col("attributes"),
        element_at(col("exemplars"), 1).getField("spanId").as("ex_span"))
      .orderBy(col("value")).collect()
    // values stored raw (no delta conversion), TTL = now + 3h, attrs and
    // exemplar payloads preserved
    assert(rows.map(_.getDouble(2)).toSeq === Seq(100.0, 150.0))
    assert(rows.forall(_.getString(0) == "ws-app"))
    assert(rows.forall(_.getLong(3) == NowMs + 3 * 3600 * 1000L))
    assert(rows.forall(_.getMap[String, String](4).get("k").contains("v")))
    assert(rows.forall(_.getString(5) == "span-1"))
  }

  test("invalid rows are dropped, workspace stamped; exemplars survive delta mode") {
    val base = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${base}/in").mkdirs()
    val cfg = cfgFor(base)
    land(cfg.sourceDir, 1, exportRows(Seq(
      ("", NowMs - 1000, 1.0),                    // empty name → dropped
      ("m3", 0L, 1.0),                            // zero ts → dropped
      ("m3", NowMs + 2 * 86400000L, 1.0),         // too future → dropped
      ("m3", NowMs - 1000, 42.0))))               // valid
    runOnce(cfg)
    val rows = MetricsSink.read(spark, cfg.storageDir, MetricsSink.Raw)
    assert(rows.count() === 1)
    val r = rows.select(col("workspace_id"), col("metric"), col("value"),
      element_at(col("exemplars"), 1).getField("traceId")).collect()(0)
    assert(r.getString(0) === "ws-app")
    assert(r.getString(1) === "m3")
    assert(r.getDouble(2) === 42.0)
    assert(r.getString(3) === "trace-m3")
  }

  test("maintenance tick: MV cascade + retention run inside the app (S10+ST8)") {
    val base = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${base}/in").mkdirs()
    val cfg = cfgFor(base).copy(rollupEveryBatches = 1, retentionDrop = true)
    // three minute-distinct points: deltas [100,50,50] -> three 1m buckets,
    // one 5m bucket (23:55-00:00), one 1h bucket (23:00-00:00)
    land(cfg.sourceDir, 1, exportRows(Seq(
      ("m9", NowMs - 180000, 100.0), ("m9", NowMs - 120000, 150.0),
      ("m9", NowMs - 60000, 200.0))))
    runOnce(cfg)
    val m1 = MetricsSink.read(spark, cfg.storageDir, MetricsSink.M1)
    assert(m1.count() === 3)
    // the stored 1m tier keeps the FULL reference shape, exp columns
    // included (empty by ingest semantics, present by table schema)
    assert(m1.columns.contains("exp_positive_buckets"))
    assert(m1.select(sum(size(col("exp_positive_buckets")))).collect()(0).getLong(0) === 0L)
    val h1 = MetricsSink.read(spark, cfg.storageDir, MetricsSink.H1)
      .select(col("value_min"), col("value_max"), col("samples_count"))
      .collect()
    assert(h1.length === 1)
    assert(h1(0).getDouble(0) === 50.0 && h1(0).getDouble(1) === 100.0 &&
      h1(0).getLong(2) === 3L)
    // retention ran and kept everything: every tier's data is younger than
    // its window (raw keeps 3h; the fixture partition ends at NowMs)
    assert(sinkRows(cfg).length === 3)
  }

  test("maintenance tick publishes the routing watermark: dashboard " +
      "aggregates on the app session auto-route to the stored tier (P8+§4)") {
    // negative first: publish_routing=false (cfgFor default here) must leave
    // the session unrouted even with the cascade enabled
    // start from a known-unrouted session regardless of what earlier suites
    // did: the assertion below is "maintain did not publish", not "nothing
    // else ever has"
    spark.conf.unset("spark.graft.rollup.baseDir")
    spark.conf.unset("spark.graft.rollup.freshAsOfMs")
    spark.conf.unset("spark.graft.rollup.keys")
    val b0 = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${b0}/in").mkdirs()
    val off = cfgFor(b0).copy(rollupEveryBatches = 1)
    land(off.sourceDir, 1, exportRows(Seq(("m0", NowMs - 60000, 5.0))))
    runOnce(off)
    assert(spark.conf.getOption("spark.graft.rollup.freshAsOfMs").isEmpty &&
      spark.conf.getOption("spark.graft.rollup.baseDir").isEmpty,
      "publish_routing=false must not publish routing confs")

    val b1 = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${b1}/in").mkdirs()
    val cfg = cfgFor(b1).copy(rollupEveryBatches = 1, publishRouting = true)
    land(cfg.sourceDir, 1, exportRows(Seq(
      ("m9", NowMs - 180000, 100.0), ("m9", NowMs - 120000, 150.0),
      ("m9", NowMs - 60000, 200.0))))
    try {
      runOnce(cfg)
      assert(spark.conf.getOption("spark.graft.rollup.baseDir")
        .contains(cfg.storageDir))
      assert(spark.conf.getOption("spark.graft.rollup.freshAsOfMs")
        .contains(NowMs.toString))
      assert(spark.conf.getOption("spark.graft.rollup.keys")
        .contains("workspace_id,metric,series_hash"))
      // a user's ad-hoc dashboard aggregate over raw — no per-query setup,
      // no extraOptimizations: the session-registered rule + the published
      // watermark must route it to the stored 1m tier
      def dash = spark.read.parquet(s"${cfg.storageDir}/metrics_raw")
        .filter(col("ts_ms") >= NowMs - 86400000L && col("ts_ms") < NowMs)
        .groupBy(col("metric"),
          graft.metrics.Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
        .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"),
          count(lit(1)).as("n"))
      val plan = dash.queryExecution.executedPlan.toString
      assert(plan.contains("metrics_1m"), s"dashboard did not route:\n$plan")
      assert(!plan.contains("metrics_raw"), "raw still scanned after routing")
      // deltas [100,50,50] in three minute buckets — routed values must be
      // the exact per-bucket aggregates
      val got = dash.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4))).sortBy(_._2)
      assert(got.toSeq === Seq(
        ("m9", NowMs - 180000, 100.0, 100.0, 1L),
        ("m9", NowMs - 120000, 50.0, 50.0, 1L),
        ("m9", NowMs - 60000, 50.0, 50.0, 1L)))
    } finally {
      spark.conf.unset("spark.graft.rollup.baseDir")
      spark.conf.unset("spark.graft.rollup.freshAsOfMs")
      spark.conf.unset("spark.graft.rollup.keys")
    }
  }

  test("maintenance tick: raw retention drop never deletes stored 1m rollups") {
    // pipeline.properties defaults pair rollup_every_batches with
    // retention_drop: once retention drops yesterday's raw partition (3h TTL),
    // the next cascade tick recomputes a 1-day window raw can no longer
    // cover — the coverage clamp must keep yesterday's stored 1m rows intact.
    val base = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${base}/in").mkdirs()
    val H = 3600 * 1000L
    val cfg = cfgFor(base).copy(rollupEveryBatches = 1, retentionDrop = true)
    // run 1 @ Jan-24 00:00: aged but valid points land in Jan-23's raw
    // partition and roll up; one bucket before the coming window edges
    // (02:00, populates keep), one after (20:00, the span the bug deletes)
    land(cfg.sourceDir, 1, exportRows(Seq(
      ("ma", NowMs - 22 * H, 10.0), ("mb", NowMs - 4 * H, 20.0))))
    runOnce(cfg)
    // run 2 @ Jan-24 04:00: fresh point; cascade still sees Jan-23 raw, then
    // the retention step drops it (partition end Jan-24 00:00 < now − 3h)
    val cfg2 = cfg.copy(nowMs = Some(NowMs + 4 * H))
    land(cfg.sourceDir, 2, exportRows(Seq(("mc", NowMs + 4 * H - 60000, 30.0))))
    runOnce(cfg2)
    assert(!new java.io.File(
      s"${base}/store/metrics_raw/${MetricsSink.PartitionCol}=2024-01-23").exists,
      "fixture must age out yesterday's raw partition")
    // run 3 @ Jan-24 05:00: the tick whose 1-day window reaches into the
    // dropped span — without the clamp it rewrites Jan-23's 1m partition as
    // keep(<05:00) ∪ recompute(nothing) and deletes the 20:00 bucket
    val cfg3 = cfg.copy(nowMs = Some(NowMs + 5 * H))
    land(cfg.sourceDir, 3, exportRows(Seq(("md", NowMs + 5 * H - 60000, 40.0))))
    runOnce(cfg3)
    val m1Metrics = MetricsSink.read(spark, cfg.storageDir, MetricsSink.M1)
      .select(col("metric")).collect().map(_.getString(0)).toSet
    assert(m1Metrics === Set("ma", "mb", "mc", "md"),
      s"stored 1m rollups lost after retention + refresh: $m1Metrics")
  }

  test("maintenance tick: in-app compaction collapses raw append parts") {
    val base = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${base}/in").mkdirs()
    val cfg = cfgFor(base).copy(compactMaxFiles = 1)
    // three separate app runs append at least three parts to the same
    // daily raw partition; each run's maintain tick then compacts it
    (1 to 3).foreach { n =>
      land(cfg.sourceDir, n, exportRows(Seq((s"mc$n", NowMs - 1000L * n, n * 1.0))))
      runOnce(cfg)
    }
    val parts = new java.io.File(s"${base}/store/metrics_raw").listFiles
      .filter(_.getName.startsWith(s"${MetricsSink.PartitionCol}="))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val n = p.listFiles.count(_.getName.endsWith(".parquet"))
      assert(n === 1, s"partition ${p.getName} holds $n parts after compaction")
    }
    // all three series' rows survived the rewrites
    assert(sinkRows(cfg).map(_._1).toSet === Set("mc1", "mc2", "mc3"))
  }

  /** Bounded wait for the file source's async cleaner (it runs on a
    * background thread after batch commit). */
  private def eventually(timeoutMs: Long = 15000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    cond
  }

  test("landing-zone lifecycle: consumed source files delete or archive (source.clean)") {
    // delete mode: the zone's listing stays bounded as collectors keep
    // dropping batches — consumed files go away, data stays complete
    val base = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"$base/in").mkdirs()
    val cfg = cfgFor(base).copy(sourceClean = "delete", convertToDelta = false)
    land(cfg.sourceDir, 1, exportRows(Seq(("md", NowMs - 2000, 1.0))))
    runOnce(cfg)
    land(cfg.sourceDir, 2, exportRows(Seq(("md", NowMs - 1000, 2.0))))
    runOnce(cfg)
    assert(eventually() {
      !new java.io.File(cfg.sourceDir, "batch_1.parquet").exists()
    }, "consumed batch_1.parquet still in the landing zone")
    assert(sinkRows(cfg).toSeq === Seq(
      ("md", NowMs - 2000, 1.0), ("md", NowMs - 1000, 2.0)))

    // archive mode: consumed files move under the archive dir instead —
    // audit trail kept, listing still bounded
    val base2 = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"$base2/in").mkdirs()
    val cfg2 = cfgFor(base2).copy(sourceClean = "archive",
      sourceArchiveDir = Some(s"$base2/archive"), convertToDelta = false)
    land(cfg2.sourceDir, 1, exportRows(Seq(("ma", NowMs - 2000, 3.0))))
    runOnce(cfg2)
    land(cfg2.sourceDir, 2, exportRows(Seq(("ma", NowMs - 1000, 4.0))))
    runOnce(cfg2)
    def archived: Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).map(_.toSeq).getOrElse(Seq.empty).flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$base2/archive")).map(_.getName)
    }
    assert(eventually() { archived.contains("batch_1.parquet") },
      s"batch_1.parquet not archived; archive holds: $archived")
    assert(eventually() {
      !new java.io.File(cfg2.sourceDir, "batch_1.parquet").exists()
    })
    assert(sinkRows(cfg2).toSeq === Seq(
      ("ma", NowMs - 2000, 3.0), ("ma", NowMs - 1000, 4.0)))
  }

  test("gRPC export enters the app pipeline: wire ingest lands as deltas") {
    import graft.transport.{GrpcOtlpReceiver, GrpcTestClient, OtlpProto}
    val base = Files.createTempDirectory("graft_app").toString
    new java.io.File(s"${base}/in").mkdirs()
    val cfg = cfgFor(base)
    // the reference's native transport feeding the same watched dir the
    // file stream consumes: a cumulative monotonic sum over real h2c gRPC
    val srv = new GrpcOtlpReceiver(spark, cfg.sourceDir)
    val port = srv.start()
    try {
      val dps = Seq(100.0, 150.0, 200.0).zipWithIndex.map { case (v, i) =>
        OtlpProto.Datapoint("m_grpc", "sum", NowMs - 3000 + 1000L * i,
          temporalityCode = 1, isMonotonic = true,
          valueInt = None, valueDouble = Some(v), count = None, sum = None,
          bounds = None, bucketCounts = None,
          dpAttrs = Map("k" -> "v"), exemplars = None)
      }
      val resp = GrpcTestClient.call(port, GrpcOtlpReceiver.ExportPath,
        GrpcOtlpReceiver.grpcFrame(OtlpProto.encodeExportRequest(Seq(
          OtlpProto.ResourceRow(Map("service.name" -> "svc-grpc"), dps)))))
      assert(resp.grpcStatus === 0)
    } finally srv.stop()
    runOnce(cfg)
    assert(sinkRows(cfg).toSeq === Seq(
      ("m_grpc", NowMs - 3000, 100.0), ("m_grpc", NowMs - 2000, 50.0),
      ("m_grpc", NowMs - 1000, 50.0)))
  }
}
