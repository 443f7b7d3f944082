package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{GraftApp, GraftConfig, SparkSpec}
import graft.histo.{HistogramFunctions, HistogramMath}
import graft.model.{Bucket, MetricPoint}
import graft.sink.MetricsSink

/** E2E soak (reference: test/otlp_generator.go:150-204): the 4-tier latency
  * mix replayed through the full app — ingest, validation, stateful delta
  * conversion, partitioned sink — with every maintenance step enabled
  * (cascade refresh, retention drop, compaction) on every micro-batch, then
  * the read side queried for a P95 that must equal the generator's ground
  * truth exactly. This is the one test where ingest skew, histogram tails,
  * reset recovery, state across restarts, and the maintenance interplay all
  * run together. */
class LoadSoakSpec extends SparkSpec {

  private val NowMs = graft.queries.OracleDefs.NowMs

  private def land(dir: String, n: Int, batch: Seq[org.apache.spark.sql.Row]): Unit = {
    val tmp = Files.createTempDirectory("soak_land").toString
    LoadGen.toDF(spark, batch).coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dir, s"soak_$n.parquet").toPath)
    ()
  }

  test("soak: latency-mix load through app + maintenance; P95 read matches ground truth") {
    val base = Files.createTempDirectory("graft_soak").toString
    new java.io.File(s"$base/in").mkdirs()
    val cfg = GraftConfig(
      sourceDir = s"$base/in",
      storageDir = s"$base/store",
      checkpointDir = s"$base/ckpt",
      workspaceId = "ws-soak",
      convertToDelta = true,
      stateTtlMs = 0L,
      rollupEveryBatches = 1,
      retentionDrop = true,
      compactMaxFiles = 2,
      // shared-session conf hygiene: the soak's scratch store must not
      // outlive this test as the session's routing target
      publishRouting = false,
      nowMs = Some(NowMs))
    val soak = LoadGen.generate(nBatches = 4, ticksPerBatch = 40, tickMs = 2000,
      endMs = NowMs - 1000, seed = 42, resetEvery = 50)
    assert(soak.latencies.nonEmpty && soak.counterTotals.nonEmpty)

    soak.exports.zipWithIndex.foreach { case (batch, i) =>
      land(cfg.sourceDir, i, batch)
      val q = GraftApp.start(spark, cfg, Trigger.AvailableNow())
      q.awaitTermination()
    }

    // ingest conservation: every generated datapoint landed exactly once,
    // through validation + stateful conversion + retention + compaction
    val raw = MetricsSink.read(spark, cfg.storageDir, MetricsSink.Raw)
    assert(raw.count() === soak.datapoints)

    // counter series: the stored DELTAS must sum back to the exact applied
    // increments — including across the simulated resets, where the
    // converter re-emits the raw post-reset value (== that tick's increment)
    val counterGot = raw.filter(col("metric_type") === 2)
      .groupBy(col("metric"),
        element_at(col("attributes"), "counter_type").as("ct"),
        element_at(col("attributes"), "status").as("st"))
      .agg(sum(col("value")).as("total"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getDouble(3))).toMap
    assert(counterGot === soak.counterTotals.map { case (k, v) => (k, v.toDouble) })

    // histogram record conservation through count deltas
    val histCount = raw.filter(col("metric_type") === 3)
      .agg(sum(col("count"))).collect()(0).getLong(0)
    assert(histCount === soak.latencies.size.toLong)

    // the rollup cascade populated every stored tier
    val m1 = MetricsSink.read(spark, cfg.storageDir, MetricsSink.M1)
    assert(m1.count() > 0)
    assert(MetricsSink.read(spark, cfg.storageDir, MetricsSink.M5).count() > 0)
    assert(MetricsSink.read(spark, cfg.storageDir, MetricsSink.H1).count() > 0)

    // P95 read off the STORED 1m tier: merge all histogram-series bucket
    // vectors, interpolate, and require exact agreement with the same math
    // over the generator's ground-truth samples
    val merged = HistogramFunctions.mergeBuckets(
      m1.filter(col("metric").startsWith("request_duration"))
        .filter(size(col("buckets")) > 0),
      Seq(lit("all").as("g")), col("buckets"))
    val p95 = merged.select(
      HistogramFunctions.histogram_quantile(col("buckets"), lit(95.0)).as("p95"))
      .collect()(0).getDouble(0)
    val bounds = LoadGen.Bounds :+ Double.PositiveInfinity
    val truthCounts = new Array[Long](bounds.length)
    soak.latencies.foreach { v =>
      val i = LoadGen.Bounds.indexWhere(v <= _)
      truthCounts(if (i < 0) LoadGen.Bounds.length else i) += 1
    }
    val truth = bounds.zip(truthCounts).map { case (le, c) => Bucket(le, c) }
    val expected = HistogramMath.percentile(truth, 95.0)
      .getOrElse(fail("ground-truth percentile errored"))
    assert(math.abs(p95 - expected) < 1e-9,
      s"stored-tier P95 $p95 != ground truth $expected")
    // and the mix's shape: P95 sits at the fast/slow boundary region
    assert(p95 > 500 && p95 < 2500, s"P95 $p95 outside the mix's tail band")

    // compaction bounded the raw partition's append parts (write-then-
    // maintain order means the last tick's compaction ran after its write)
    val parts = new java.io.File(s"$base/store/metrics_raw").listFiles
      .filter(_.getName.startsWith(s"${MetricsSink.PartitionCol}="))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val n = p.listFiles.count(_.getName.endsWith(".parquet"))
      assert(n <= cfg.compactMaxFiles,
        s"partition ${p.getName} holds $n parts after soak compaction")
    }
  }

  test("counterTotals is the converter's fold of the emitted counters, across undetectable resets") {
    // a restart re-emits v = inc (1–10); when the series' last value was not
    // above v the converter sees no drop and stores v − last, not inc
    val nBatches = 2
    val ticks = 30
    val tickMs = 1000L
    val resetEvery = 3
    val startMs = NowMs - nBatches * ticks * tickMs
    var undetectable = 0
    (1 to 20).foreach { seed =>
      val soak = LoadGen.generate(nBatches, ticks, tickMs, endMs = NowMs,
        seed = seed, resetEvery = resetEvery)
      val series = soak.exports.flatten.flatMap(_.getSeq[Row](1))
        .filter(_.getString(1) == "sum")
        .groupBy { dp =>
          val attrs = dp.getMap[String, String](11)
          (dp.getString(0), attrs("counter_type"), attrs("status"))
        }
      val folded = series.map { case (key, dps) =>
        val points = dps.map(dp => MetricPoint("ws", 0L, key._1,
          new Timestamp(dp.getLong(2)), metric_type = 2, temporality = 1,
          is_monotonic = true, value = Some(dp.getDouble(6)), count = None,
          sum = None, buckets = Nil))
        key -> StreamingTemporality.foldSeries(None, points)._2
          .flatMap(_.delta).sum.toLong
      }
      assert(soak.counterTotals === folded, s"seed $seed")
      series.foreach { case ((metric, _, _), dps) =>
        dps.sliding(2).foreach {
          case Seq(prev, cur) if metric == "requests_total_0" &&
              (cur.getLong(2) - startMs) / tickMs % resetEvery == 0 &&
              cur.getDouble(6) >= prev.getDouble(6) =>
            undetectable += 1
          case _ =>
        }
      }
    }
    assert(undetectable > 0, "no seed restarted a counter without a drop")
  }
}
