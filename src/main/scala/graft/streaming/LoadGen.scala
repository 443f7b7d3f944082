package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.model.Schemas

/** Deterministic soak-load generator — the analog of the reference's OTLP
  * traffic generator (test/otlp_generator.go:150-204): cumulative monotonic
  * counters incremented with 70% probability per tick, cumulative histograms
  * recording with 80% probability from the 4-tier latency mix (50% fast
  * 5–50 ms, 35% medium 50–200 ms, 10% slow 200–1000 ms, 5% very slow
  * 1000–5000 ms), series fanned out over endpoint/method/status attribute
  * combinations, and a periodic counter reset to exercise reset detection.
  * Seeded PRNG, no wall clock — the same seed replays the same soak.
  *
  * Emits OTLP-export-shaped rows ([[OtlpSource.exportSchema]]) grouped into
  * micro-batch-sized slices, plus the ground truth the soak spec asserts
  * against (per-series increment totals, all recorded latencies). */
object LoadGen {

  /** OTel-SDK-style default explicit bounds covering the latency mix. */
  val Bounds: Seq[Double] = Seq(5, 10, 25, 50, 75, 100, 250, 500, 750, 1000,
    2500, 5000)

  val Endpoints = Seq("/api/users", "/api/products", "/api/orders",
    "/api/metrics", "/api/health")
  val Methods = Seq("GET", "POST", "PUT", "DELETE")
  val StatusCodes = Seq("200", "201", "400", "404", "500")

  /** One soak's emissions and ground truth. `exports` is one element per
    * micro-batch; `counterTotals` maps series attributes to the sum of the
    * deltas the converter derives from the emitted values
    * ([[StreamingTemporality.foldSeries]]: a drop is a reset and re-emits
    * the raw value, anything else is value − last); `latencies` is every
    * recorded histogram sample. */
  final case class Soak(
      exports: Seq[Seq[Row]],
      counterTotals: Map[(String, String, String), Long],
      latencies: Seq[Double],
      datapoints: Long)

  private final class HistState {
    var count = 0L
    var sum = 0.0
    // OTLP wire shape: N bounds, N+1 PER-BUCKET counts, last = +Inf overflow
    // (otlp.go:216-221); temporality is cumulative — counts accumulate
    // across records within the series
    val buckets = new Array[Long](Bounds.length + 1)
    def record(v: Double): Unit = {
      count += 1; sum += v
      val i = Bounds.indexWhere(v <= _)
      buckets(if (i < 0) Bounds.length else i) += 1
    }
  }

  /** The latency mix of otlp_generator.go:185-196. */
  def latency(rnd: scala.util.Random): Double = rnd.nextDouble() match {
    case r if r < 0.50 => 5 + rnd.nextDouble() * 45
    case r if r < 0.85 => 50 + rnd.nextDouble() * 150
    case r if r < 0.95 => 200 + rnd.nextDouble() * 800
    case _ => 1000 + rnd.nextDouble() * 4000
  }

  /** Generate `nBatches` × `ticksPerBatch` ticks ending at `endMs`, one
    * export row per tick. `resetEvery` > 0 zeroes counter 0's series state
    * on that tick cadence (otlp_generator.go:208 simulates the same). */
  def generate(nBatches: Int, ticksPerBatch: Int, tickMs: Long, endMs: Long,
      seed: Long = 42L, nCounters: Int = 3, nHistograms: Int = 2,
      resetEvery: Int = 0): Soak = {
    val rnd = new scala.util.Random(seed)
    val totalTicks = nBatches * ticksPerBatch
    val startMs = endMs - totalTicks.toLong * tickMs
    val counterState = scala.collection.mutable.Map
      .empty[(String, String, String), Long]
    val counterTotals = scala.collection.mutable.Map
      .empty[(String, String, String), Long]
    val histState = scala.collection.mutable.Map
      .empty[(String, String, String, String), HistState]
    val latencies = Seq.newBuilder[Double]
    var datapoints = 0L

    val exports = (0 until nBatches).map { b =>
      (0 until ticksPerBatch).map { t =>
        val tick = b * ticksPerBatch + t + 1
        val tsMs = startMs + tick.toLong * tickMs
        val dps = Seq.newBuilder[Row]

        (0 until nCounters).foreach { i =>
          if (rnd.nextFloat() < 0.7f) {
            val inc = rnd.nextInt(10) + 1L
            val key = (s"requests_total_$i", s"type_${i % 3}",
              StatusCodes(rnd.nextInt(StatusCodes.length)))
            val last = counterState.get(key)
            if (resetEvery > 0 && i == 0 && tick % resetEvery == 0)
              counterState(key) = 0L // simulated process restart
            val v = counterState.getOrElse(key, 0L) + inc
            counterState(key) = v
            // a restart whose new value does not drop below the last one
            // cannot be told from an increment: the converter stores v − last
            val delta = last match {
              case Some(l) if v >= l => v - l
              case _ => v
            }
            counterTotals(key) = counterTotals.getOrElse(key, 0L) + delta
            datapoints += 1
            dps += Row(key._1, "sum", tsMs, 1, true, null, v.toDouble, null,
              null, null, null,
              Map("counter_type" -> key._2, "status" -> key._3), null)
          }
        }

        (0 until nHistograms).foreach { i =>
          if (rnd.nextFloat() < 0.8f) {
            val v = latency(rnd)
            latencies += v
            val key = (s"request_duration_ms_$i",
              Endpoints(rnd.nextInt(Endpoints.length)),
              Methods(rnd.nextInt(Methods.length)),
              StatusCodes(rnd.nextInt(StatusCodes.length)))
            val st = histState.getOrElseUpdate(key, new HistState)
            st.record(v)
            datapoints += 1
            dps += Row(key._1, "histogram", tsMs, 1, false, null, null,
              st.count, st.sum, Bounds, st.buckets.toSeq,
              Map("endpoint" -> key._2, "method" -> key._3,
                "status" -> key._4), null)
          }
        }

        Row(Map("service.name" -> "soak-svc"), dps.result())
      }
    }
    Soak(exports, counterTotals.toMap, latencies.result(), datapoints)
  }

  /** Materialize one batch as an export DataFrame. */
  def toDF(spark: SparkSession, batch: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(batch.asJava, OtlpSource.exportSchema)
  }
}
