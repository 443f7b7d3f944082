package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.xerial.snappy.Snappy

import graft.{GraftApp, GraftConfig}
import graft.streaming.LoadGen
import graft.transport.{PromProto, RemoteReadServer}

/** read_promread: snappy/protobuf ReadRequests over HTTP to a
  * RemoteReadServer over a store built in set-up (a LoadGen history through
  * GraftApp.start with AvailableNow, then the 1m/5m/1h cascade). Nothing is
  * ingested or maintained while timing runs. Phase 1 is open loop at a fixed
  * rate (latency); phase 2 is closed loop with `parallelism` clients
  * (throughput). Every decoded response must equal RemoteReadServer.query
  * computed in process at set-up. */
object ReadPromread {
  /** The store's pinned clock: every routing and validation decision is
    * relative to it, so inputs and answers do not depend on the wall clock. */
  val NowMs: Long = graft.queries.OracleDefs.NowMs
  val Workspace = "perfbench"
  val Marker = "perfbench_marker"
  val Markers = 40
  /** Under half the capacity phase 2 measures (`throughput_per_s`;
    * perfbench/README.md gives the figures it was sized from), and over 80%
    * of 10 s it gives the 40 samples a p75 tail needs. */
  val OpenLoopPerS = 5.0
  /** Share of --seconds given to the open-loop phase. */
  val OpenShare = 0.8
  private val Min = 60000L
  private val Hour = 60 * Min
  private val Day = 24 * Hour

  final case class Q(tier: String, q: PromProto.Query)

  /** The query mix: the marker read, then two queries per routed tier (the
    * tiers hold the cascade's last day, so rollup windows reach `NowMs`)
    * covering all four matcher types, delta-sum reconstruction (counters)
    * and histogram sample values. Matcher values and windows come from the
    * seed. The reads go round the mix in turn: equal weights are a coverage
    * choice, not observed traffic. */
  def mix(seed: Long): Seq[Q] = {
    val r = new scala.util.Random(seed)
    def m(t: Int, n: String, v: String) = PromProto.LabelMatcher(t, n, v)
    def pick[T](xs: Seq[T]) = xs(r.nextInt(xs.size))
    val EQ = 0; val NEQ = 1; val RE = 2; val NRE = 3
    val jitter = r.nextInt(10) * Min
    def q(tier: String, start: Long, end: Long, ms: PromProto.LabelMatcher*) =
      Q(tier, PromProto.Query(start, end, ms))
    Seq(
      q("raw", NowMs - 30 * Min, NowMs, m(EQ, "__name__", Marker)),
      q("raw", NowMs - 50 * Min - jitter, NowMs - 5 * Min,
        m(EQ, "__name__", s"requests_total_${r.nextInt(3)}")),
      q("raw", NowMs - 40 * Min - jitter, NowMs,
        m(RE, "__name__", "request_duration_ms_.*"), m(NEQ, "method", pick(LoadGen.Methods))),
      q("1m", NowMs - 8 * Hour - jitter, NowMs - 4 * Hour,
        m(EQ, "__name__", s"request_duration_ms_${r.nextInt(2)}"),
        m(RE, "endpoint", "/api/(users|orders|products)")),
      q("1m", NowMs - 10 * Hour - jitter, NowMs - 3 * Hour,
        m(RE, "__name__", "requests_total_.*"), m(NRE, "status", "5..")),
      q("5m", NowMs - 2 * Day - jitter, NowMs,
        m(EQ, "__name__", s"requests_total_${r.nextInt(3)}"),
        m(EQ, "status", pick(LoadGen.StatusCodes))),
      q("5m", NowMs - 3 * Day - jitter, NowMs - Hour,
        m(RE, "__name__", "request_duration_ms_.*"), m(NEQ, "status", pick(LoadGen.StatusCodes))),
      q("1h", NowMs - 8 * Day - jitter, NowMs,
        m(RE, "__name__", "requests_total_[01]"), m(NRE, "status", "4..")),
      q("1h", NowMs - 9 * Day - jitter, NowMs - Hour,
        m(EQ, "__name__", s"request_duration_ms_${r.nextInt(2)}"),
        m(RE, "method", "GET|POST")))
  }

  /** One store: history + markers landed, ingested with AvailableNow, then
    * cascaded.
    * `stateTtlMs = 0`: with a processing-time state timeout every trigger
    * asks for another (no-data) batch, so an AvailableNow query would never
    * terminate. */
  def buildStore(spark: SparkSession, dir: File, seed: Long): GraftConfig = {
    val cfg = GraftConfig(sourceDir = s"$dir/in", storageDir = s"$dir/store",
      checkpointDir = s"$dir/ckpt", workspaceId = Workspace, convertToDelta = true,
      stateTtlMs = 0L, publishRouting = false, nowMs = Some(NowMs))
    new File(cfg.sourceDir).mkdirs()
    // 26 hours of 2-minute ticks, landed as 4 export files (the cascade
    // refreshes the last day, so older points live in the raw tier only)
    val soak = LoadGen.generate(nBatches = 4, ticksPerBatch = 195, tickMs = 2 * Min,
      endMs = NowMs - Min, seed = seed)
    soak.exports.zipWithIndex.foreach { case (b, i) => land(spark, cfg.sourceDir, s"h$i", b) }
    land(spark, cfg.sourceDir, "markers", Seq(markerExport(System.currentTimeMillis())))
    GraftApp.start(spark, cfg, Trigger.AvailableNow()).awaitTermination()
    graft.sink.RollupMaintenance.refreshCascade(spark, cfg.storageDir, NowMs,
      Seq(col("workspace_id"), col("metric"), col("series_hash")),
      col("ts_ms"), col("ts_ms"), prepRaw = GraftApp.withEmptyExp)
    cfg
  }

  /** `Markers` gauge points whose value is their creation stamp. */
  private def markerExport(created: Long): Row =
    Row(Map("service.name" -> "perfbench"), (0 until Markers).map { i =>
      Row(Marker, "gauge", NowMs - 10 * Min + i, 0, false, null, created.toDouble, null, null,
        null, null, Map("marker" -> i.toString), null)
    })

  private def land(spark: SparkSession, dir: String, name: String, batch: Seq[Row]): Unit = {
    val tmp = new File(dir).getParentFile.toPath.resolve(s"land_$name")
    LoadGen.toDF(spark, batch).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet").toPath)
    Session.deleteRecursively(tmp.toFile)
  }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val uri = URI.create(s"http://127.0.0.1:$port/api/v1/read")
    def read(body: Array[Byte]): Seq[Seq[PromProto.TimeSeries]] = {
      val resp = http.send(HttpRequest.newBuilder(uri)
        .header("Content-Type", "application/x-protobuf")
        .header("Content-Encoding", "snappy")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      if (resp.statusCode != 200)
        throw new IllegalStateException(s"HTTP ${resp.statusCode}: ${new String(resp.body, "UTF-8").take(200)}")
      PromProto.decodeReadResponse(Snappy.uncompress(resp.body))
    }
  }

  def run(o: Opts, spark: SparkSession, res: Result, t0: Long,
      ledger: Option[(Ledger, PlanLedger)], spans: Spans): Unit = {
    val queries = mix(o.seed)
    val cfg = buildStore(spark, new File(o.root, "store"), o.seed)
    res.context("graft_config") = cfg.toString
    val srv = new RemoteReadServer(spark, cfg.storageDir, cfg.sourceDir, Workspace, NowMs)
    val port = srv.start(0)
    try {
      val expected = queries.map(q => srv.query(q.q))
      val bodies = queries.map(q => Snappy.compress(PromProto.encodeReadRequest(Seq(q.q))))
      res.context("query_samples") = expected.map(_.map(_.samples.size).sum)
      expected.zip(queries).foreach { case (e, q) =>
        if (e.isEmpty) res.fail(s"query on ${q.tier} returns no series: ${q.q}") }
      val markerQ = queries.indexWhere(_.q.matchers.exists(_.value == Marker))
      val client = new Client(port)
      val seen = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
      /** First sight of each marker: now minus its creation stamp. */
      def markersSeen(got: Seq[Seq[PromProto.TimeSeries]]): Unit = {
        val now = System.currentTimeMillis().toDouble
        got.head.foreach { ts =>
          val id = ts.labels.collectFirst { case ("marker", m) => m.toInt }.get
          ts.samples.foreach { case (v, _) => seen.putIfAbsent(id, now - v) }
        }
      }
      // untimed warm-up: the mix once over HTTP (after once in process
      // above), so the read path is compiled before the window opens
      bodies.indices.foreach { i =>
        val got = client.read(bodies(i))
        if (i == markerQ) markersSeen(got)
      }
      res.setupS = (System.nanoTime() - t0) / 1e9

      val failed = new AtomicLong(0)
      val done = new AtomicLong(0)
      val perTier = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

      /** One read: send, decode, check; returns its latency from `dueNs`. */
      def one(k: Long, dueNs: Long, traced: Boolean): Double = {
        val i = (k % queries.size).toInt
        val got = try {
          spans("read.http", s"r$k") { _ => client.read(bodies(i)) }
        } catch { case e: Exception =>
          failed.incrementAndGet(); res.fail(s"read $k failed: ${e.getMessage}"); null
        }
        val endNs = System.nanoTime()
        if (got != null) {
          val checked = if (o.corrupt && k == 0) corruptOne(got) else got
          if (checked != Seq(expected(i))) {
            failed.incrementAndGet()
            res.fail(s"read $k (${queries(i).tier}) differs from the in-process answer")
          }
        }
        done.incrementAndGet()
        val ms = (endNs - dueNs) / 1e6
        if (traced) perTier.add((queries(i).tier, ms))
        ms
      }

      // phase 1: open loop, reads due every 1/rate s, served by a bounded pool
      val n1 = math.max(1, (o.seconds * OpenShare * OpenLoopPerS).toInt)
      val lat = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()
      val untracedLat = mutable.ArrayBuffer.empty[Double]
      val w = new Window(res, "open")
      val pool = Executors.newFixedThreadPool(o.parallelism)
      val lateness = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val start = System.nanoTime() + 20000000L
      val traceFrom = if (o.trace) n1 / 2 else n1
      (0 until n1).foreach { k =>
        val due = start + (k / OpenLoopPerS * 1e9).toLong
        if (o.trace && k == traceFrom) {
          // second half of a traced run's open loop is the traced half
          while (lat.size < traceFrom) Thread.sleep(1)
          ledger.foreach { case (j, p) => j.on = true; p.on = true }
          spans.on = true
        }
        val sleep = due - System.nanoTime()
        if (sleep > 0) TimeUnit.NANOSECONDS.sleep(sleep)
        pool.execute(() => {
          lateness.add((System.nanoTime() - due) / 1e6)
          lat.put(k.toLong, one(k, due, k >= traceFrom))
        })
      }
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      val sorted = (0 until n1).map(k => lat.get(k.toLong).doubleValue)
      untracedLat ++= sorted.take(traceFrom)
      res.latencyMs ++= sorted.drop(if (o.trace) traceFrom else 0)

      // phase 2: closed loop, one back-to-back client per thread
      res.loadSample("closed_start")
      val endAt = System.nanoTime() + (o.seconds * (1 - OpenShare) * 1e9).toLong
      val p2 = System.nanoTime()
      // reads/s of each client over its own span: the clients' last reads
      // end at different times past the deadline
      val rates = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val closed = (0 until o.parallelism).map { c =>
        val t = new Thread(() => {
          var k = n1 + c.toLong
          var n = 0
          while (System.nanoTime() < endAt) {
            one(k, System.nanoTime(), false)
            k += o.parallelism
            n += 1
          }
          rates.add(n / ((System.nanoTime() - p2) / 1e9))
        })
        t.start(); t
      }
      closed.foreach(_.join())
      w.close()

      val reads = done.get()
      res.attempted = reads
      res.failed = failed.get()
      res.throughputPerS = rates.toArray.map(_.asInstanceOf[Double]).sum
      res.cpuMsPerOp = w.cpuMs / reads
      res.heapPeakMb = w.settledHeapMb()
      res.layers("jvm.gc_ms") = w.gcMs
      res.layers("gen.lateness_ms") = Stats.pct(lateness.toArray.map(_.asInstanceOf[Double]).toSeq, 99)
      (0 until Markers).foreach { m =>
        Option(seen.get(m)) match {
          case Some(f) => res.freshMs += f.doubleValue
          case None => res.fail(s"marker $m was never read back")
        }
      }
      if (o.trace) traced(o, spark, res, srv, queries, bodies, expected, perTier, untracedLat.toSeq, ledger.get)
    } finally srv.stop()
  }

  private def corruptOne(got: Seq[Seq[PromProto.TimeSeries]]): Seq[Seq[PromProto.TimeSeries]] =
    got.map(_.map(ts => ts.copy(samples = ts.samples.map { case (v, t) => (v + 1, t) })))

  /** Per-layer numbers: HTTP latency per routed tier, client-side codec
    * cost on the same bytes, and in-process reads with their Spark jobs. */
  private def traced(o: Opts, spark: SparkSession, res: Result, srv: RemoteReadServer,
      queries: Seq[Q], bodies: Seq[Array[Byte]], expected: Seq[Seq[PromProto.TimeSeries]],
      perTier: java.util.concurrent.ConcurrentLinkedQueue[(String, Double)],
      untracedLat: Seq[Double], ledger: (Ledger, PlanLedger)): Unit = {
    import scala.jdk.CollectionConverters._
    val byTier = perTier.asScala.toSeq.groupBy(_._1)
    Seq("raw", "1m", "5m", "1h").foreach { t =>
      byTier.get(t).foreach(xs => res.layers(s"transport.read_http_ms.$t") = Stats.median(xs.map(_._2)))
    }
    res.layers("trace.overhead_ms") = Stats.median(res.latencyMs.toSeq) - Stats.median(untracedLat)
    val codec = queries.indices.map { i =>
      val c0 = System.nanoTime()
      PromProto.decodeReadRequest(Snappy.uncompress(bodies(i)))
      Snappy.compress(PromProto.encodeReadResponse(Seq(expected(i))))
      (System.nanoTime() - c0) / 1e6
    }
    res.layers("transport.read_codec_ms") = Stats.median(codec)
    val (jobs, plans) = ledger
    val direct = mutable.ArrayBuffer.empty[(String, Double, String, Int)]
    for (round <- 0 until 3; (q, i) <- queries.zipWithIndex) {
      val tag = s"direct$round:$i"
      plans.currentOp = tag
      val d0 = System.nanoTime()
      val got = Ledger.tagged(spark, tag)(srv.query(q.q))
      val ms = (System.nanoTime() - d0) / 1e6
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      direct += ((q.tier, ms, tag, got.map(_.samples.size).sum))
    }
    direct.groupBy(_._1).foreach { case (t, xs) =>
      res.layers(s"query.read_direct_ms.$t") = Stats.median(xs.map(_._2).toSeq) }
    val n = direct.size.toDouble
    val costs = direct.map(d => jobs.opCost(d._3))
    res.layers("query.jobs_per_read") = costs.map(_.jobs).sum / n
    res.layers("query.files_per_read") = direct.map(d => plans.filesRead(d._3)).sum / n
    res.layers("query.input_bytes_per_read") = costs.map(_.inputBytes).sum / n
    res.layers("query.driver_ms_per_read") =
      direct.zip(costs).map { case (d, c) => math.max(d._2 - c.jobWallMs, 0.0) }.sum / n
    res.layers("query.samples_per_read") = direct.map(_._4).sum / n
  }
}
