package graft.transport

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.xerial.snappy.Snappy

import graft.SparkSpec
import graft.metrics.EventsMetrics
import graft.query.Promread
import graft.sink.{MetricsSink, RollupMaintenance}

/** Loopback integration of the network shell (handler.go:65-107): a real
  * HTTP round trip — snappy+protobuf ReadRequest up, routed query against
  * the stored tiers, snappy+protobuf ReadResponse down — plus the ingest
  * landing endpoint, and a pure codec round-trip pinning the wire format. */
class RemoteReadServerSpec extends SparkSpec {

  private val NowA = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
  private val keys = Seq(col("workspace_id"), col("metric"))

  private lazy val store: String = {
    val b = Files.createTempDirectory("graft_transport").toString
    MetricsSink.write(
      EventsMetrics.withHistogram(EventsMetrics.fromEvents(spark, Sf)),
      b, MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite")
    RollupMaintenance.refreshCascade(spark, b, NowA, keys,
      col("ts_ms"), col("event_id"))
    b
  }

  private def post(port: Int, path: String, body: Array[Byte],
      contentType: String = ""): (Int, Array[Byte]) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    if (contentType.nonEmpty) conn.setRequestProperty("Content-Type", contentType)
    conn.getOutputStream.write(body)
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val resp = in.readAllBytes()
    conn.disconnect()
    (code, resp)
  }

  private def withServer[T](sourceDir: String,
      maxBodyBytes: Int = RemoteReadServer.DefaultMaxBodyBytes,
      maxResponseRows: Int = RemoteReadServer.DefaultMaxResponseRows)(
      body: (RemoteReadServer, Int) => T): T = {
    val srv = new RemoteReadServer(spark, store, sourceDir, "ws-1",
      () => NowA, maxBodyBytes, maxResponseRows)
    val port = srv.start()
    try body(srv, port) finally srv.stop()
  }

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = new String(in.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  test("GET /status reports uptime and the wired app payload") {
    val src = Files.createTempDirectory("graft_transport_src").toString
    withServer(src) { (srv, port) =>
      val (code, body) = get(port, "/status")
      assert(code === 200)
      assert(body.contains("\"uptime_ms\":"))
      assert(body.contains("\"app\":{}"))
      // the app wires its streaming progress in after the stream starts
      srv.statusJson = () => """{"active":true,"lastProgress":null}"""
      val (_, body2) = get(port, "/status")
      assert(body2.contains("\"app\":{\"active\":true"))
      // a throwing provider is a 500, never a hung socket
      srv.statusJson = () => throw new IllegalStateException("boom")
      val (code3, _) = get(port, "/status")
      assert(code3 === 500)
      // write endpoints stay POST-only; status stays GET-only
      val (codePost, _) = post(port, "/status", Array[Byte](1))
      assert(codePost === 405)
      val (codeGet, _) = get(port, "/ingest")
      assert(codeGet === 405)
    }
  }

  test("wire codec round-trips requests and responses") {
    val req = Seq(PromProto.Query(1000L, 2000L, Seq(
      PromProto.LabelMatcher(2, "__name__", "^evt_.*$"),
      PromProto.LabelMatcher(1, "user", "3"))))
    assert(PromProto.decodeReadRequest(PromProto.encodeReadRequest(req)) === req)
    val resp = Seq(Seq(
      PromProto.TimeSeries(Seq("__name__" -> "m1", "k" -> "v"),
        Seq((1.5, 1000L), (2.5, 2000L))),
      PromProto.TimeSeries(Seq("__name__" -> "m2"), Seq((0.25, 9L)))))
    assert(PromProto.decodeReadResponse(PromProto.encodeReadResponse(resp)) === resp)
  }

  test("wire codec fuzz: random messages round-trip, extremes included") {
    val rnd = new scala.util.Random(4242)
    def rs(): String = {
      val n = rnd.nextInt(12)
      (0 until n).map(_ => (rnd.nextInt(0xD7FF - 32) + 32).toChar).mkString
    }
    def rLong(): Long = rnd.nextInt(5) match {
      case 0 => 0L
      case 1 => Long.MaxValue
      case 2 => Long.MinValue
      case 3 => -rnd.nextLong().abs
      case _ => rnd.nextLong()
    }
    def rDouble(): Double = rnd.nextInt(7) match {
      case 0 => 0.0
      case 1 => -0.0
      case 2 => Double.PositiveInfinity
      case 3 => Double.NegativeInfinity
      case 4 => Double.MinPositiveValue
      case _ => (rnd.nextDouble() - 0.5) * 1e12
    }
    for (_ <- 1 to 300) {
      val req = Seq.fill(rnd.nextInt(4))(PromProto.Query(rLong(), rLong(),
        Seq.fill(rnd.nextInt(4))(
          PromProto.LabelMatcher(rnd.nextInt(4), rs(), rs()))))
      assert(PromProto.decodeReadRequest(PromProto.encodeReadRequest(req)) === req)
      val resp = Seq.fill(rnd.nextInt(3))(Seq.fill(rnd.nextInt(3))(
        PromProto.TimeSeries(
          Seq.fill(rnd.nextInt(4))((rs(), rs())),
          Seq.fill(rnd.nextInt(5))((rDouble(), rLong())))))
      assert(PromProto.decodeReadResponse(PromProto.encodeReadResponse(resp)) === resp)
    }
  }

  test("loopback remote read: raw-routed query over HTTP equals the direct read path") {
    val src = Files.createTempDirectory("graft_transport_src").toString
    withServer(src) { (_, port) =>
      // start=end=0 short-circuits routing to raw (handler.go:304-307)
      val req = PromProto.encodeReadRequest(Seq(PromProto.Query(0L, 0L, Seq(
        PromProto.LabelMatcher(2, "__name__", "^evt_(purchase|signup)$")))))
      val (code, body) = post(port, "/api/v1/read", Snappy.compress(req))
      assert(code === 200)
      val results = PromProto.decodeReadResponse(Snappy.uncompress(body))
      assert(results.length === 1)
      val series = results.head
      assert(series.nonEmpty)
      // every series carries __name__ + sorted attribute labels
      assert(series.forall(_.labels.head._1 == "__name__"))
      assert(series.forall(ts => ts.labels.head._2.startsWith("evt_")))
      // totals match the equivalent direct query
      val direct = EventsMetrics.withHistogram(
        EventsMetrics.fromEvents(spark, Sf))
        .filter(Promread.predicate(
          Seq(Promread.Matcher("__name__", Promread.RE, "^evt_(purchase|signup)$")),
          workspaceId = "ws-1", startMs = 0L, endMs = 0L))
        .withColumn("sample_value",
          Promread.sampleValue(col("value"), col("count"), col("sum")))
        .filter(col("sample_value").isNotNull)
      assert(series.map(_.samples.length).sum === direct.count())
      val directSum = direct.agg(sum(col("sample_value"))).collect()(0).getDouble(0)
      val gotSum = series.flatMap(_.samples.map(_._1)).sum
      assert(math.abs(gotSum - directSum) / math.abs(directSum) < 1e-9)
    }
  }

  test("loopback remote read: aged window routes to the stored 1m tier") {
    val src = Files.createTempDirectory("graft_transport_src").toString
    withServer(src) { (srv, port) =>
      // age < 15d, span 20h < 24h → metrics_1m (handler.go:308-312)
      val startMs = NowA - 20 * 3600 * 1000L
      val req = PromProto.Query(startMs, NowA, Seq(
        PromProto.LabelMatcher(2, "__name__", "^evt_.*$")))
      assert(Promread.selectTable(startMs, NowA, NowA) === "metrics_1m")
      val (code, body) = post(port, "/api/v1/read",
        Snappy.compress(PromProto.encodeReadRequest(Seq(req))))
      assert(code === 200)
      val series = PromProto.decodeReadResponse(Snappy.uncompress(body)).head
      assert(series.nonEmpty)
      // sample count equals the stored tier's qualifying rows
      val tierRows = MetricsSink.read(spark, store, MetricsSink.M1)
        .filter(Promread.predicate(
          Seq(Promread.Matcher("__name__", Promread.RE, "^evt_.*$")),
          workspaceId = "ws-1", startMs = startMs, endMs = NowA,
          tsMsCol = col("bucket_ms")))
        .withColumn("sample_value",
          Promread.sampleValue(col("value_last"), col("count"), col("sum")))
        .filter(col("sample_value").isNotNull)
      assert(series.map(_.samples.length).sum === tierRows.count())
      // HTTP result == in-process query result, wire codec transparent
      assert(series === srv.query(req))
    }
  }

  test("ingest endpoint decodes a collector's OTLP/HTTP+JSON export") {
    val src = Files.createTempDirectory("graft_transport_src").toString
    withServer(src) { (_, port) =>
      val json =
        """{"resourceMetrics":[{"resource":{"attributes":[
          |{"key":"service.name","value":{"stringValue":"svc-json"}}]},
          |"scopeMetrics":[{"metrics":[{"name":"m_json","sum":{
          |"aggregationTemporality":2,"isMonotonic":true,
          |"dataPoints":[{"timeUnixNano":"1706054399000000000","asDouble":7.5}]
          |}}]}]}]}""".stripMargin.replaceAll("\n", "")
      val (code, name) = post(port, "/ingest", json.getBytes("UTF-8"),
        contentType = "application/json")
      assert(code === 200)
      val landed = new java.io.File(src, new String(name, "UTF-8"))
      assert(landed.exists)
      val back = spark.read.schema(graft.streaming.OtlpSource.exportSchema)
        .parquet(landed.getPath)
        .select(element_at(col("resource_attrs"), "service.name"),
          explode(col("datapoints")).as("dp"))
        .select(col("dp.metric"), col("dp.kind"), col("dp.ts_ms"),
          col("dp.value_double"))
        .collect()
      assert(back.map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq ===
        Seq(("m_json", "sum", 1706054399000L, 7.5)))
    }
  }

  test("delta-temporality sums read back cumulative-reconstructed (A6 arm)") {
    import spark.implicits._
    // app-shaped raw tier: typed columns present, three temporality cases
    val b = Files.createTempDirectory("graft_transport_a6").toString
    val df = Seq(
      // delta monotonic sum, two series of the same metric — per-series
      // keying is the point (the reference's shared accumulator is its bug)
      ("m_d", "1", 1000L, 2, 2, Some(5.0), Option.empty[Long], Option.empty[Double]),
      ("m_d", "1", 2000L, 2, 2, Some(3.0), None, None),
      ("m_d", "1", 3000L, 2, 2, Some(2.0), None, None),
      ("m_d", "2", 1000L, 2, 2, Some(10.0), None, None),
      ("m_d", "2", 2000L, 2, 2, Some(1.0), None, None),
      // cumulative sum: raw values pass through
      ("m_c", "1", 1000L, 2, 1, Some(4.0), None, None),
      ("m_c", "1", 2000L, 2, 1, Some(6.0), None, None),
      // gauge: raw value
      ("m_g", "1", 1000L, 1, 0, Some(7.0), None, None),
      // histogram: sum/count average, untouched by the A6 arm
      ("m_h", "1", 1000L, 3, 2, None, Some(4L), Some(8.0)))
      .toDF("metric", "user", "ts_ms", "metric_type", "temporality",
        "value", "count", "sum")
      .withColumn("workspace_id", lit("ws-1"))
      .withColumn("attributes", map(lit("user"), col("user")))
      .drop("user")
    MetricsSink.write(df, b, MetricsSink.Raw, col("ts_ms"),
      Seq(col("workspace_id"), col("metric")), mode = "overwrite")
    val src = Files.createTempDirectory("graft_transport_src").toString
    val srv = new RemoteReadServer(spark, b, src, "ws-1", NowA)
    val port = srv.start()
    try {
      val req = PromProto.Query(0L, 0L, Seq(
        PromProto.LabelMatcher(2, "__name__", "^m_.*$")))
      val (code, body) = post(port, "/api/v1/read",
        Snappy.compress(PromProto.encodeReadRequest(Seq(req))))
      assert(code === 200)
      val series = PromProto.decodeReadResponse(Snappy.uncompress(body)).head
      val got = series.map { ts =>
        val m = ts.labels.toMap
        (m("__name__"), m("user"), ts.samples)
      }.sortBy(t => (t._1, t._2))
      assert(got === Seq(
        ("m_c", "1", Seq((4.0, 1000L), (6.0, 2000L))),
        ("m_d", "1", Seq((5.0, 1000L), (8.0, 2000L), (10.0, 3000L))),
        ("m_d", "2", Seq((10.0, 1000L), (11.0, 2000L))),
        ("m_g", "1", Seq((7.0, 1000L))),
        ("m_h", "1", Seq((2.0, 1000L)))))
      // the served delta-sum samples ARE the batch A6 primitive's output
      // (q_a6_delta_to_cum shape) over the same rows, keyed per series
      val expect = graft.metrics.Temporality.toCumulative(
        df.filter(col("metric_type") === 2 && col("temporality") === 2 &&
          col("value").isNotNull),
        Seq(col("metric"), Promread.labelsKey(col("attributes"))),
        Seq(col("ts_ms")))
        .select(col("metric"), element_at(col("attributes"), "user"),
          col("ts_ms"), col("cum_value"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
      val gotDelta = got.filter(_._1 == "m_d")
        .flatMap { case (m, u, s) => s.map(p => (m, u, p._2, p._1)) }.sorted
      assert(gotDelta === expect)
    } finally srv.stop()
  }

  test("concurrent remote reads equal serial; mid-flight routing confs never leak") {
    // r9 verdict item 3: the Go handler serves each request on its own
    // goroutine (handler.go:65); our server shares one SparkSession across
    // handler threads, and q_p8_route_mv-style routed queries toggle
    // session-wide spark.graft.rollup.* confs. Pin that (a) N concurrent
    // loopback reads return exactly the serial results, and (b) a routed
    // aggregate toggling the confs mid-flight neither corrupts concurrent
    // reads nor loses its own exactness.
    val src = Files.createTempDirectory("graft_transport_src").toString
    val Day = 86400000L
    withServer(src) { (_, port) =>
      val reqs = Seq(
        PromProto.Query(0L, 0L, Seq(
          PromProto.LabelMatcher(2, "__name__", "^evt_(purchase|signup)$"))),
        PromProto.Query(NowA - 20 * 3600 * 1000L, NowA, Seq(
          PromProto.LabelMatcher(2, "__name__", "^evt_.*$"))),
        PromProto.Query(NowA - 20 * 3600 * 1000L, NowA, Seq(
          PromProto.LabelMatcher(1, "m", "evt_view"))))
      def readOnce(q: PromProto.Query): Seq[PromProto.TimeSeries] = {
        val (code, body) = post(port, "/api/v1/read",
          Snappy.compress(PromProto.encodeReadRequest(Seq(q))))
        assert(code === 200)
        PromProto.decodeReadResponse(Snappy.uncompress(body)).head
      }
      val serial = reqs.map(readOnce)
      assert(serial.forall(_.nonEmpty))

      // the dashboard aggregate the routing rule rewrites, and its
      // unrouted baseline
      def dashboard() = spark.read.parquet(s"$store/metrics_raw")
        .filter(col("ts_ms") >= NowA - Day && col("ts_ms") < NowA)
        .groupBy(col("workspace_id"), col("metric"),
          graft.metrics.Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
        .agg(min(col("value")).as("vmin"), count(lit(1)).as("n"))
      val directAgg = dashboard().collect().map(_.toString).sorted.toSeq
      assert(directAgg.nonEmpty)

      val prev = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations =
        prev :+ graft.plans.RollupRouting(spark)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(9)
      try {
        val readers = (0 until 8).map { i =>
          pool.submit(new Runnable {
            override def run(): Unit = try {
              for (r <- 0 until 4) {
                val k = (i + r) % reqs.length
                assert(readOnce(reqs(k)) === serial(k),
                  s"concurrent read $k diverged from serial")
              }
            } catch { case t: Throwable => errors.add(t) }
          })
        }
        val toggler = pool.submit(new Runnable {
          override def run(): Unit = try {
            for (_ <- 1 to 6) {
              spark.conf.set("spark.graft.rollup.baseDir", store)
              spark.conf.set("spark.graft.rollup.freshAsOfMs", NowA.toString)
              spark.conf.set("spark.graft.rollup.keys", "workspace_id,metric")
              try {
                val routed = dashboard()
                assert(routed.queryExecution.executedPlan.toString
                  .contains("metrics_1m"), "routing did not fire mid-soak")
                assert(routed.collect().map(_.toString).sorted.toSeq === directAgg,
                  "routed aggregate diverged under concurrency")
              } finally {
                spark.conf.unset("spark.graft.rollup.baseDir")
                spark.conf.unset("spark.graft.rollup.freshAsOfMs")
                spark.conf.unset("spark.graft.rollup.keys")
              }
            }
          } catch { case t: Throwable => errors.add(t) }
        })
        (readers :+ toggler).foreach(
          _.get(180, java.util.concurrent.TimeUnit.SECONDS))
      } finally {
        pool.shutdownNow()
        spark.experimental.extraOptimizations = prev
      }
      assert(errors.isEmpty,
        s"concurrent failures (${errors.size}): ${Option(errors.peek()).getOrElse("")}")
    }
  }

  test("oversized request body is refused with 413, not buffered") {
    val src = Files.createTempDirectory("graft_transport_src").toString
    withServer(src, maxBodyBytes = 4096) { (_, port) =>
      val big = new Array[Byte](64 * 1024)
      val (code, msg) = post(port, "/ingest", big)
      assert(code === 413)
      assert(new String(msg, "UTF-8").contains("4096"))
      // nothing landed
      assert(new java.io.File(src).listFiles.forall(_.getName.startsWith(".")))
      // a read request over the cap is refused the same way
      val (code2, _) = post(port, "/api/v1/read", big)
      assert(code2 === 413)
      // and an in-budget request on the same server still works
      val req = PromProto.encodeReadRequest(Seq(PromProto.Query(0L, 0L, Seq(
        PromProto.LabelMatcher(0, "__name__", "evt_purchase")))))
      val (code3, _) = post(port, "/api/v1/read", Snappy.compress(req))
      assert(code3 === 200)
    }
  }

  test("multi-query ReadRequest respects the per-request row budget") {
    val src = Files.createTempDirectory("graft_transport_src").toString
    val q = PromProto.Query(0L, 0L, Seq(
      PromProto.LabelMatcher(2, "__name__", "^evt_.*$")))
    val full = withServer(src) { (srv, _) => srv.query(q).map(_.samples.length).sum }
    assert(full > 10)
    withServer(src, maxResponseRows = full + full / 2) { (_, port) =>
      // three identical queries: #1 full, #2 truncated to the remaining
      // half-budget, #3 sees a zero limit → empty
      val req = PromProto.encodeReadRequest(Seq(q, q, q))
      val (code, body) = post(port, "/api/v1/read", Snappy.compress(req))
      assert(code === 200)
      val results = PromProto.decodeReadResponse(Snappy.uncompress(body))
      assert(results.length === 3)
      val counts = results.map(_.map(_.samples.length).sum)
      assert(counts(0) === full)
      assert(counts(1) === full / 2)
      assert(counts(2) === 0)
    }
  }

  test("ingest leaves no temp litter: hidden in-flight names, temp dirs removed") {
    val src = Files.createTempDirectory("graft_transport_src").toString
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def otlpTempDirs(): Set[String] = tmpRoot.listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("otlp_json"))
      .map(_.getName).toSet
    val before = otlpTempDirs()
    withServer(src) { (_, port) =>
      val json =
        """{"resourceMetrics":[{"resource":{"attributes":[]},
          |"scopeMetrics":[{"metrics":[{"name":"m_t","gauge":{
          |"dataPoints":[{"timeUnixNano":"1706054399000000000","asDouble":1.0}]
          |}}]}]}]}""".stripMargin.replaceAll("\n", "")
      for (_ <- 1 to 3) {
        val (code, _) = post(port, "/ingest", json.getBytes("UTF-8"),
          contentType = "application/json")
        assert(code === 200)
      }
      // the decode-side temp dirs are deleted per request
      assert(otlpTempDirs() === before)
      // the source dir holds only completed (visible) uploads — any
      // in-flight temp would be dot-prefixed, invisible to the stream source
      val names = new java.io.File(src).listFiles.map(_.getName).toSeq
      assert(names.count(_.endsWith(".parquet")) === 3)
      assert(names.forall(n => n.startsWith(".") || n.endsWith(".parquet")))
    }
  }

  test("query execution budget: a slow read is cancelled with 503, session stays healthy") {
    val src = Files.createTempDirectory("graft_transport_src").toString
    val req = Snappy.compress(PromProto.encodeReadRequest(Seq(
      PromProto.Query(0L, 0L, Seq(
        PromProto.LabelMatcher(2, "__name__", "^evt_.*$"))))))
    // 1 ms budget: the watchdog fires during planning/execution of any real
    // read (cancelJobGroupAndFutureJobs dooms later-submitted jobs too, so
    // firing mid-planning still cancels) → 503, the writer.go:50-52 analog
    val strict = new RemoteReadServer(spark, store, src, "ws-1", () => NowA,
      queryTimeoutMs = 1L)
    val port = strict.start()
    try {
      val (code, msg) = post(port, "/api/v1/read", req)
      assert(code === 503, s"expected 503, got $code: ${new String(msg, "UTF-8")}")
      assert(new String(msg, "UTF-8").contains("execution budget"))
    } finally strict.stop()
    // the cancellation is job-group-scoped: the SAME session immediately
    // serves the SAME query under the default budget
    withServer(src) { (_, port2) =>
      val (code2, body2) = post(port2, "/api/v1/read", req)
      assert(code2 === 200)
      assert(PromProto.decodeReadResponse(Snappy.uncompress(body2)).head.nonEmpty)
    }
  }

  /** The exception a scan throws when a file listed at planning time is
    * gone when read — what a compaction racing a remote read produces. */
  private def fileNotExist(): Exception = {
    val dir = Files.createTempDirectory("graft_race").toString
    spark.range(3).toDF("v").coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
      .foreach(_.delete())
    intercept[Exception](df.collect())
  }

  test("a read racing a storage swap is a 503, not a bad request") {
    import RemoteReadServer.{errorStatus, isStorageRace}
    val scan = fileNotExist()
    assert(isStorageRace(scan), scan)
    assert(errorStatus(scan) === 503)
    val listing = intercept[Exception](
      spark.read.parquet(Files.createTempDirectory("graft_race").toString + "/gone"))
    assert(isStorageRace(listing), listing)
    assert(errorStatus(listing) === 503)
    // schema inference failing is no storage race: no tier read infers a
    // schema, so a tier directory with no committed file answers empty
    // (the test below)
    val unwritten = intercept[Exception](
      spark.read.parquet(Files.createTempDirectory("graft_race").toString))
    assert(!isStorageRace(unwritten), unwritten)
    assert(errorStatus(unwritten) === 400)
    // the other arms keep their statuses
    assert(errorStatus(new IllegalArgumentException("unknown matcher type 9")) === 400)
    // a bad regex matcher echoes the request in its message: still the
    // request's fault
    assert(errorStatus(new java.util.regex.PatternSyntaxException(
      "Unclosed group", "(PATH_NOT_FOUND", 15)) === 400)
    assert(errorStatus(new RemoteReadServer.QueryTimeout(1L)) === 503)
    assert(errorStatus(new RemoteReadServer.BodyTooLarge(1)) === 413)

    // over HTTP: a tier that was never written answers one empty result,
    // as the reference's pre-created empty table does — no race, no retry
    val src = Files.createTempDirectory("graft_transport_src").toString
    val empty = new RemoteReadServer(spark,
      Files.createTempDirectory("graft_empty_store").toString, src, "ws-1", NowA)
    val port = empty.start()
    try {
      val (code, body) = post(port, "/api/v1/read", Snappy.compress(
        PromProto.encodeReadRequest(Seq(PromProto.Query(NowA - 60000L, NowA,
          Seq(PromProto.LabelMatcher(0, "__name__", "evt_a")))))))
      assert(code === 200, new String(body, "UTF-8"))
      assert(PromProto.decodeReadResponse(Snappy.uncompress(body)) === Seq(Nil))
    } finally empty.stop()
  }

  test("a recorded tier whose first write has not committed a file answers empty") {
    // the raw tier during a fresh app's first write: its record written, its
    // directory holding nothing but the in-flight _temporary
    val b = Files.createTempDirectory("graft_transport_first").toString
    MetricsSink.write(
      EventsMetrics.withHistogram(EventsMetrics.fromEvents(spark, Sf)).limit(0),
      b, MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite")
    val tierDir = new java.io.File(b, MetricsSink.Raw.name)
    tierDir.listFiles.filter(_.isFile).foreach(_.delete())
    new java.io.File(tierDir, "_temporary/0").mkdirs()
    assert(tierDir.list.toSeq === Seq("_temporary"))
    val q = PromProto.Query(NowA - 60000L, NowA,
      Seq(PromProto.LabelMatcher(0, "__name__", "evt_a")))
    assert(Promread.selectTable(q.startMs, q.endMs, NowA) === MetricsSink.Raw.name)
    val src = Files.createTempDirectory("graft_transport_src").toString
    val srv = new RemoteReadServer(spark, b, src, "ws-1", NowA)
    val port = srv.start()
    try {
      val (code, body) = post(port, "/api/v1/read",
        Snappy.compress(PromProto.encodeReadRequest(Seq(q))))
      assert(code === 200, new String(body, "UTF-8"))
      assert(PromProto.decodeReadResponse(Snappy.uncompress(body)) === Seq(Nil))
    } finally srv.stop()
  }

  test("a windowed read never opens a date partition outside its window") {
    // raw tier: an old valid partition, a corrupt one, and the window's own
    // partition
    val b = Files.createTempDirectory("graft_transport_prune").toString
    val day = 24 * 3600 * 1000L
    val rows = EventsMetrics.withAttributes(EventsMetrics.fromEvents(spark, Sf))
      .limit(4)
      .select(lit("ws-p").as("workspace_id"), col("metric"), col("attributes"),
        col("value"), lit(null).cast("long").as("count"),
        lit(null).cast("double").as("sum"))
    Seq(NowA - 60 * day, NowA - 10 * 60000L).foreach { ts =>
      MetricsSink.write(rows.withColumn("ts_ms", lit(ts)), b, MetricsSink.Raw,
        col("ts_ms"), keys)
    }
    val corrupt = new java.io.File(b,
      s"${MetricsSink.Raw.name}/${MetricsSink.PartitionCol}=2023-12-01/part-0.parquet")
    corrupt.getParentFile.mkdirs()
    Files.write(corrupt.toPath, "not a parquet file".getBytes("UTF-8"))
    val src = Files.createTempDirectory("graft_transport_src").toString
    val srv = new RemoteReadServer(spark, b, src, "ws-p", NowA)
    val windowed = PromProto.Query(NowA - 30 * 60000L, NowA,
      Seq(PromProto.LabelMatcher(2, "__name__", ".*")))
    assert(Promread.selectTable(windowed.startMs, windowed.endMs, NowA) ===
      MetricsSink.Raw.name)
    assert(srv.query(windowed).flatMap(_.samples).map(_._2).distinct ===
      Seq(NowA - 10 * 60000L))
    // positive control: an unbounded read does open the corrupt file
    intercept[Exception](srv.query(windowed.copy(startMs = 0L, endMs = 0L)))
  }

  test("a storage race is retried once, from scratch") {
    import RemoteReadServer.retryStorageRace
    val race = fileNotExist()
    var calls = 0
    assert(retryStorageRace { calls += 1; if (calls == 1) throw race; "ok" } === "ok")
    assert(calls === 2)
    // a race that persists fails after the one retry
    calls = 0
    assert(intercept[Exception](retryStorageRace[String] { calls += 1; throw race }) eq race)
    assert(calls === 2)
    // any other failure is not retried
    calls = 0
    intercept[IllegalArgumentException](retryStorageRace[String] {
      calls += 1; throw new IllegalArgumentException("bad matcher")
    })
    assert(calls === 1)
  }

  test("ingest endpoint lands an export batch atomically in the source dir") {
    val src = Files.createTempDirectory("graft_transport_src").toString
    withServer(src) { (_, port) =>
      import scala.jdk.CollectionConverters._
      val dp = org.apache.spark.sql.Row("m_up", "sum", NowA - 1000L, 1, true,
        null, 42.0, null, null, null, null, Map("k" -> "v"), null)
      val export = spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(Map("service.name" -> "svc"), Seq(dp))).asJava,
        graft.streaming.OtlpSource.exportSchema)
      val tmp = Files.createTempDirectory("up").toString
      export.coalesce(1).write.mode("overwrite").parquet(tmp)
      val bytes = java.nio.file.Files.readAllBytes(
        new java.io.File(tmp).listFiles
          .filter(_.getName.endsWith(".parquet")).head.toPath)
      val (code, name) = post(port, "/ingest", bytes)
      assert(code === 200)
      val landed = new java.io.File(src, new String(name, "UTF-8"))
      assert(landed.exists)
      val back = spark.read.schema(graft.streaming.OtlpSource.exportSchema)
        .parquet(landed.getPath)
      assert(back.count() === 1)
      assert(back.select(explode(col("datapoints")).as("dp"))
        .select(col("dp.metric"), col("dp.value_double")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq === Seq(("m_up", 42.0)))
    }
  }
}
