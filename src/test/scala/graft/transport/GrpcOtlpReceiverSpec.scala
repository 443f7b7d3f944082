package graft.transport

import java.nio.file.Files

import graft.SparkSpec
import graft.transport.OtlpProto.{Datapoint, Exemplar, ResourceRow}
import graft.transport.GrpcOtlpReceiver.{grpcFrame, ExportPath}

/** The gRPC OTLP receiver over a real loopback HTTP/2 connection
  * (otlp.go:42-90): wire codec round-trips, proto-decode ≡ JSON-decode
  * parity on an equivalent batch, the unary Export call end-to-end into the
  * landing zone, and every error arm of the reference's contract. */
class GrpcOtlpReceiverSpec extends SparkSpec {

  private val T0 = 1704067200123L // 2024-01-01T00:00:00.123Z, ms

  private def fixture: Seq[ResourceRow] = Seq(
    ResourceRow(
      Map("service.name" -> "checkout", "int.attr" -> "42",
        "dbl.attr" -> "1.5", "flag" -> "true"),
      Seq(
        Datapoint("req_gauge", "gauge", T0, 0, isMonotonic = false,
          valueInt = Some(7L), valueDouble = None, count = None, sum = None,
          bounds = None, bucketCounts = None, dpAttrs = Map("host" -> "a"),
          exemplars = None),
        Datapoint("req_total", "sum", T0 + 1000, 2, isMonotonic = true,
          valueInt = None, valueDouble = Some(12.5), count = None, sum = None,
          bounds = None, bucketCounts = None, dpAttrs = Map("host" -> "a"),
          exemplars = Some(Seq(Exemplar(
            Some("0102030405060708"), Some("0102030405060708090a0b0c0d0e0f10"),
            3.25, T0 + 877, Map("k" -> "v"))))),
        Datapoint("lat_hist", "histogram", T0 + 2000, 1, isMonotonic = false,
          valueInt = None, valueDouble = None, count = Some(10L), sum = Some(55.5),
          bounds = Some(Seq(0.1, 1.0)), bucketCounts = Some(Seq(4L, 3L, 3L)),
          dpAttrs = Map.empty, exemplars = None),
        Datapoint("exp_hist", "exponential_histogram", T0 + 3000, 2,
          isMonotonic = false, valueInt = None, valueDouble = None,
          count = Some(6L), sum = Some(9.75), bounds = None, bucketCounts = None,
          dpAttrs = Map("h" -> "b"), exemplars = None),
        Datapoint("summ", "summary", T0 + 4000, 0, isMonotonic = false,
          valueInt = None, valueDouble = None, count = Some(3L), sum = Some(4.5),
          bounds = None, bucketCounts = None, dpAttrs = Map.empty,
          exemplars = None))),
    // +Inf-only histogram: one bucket, no bounds — and an empty resource
    ResourceRow(Map.empty, Seq(
      Datapoint("plus_inf_only", "histogram", T0 + 5000, 2,
        isMonotonic = false, valueInt = None, valueDouble = None,
        count = Some(2L), sum = None, bounds = None,
        bucketCounts = Some(Seq(2L)), dpAttrs = Map.empty, exemplars = None))))

  /** The same logical batch in OTLP's proto3-JSON wire form (what
    * [[graft.ingest.OtlpJson]] pins). */
  private def fixtureJson: String = {
    def ns(ms: Long) = s""""${ms}000000""""
    s"""{"resourceMetrics":[
      {"resource":{"attributes":[
         {"key":"service.name","value":{"stringValue":"checkout"}},
         {"key":"int.attr","value":{"intValue":"42"}},
         {"key":"dbl.attr","value":{"doubleValue":1.5}},
         {"key":"flag","value":{"boolValue":true}}]},
       "scopeMetrics":[{"metrics":[
         {"name":"req_gauge","gauge":{"dataPoints":[
           {"timeUnixNano":${ns(T0)},"asInt":"7",
            "attributes":[{"key":"host","value":{"stringValue":"a"}}]}]}},
         {"name":"req_total","sum":{"aggregationTemporality":2,"isMonotonic":true,
           "dataPoints":[{"timeUnixNano":${ns(T0 + 1000)},"asDouble":12.5,
            "attributes":[{"key":"host","value":{"stringValue":"a"}}],
            "exemplars":[{"timeUnixNano":${ns(T0 + 877)},"asDouble":3.25,
              "spanId":"0102030405060708",
              "traceId":"0102030405060708090a0b0c0d0e0f10",
              "filteredAttributes":[{"key":"k","value":{"stringValue":"v"}}]}]}]}},
         {"name":"lat_hist","histogram":{"aggregationTemporality":1,
           "dataPoints":[{"timeUnixNano":${ns(T0 + 2000)},"count":"10","sum":55.5,
            "bucketCounts":["4","3","3"],"explicitBounds":[0.1,1.0]}]}},
         {"name":"exp_hist","exponentialHistogram":{"aggregationTemporality":2,
           "dataPoints":[{"timeUnixNano":${ns(T0 + 3000)},"count":"6","sum":9.75,
            "attributes":[{"key":"h","value":{"stringValue":"b"}}]}]}},
         {"name":"summ","summary":{"dataPoints":[
           {"timeUnixNano":${ns(T0 + 4000)},"count":"3","sum":4.5}]}}]}]},
      {"scopeMetrics":[{"metrics":[
         {"name":"plus_inf_only","histogram":{"aggregationTemporality":2,
           "dataPoints":[{"timeUnixNano":${ns(T0 + 5000)},"count":"2",
            "bucketCounts":["2"]}]}}]}]}]}"""
  }

  private def withReceiver[T](maxMessageBytes: Int = GrpcOtlpReceiver.DefaultMaxMessageBytes)(
      body: (String, Int) => T): T = {
    val sourceDir = Files.createTempDirectory("grpc_src").toString
    val srv = new GrpcOtlpReceiver(spark, sourceDir, maxMessageBytes)
    val port = srv.start()
    try body(sourceDir, port) finally srv.stop()
  }

  private def landedFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.getName.endsWith(".parquet"))

  /** The landing leaves nothing but revealed files behind: no dot-prefixed
    * temp and no Hadoop `.crc` sidecar. */
  private def assertOnlyLanded(dir: String, n: Int): Unit = {
    val names = new java.io.File(dir).list().toSeq
    assert(names.size === n, names)
    assert(names.forall(f => !f.startsWith(".") && f.endsWith(".parquet")), names)
  }

  /** [[fixture]] (null option arms, empty attribute maps, histogram arrays,
    * an exemplar with timestamp and span/trace ids) plus exemplars without
    * ids or attributes and a resource with no datapoints. */
  private def landingFixture: Seq[ResourceRow] = fixture ++ Seq(
    ResourceRow(Map("service.name" -> "edge"), Seq(
      Datapoint("bare_total", "sum", T0 + 6000, 1, isMonotonic = false,
        valueInt = Some(-3L), valueDouble = None, count = None, sum = None,
        bounds = None, bucketCounts = None, dpAttrs = Map.empty,
        exemplars = Some(Seq(
          Exemplar(None, None, 0.0, T0 + 5999, Map.empty),
          Exemplar(Some("a1a2a3a4a5a6a7a8"), None, -1.5, T0 + 5998, Map("x" -> ""))))))),
    ResourceRow(Map("service.name" -> "idle"), Seq.empty))

  test("protobuf codec round-trips the export model") {
    val decoded = OtlpProto.decodeExportRequest(
      OtlpProto.encodeExportRequest(fixture))
    assert(decoded === fixture)
  }

  test("unknown fields and unpacked repeated encodings decode fine") {
    // top-level unknown field appended after the known content
    val w = new ProtoWriter
    w.out.write(OtlpProto.encodeExportRequest(fixture))
    w.bytes(9, Array[Byte](1, 2, 3))
    w.int64(10, 77)
    assert(OtlpProto.decodeExportRequest(w.result()) === fixture)

    // a HistogramDataPoint with bounds/counts one-per-key (wire type 1) —
    // proto2-era encoding, still legal — must equal the packed form
    def histDp(packed: Boolean): Array[Byte] = {
      val dp = new ProtoWriter
      dp.fixed64(3, (T0 + 2000) * 1000000L)
      dp.fixed64(4, 10L)
      if (packed) {
        val counts = new ProtoWriter
        Seq(4L, 3L, 3L).foreach { c =>
          var i = 0
          while (i < 8) { counts.out.write(((c >>> (8 * i)) & 0xff).toInt); i += 1 }
        }
        dp.bytes(6, counts.result())
        val bounds = new ProtoWriter
        Seq(0.1, 1.0).foreach { b =>
          val v = java.lang.Double.doubleToLongBits(b)
          var i = 0
          while (i < 8) { bounds.out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
        }
        dp.bytes(7, bounds.result())
      } else {
        Seq(4L, 3L, 3L).foreach(c => dp.fixed64(6, c))
        Seq(0.1, 1.0).foreach(b =>
          dp.fixed64(7, java.lang.Double.doubleToLongBits(b)))
      }
      val hist = new ProtoWriter
      hist.bytes(1, dp.result())
      hist.int64(2, 1)
      val m = new ProtoWriter
      m.string(1, "lat_hist")
      m.bytes(9, hist.result())
      val sm = new ProtoWriter
      sm.bytes(2, m.result())
      val rm = new ProtoWriter
      rm.bytes(2, sm.result())
      val req = new ProtoWriter
      req.bytes(1, rm.result())
      req.result()
    }
    val a = OtlpProto.decodeExportRequest(histDp(packed = true))
    val b = OtlpProto.decodeExportRequest(histDp(packed = false))
    assert(a === b)
    assert(a.head.datapoints.head.bounds === Some(Seq(0.1, 1.0)))
    assert(a.head.datapoints.head.bucketCounts === Some(Seq(4L, 3L, 3L)))
  }

  test("proto decode matches the JSON decode on an equivalent batch") {
    import org.apache.spark.sql.Encoders
    val fromJson = graft.ingest.OtlpJson.decode(
      spark.createDataset(Seq(fixtureJson.replaceAll("\n\\s*", "")))(
        Encoders.STRING).toDF("value")).collect().toSeq
    val fromProto = OtlpProto.toDataFrame(spark,
      OtlpProto.decodeExportRequest(OtlpProto.encodeExportRequest(fixture)))
      .collect().toSeq
    assert(fromProto.map(_.toString) === fromJson.map(_.toString))
  }

  test("unary Export lands the batch and acks with grpc-status 0") {
    withReceiver() { (sourceDir, port) =>
      val resp = GrpcTestClient.call(port, ExportPath,
        grpcFrame(OtlpProto.encodeExportRequest(fixture)))
      assert(resp.httpStatus === 200)
      assert(resp.grpcStatus === 0)
      // empty ExportMetricsServiceResponse: one 5-byte zero frame
      assert(resp.body.toSeq === grpcFrame(OtlpProto.emptyResponse).toSeq)

      assertOnlyLanded(sourceDir, 1)
      val landed = spark.read
        .schema(graft.streaming.OtlpSource.exportSchema)
        .parquet(sourceDir)
      val expected = OtlpProto.toDataFrame(spark, fixture)
      assert(landed.collect().map(_.toString).sorted.toSeq ===
        expected.collect().map(_.toString).sorted.toSeq)

      // and the landed frame flows through the shared ingest chain
      val flat = graft.ingest.OtlpFlatten.convertDatapoints(
        graft.streaming.OtlpSource.explodeExport(landed))
      assert(flat.count() === 6)
    }
  }

  test("an Export lands and acks without starting a Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try withReceiver() { (sourceDir, port) =>
      val resp = GrpcTestClient.call(port, ExportPath,
        grpcFrame(OtlpProto.encodeExportRequest(fixture)))
      assert(resp.grpcStatus === 0)
      assertOnlyLanded(sourceDir, 1)
      // the listener bus delivers in order: every job started before this
      // marked one is seen before it
      sc.setJobDescription("landing-marker")
      try spark.range(1).collect() finally sc.setJobDescription(null)
      def next() = started.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      val before = Seq.newBuilder[String]
      var d = next()
      while (d != null && d != "landing-marker") { before += d; d = next() }
      assert(d === "landing-marker", "the listener never saw the marker job")
      assert(before.result().isEmpty, s"jobs started during the Export: ${before.result()}")
    } finally sc.removeSparkListener(listener)
  }

  test("the landed file equals the DataFrame write of the same rows") {
    withReceiver() { (sourceDir, port) =>
      val resp = GrpcTestClient.call(port, ExportPath,
        grpcFrame(OtlpProto.encodeExportRequest(landingFixture)))
      assert(resp.grpcStatus === 0)
      assertOnlyLanded(sourceDir, 1)
      val file = landedFiles(sourceDir).head.getPath
      // the file carries the export schema itself, not just when asked for it
      assert(spark.read.parquet(file).schema ===
        graft.streaming.OtlpSource.exportSchema)
      val landed = spark.read.schema(graft.streaming.OtlpSource.exportSchema)
        .parquet(file).collect().toSeq
      val expected = OtlpProto.toDataFrame(spark,
        OtlpProto.decodeExportRequest(OtlpProto.encodeExportRequest(landingFixture)))
        .collect().toSeq
      assert(landed.size === landingFixture.size)
      assert(landed.sortBy(_.toString) === expected.sortBy(_.toString))
    }
  }

  test("client trailers (second HEADERS, END_STREAM) complete the request, not reset it") {
    withReceiver() { (sourceDir, port) =>
      // HTTP/2 allows request trailers: HEADERS → DATA… → HEADERS(end).
      // The old onHeaders unconditionally replaced the stream state, so the
      // trailers frame discarded the buffered body and re-opened a stream
      // the server then never answered (ADVICE r11) — now it must be
      // treated as end-of-body and processed normally.
      val resp = GrpcTestClient.call(port, ExportPath,
        grpcFrame(OtlpProto.encodeExportRequest(fixture)),
        endWithTrailers = true)
      assert(resp.httpStatus === 200)
      assert(resp.grpcStatus === 0)
      assert(landedFiles(sourceDir).size === 1)
    }
  }

  test("trailers arriving after an early failure are drained, connection stays usable") {
    // oversize body sent with trailers: the stream fails RESOURCE_EXHAUSTED
    // mid-body (state removed from the map), then the client's in-flight
    // trailing HEADERS arrives for an untracked stream — it must be drained
    // (no fabricated new request, no ghost map entry), and the SAME
    // connection must serve the next call normally.
    withReceiver(maxMessageBytes = 64 * 1024) { (sourceDir, port) =>
      val conn = GrpcTestClient.connect(port)
      try {
        val big = new Array[Byte](512 * 1024)
        val r1 = conn.call(ExportPath, big, endWithTrailers = true)
        assert(r1.grpcStatus === GrpcOtlpReceiver.StatusResourceExhausted)
        val r2 = conn.call(ExportPath,
          grpcFrame(OtlpProto.encodeExportRequest(fixture)))
        assert(r2.grpcStatus === 0)
        assert(landedFiles(sourceDir).size === 1)
      } finally conn.close()
    }
  }

  test("method-less first HEADERS: 400+RST on a new stream, drained on an answered one") {
    withReceiver() { (sourceDir, port) =>
      val conn = GrpcTestClient.connect(port)
      try {
        // arm 1 — a genuinely NEW stream whose first HEADERS has no :method
        // and no END_STREAM (a malformed request, not trailers): the server
        // must answer loudly (400 and/or RST), never hang the client
        val bad = new io.netty.handler.codec.http2.DefaultHttp2Headers()
          .scheme("http").path(ExportPath).authority("127.0.0.1")
        val (status, reset) = conn.rawHeaders(bad, endStream = false)
        assert(status === 400 || reset,
          s"malformed new stream got neither 400 nor RST (status=$status)")
        // arm 1b — the same malformed frame WITH END_STREAM: the remote
        // side is closed so no RST is owed, but the stream must still be
        // answered 400, never silently dropped (r13 review finding)
        val badClosed = new io.netty.handler.codec.http2.DefaultHttp2Headers()
          .scheme("http").path(ExportPath).authority("127.0.0.1")
        val (status2, _) = conn.rawHeaders(badClosed, endStream = true)
        assert(status2 === 400,
          s"malformed new stream with END_STREAM not answered 400 (status=$status2)")
        // the connection survives both arms and serves a real call
        val ok = conn.call(ExportPath,
          grpcFrame(OtlpProto.encodeExportRequest(fixture)))
        assert(ok.grpcStatus === 0)
        assert(landedFiles(sourceDir).size === 1)
      } finally conn.close()
    }
  }

  test("late method-less HEADERS on an answered-and-dropped stream are drained") {
    // netty's conforming client encoder cannot send a second HEADERS on a
    // stream the server already answered (half-closed bookkeeping), so this
    // protocol-violation arm speaks raw h2c. Sequence: stream 1 opens with a
    // non-gRPC content type (server answers 415 + END_STREAM and drops the
    // state immediately), then a method-less HEADERS arrives late on that
    // same stream — it sits AT the watermark with no map entry, so the
    // server must route it to the drain (no second response, no fabricated
    // state), and the connection must keep serving new streams.
    withReceiver() { (_, port) =>
      val raw = new GrpcTestClient.RawH2Client(port)
      try {
        raw.handshake()
        def awaitHeaders(sid: Int): Unit = {
          var seen = false
          while (!seen) {
            val (tpe, _, id, _) = raw.readFrame()
            if (tpe == 0x1 && id == sid) seen = true
          }
        }
        raw.headers(1, Seq(
          ":method" -> "POST", ":scheme" -> "http", ":path" -> ExportPath,
          ":authority" -> "127.0.0.1", "content-type" -> "text/plain"),
          endStream = false)
        awaitHeaders(1) // the 415 — state is dropped server-side
        // the late frame: no pseudo-headers at all, stream id at the
        // watermark → drain branch
        raw.headers(1, Seq("x-late" -> "1"), endStream = true)
        // liveness probe: a NEW stream on the same connection still gets
        // answered — proves the late frame neither crashed the handler nor
        // produced a response that corrupted connection state
        raw.headers(3, Seq(
          ":method" -> "POST", ":scheme" -> "http", ":path" -> ExportPath,
          ":authority" -> "127.0.0.1", "content-type" -> "text/plain"),
          endStream = false)
        awaitHeaders(3)
      } finally raw.close()
    }
  }

  test("percent-encoding escapes UTF-8 bytes, not UTF-16 code units") {
    import GrpcOtlpReceiver.percentEncode
    // printable ASCII passes through; '%' always escapes
    assert(percentEncode("plain 100% ok") === "plain 100%25 ok")
    // chars above 0xFF must emit one %XX pair PER UTF-8 BYTE (the old code
    // unit form emitted the malformed "%15F" for 'ş'); round-trip through a
    // standard percent-decoder proves well-formedness
    val s = "méthode-ş-→"
    val enc = percentEncode(s)
    assert(enc.matches("[\\x20-\\x7e]*"), s"non-ASCII survived encoding: $enc")
    val dec = java.net.URLDecoder.decode(
      enc.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8)
    assert(dec === s)
  }

  test("an export with zero datapoints acks without landing anything") {
    withReceiver() { (sourceDir, port) =>
      val resp = GrpcTestClient.call(port, ExportPath,
        grpcFrame(OtlpProto.encodeExportRequest(
          Seq(ResourceRow(Map("service.name" -> "idle"), Seq.empty)))))
      assert(resp.grpcStatus === 0)
      assert(landedFiles(sourceDir).isEmpty)
    }
  }

  test("a multi-megabyte export streams through flow control windows") {
    withReceiver() { (sourceDir, port) =>
      val big = "x" * (1024 * 1024)
      val rows = Seq(ResourceRow(Map("service.name" -> "bulk"),
        (0 until 3).map(i =>
          Datapoint(s"m$i", "gauge", T0 + i, 0, isMonotonic = false,
            valueInt = None, valueDouble = Some(i.toDouble), count = None,
            sum = None, bounds = None, bucketCounts = None,
            dpAttrs = Map("payload" -> (big + i)), exemplars = None))))
      val body = grpcFrame(OtlpProto.encodeExportRequest(rows))
      assert(body.length > 3 * 1024 * 1024) // >48 DATA frames at 64 KiB window
      val resp = GrpcTestClient.call(port, ExportPath, body)
      assert(resp.grpcStatus === 0)
      val landed = spark.read
        .schema(graft.streaming.OtlpSource.exportSchema)
        .parquet(sourceDir)
      assert(landed.selectExpr("explode(datapoints) as dp")
        .selectExpr("length(dp.dp_attrs['payload'])")
        .collect().map(_.getInt(0)).toSeq === Seq.fill(3)(1024 * 1024 + 1))
    }
  }

  test("concurrent exports — multiplexed streams and parallel connections — land exactly once") {
    withReceiver() { (sourceDir, port) =>
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      // payloads large enough that DATA frames from concurrent streams
      // interleave on the shared connection — the per-stream state in the
      // server's ConnectionHandler is what's under test
      val payload = "y" * (256 * 1024)
      def reqFor(tag: String): Array[Byte] =
        grpcFrame(OtlpProto.encodeExportRequest(Seq(
          ResourceRow(Map("service.name" -> tag), Seq(
            Datapoint(s"m_$tag", "gauge", T0, 0, isMonotonic = false,
              valueInt = None, valueDouble = Some(1.0), count = None,
              sum = None, bounds = None, bucketCounts = None,
              dpAttrs = Map("p" -> payload), exemplars = None))))))
      val shared = GrpcTestClient.connect(port)
      try {
        val calls =
          (0 until 4).map(i => Future(shared.call(ExportPath, reqFor(s"mux$i")))) ++
          (0 until 4).map(i => Future(
            GrpcTestClient.call(port, ExportPath, reqFor(s"conn$i"))))
        val all = Await.result(Future.sequence(calls), 120.seconds)
        assert(all.map(_.grpcStatus) === Seq.fill(8)(0))
      } finally shared.close()
      assertOnlyLanded(sourceDir, 8)
      val landed = spark.read
        .schema(graft.streaming.OtlpSource.exportSchema)
        .parquet(sourceDir)
      val metrics = landed.selectExpr("explode(datapoints) as dp")
        .selectExpr("dp.metric").collect().map(_.getString(0)).sorted.toSeq
      assert(metrics ===
        ((0 until 4).map(i => s"m_conn$i") ++ (0 until 4).map(i => s"m_mux$i")))
    }
  }

  test("error arms: unknown method, truncated frame, oversize, compression") {
    withReceiver(maxMessageBytes = 1024) { (sourceDir, port) =>
      // unknown method → UNIMPLEMENTED(12), the grpc routing contract
      val unk = GrpcTestClient.call(port, "/no.such.Service/Call",
        grpcFrame(Array.emptyByteArray))
      assert(unk.grpcStatus === 12)

      // truncated frame (declared length > body) → INVALID_ARGUMENT(3)
      val bad = GrpcTestClient.call(port, ExportPath,
        Array[Byte](0, 0, 0, 0, 99, 1, 2))
      assert(bad.grpcStatus === 3)

      // body over the message cap → RESOURCE_EXHAUSTED(8), failed mid-stream
      val over = GrpcTestClient.call(port, ExportPath,
        grpcFrame(new Array[Byte](10 * 1024)))
      assert(over.grpcStatus === 8)

      // compressed flag without a negotiated codec → INTERNAL(13), grpc-go's
      // contract for this corruption
      val comp = GrpcTestClient.call(port, ExportPath,
        Array[Byte](1, 0, 0, 0, 0))
      assert(comp.grpcStatus === 13)

      // grpc-encoding announcing a codec we don't speak → UNIMPLEMENTED(12)
      // + the accept hint (gzip IS spoken — see the gzip test)
      val br = GrpcTestClient.call(port, ExportPath,
        grpcFrame(Array.emptyByteArray),
        extraHeaders = Seq("grpc-encoding" -> "br"))
      assert(br.grpcStatus === 12)
      assert(br.trailers.get("grpc-accept-encoding").contains("identity,gzip"))

      // a non-gRPC content type is rejected at the HTTP layer: 415, no
      // grpc-status
      val notGrpc = GrpcTestClient.call(port, ExportPath,
        "plain text".getBytes("UTF-8"), contentType = "text/plain")
      assert(notGrpc.httpStatus === 415)
      assert(notGrpc.grpcStatus === -1)

      assert(landedFiles(sourceDir).isEmpty)
    }
  }

  test("gzip-encoded exports decode, land, and stay under the inflated cap") {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close()
      bos.toByteArray
    }
    def gzFrame(msg: Array[Byte]): Array[Byte] = {
      val z = gz(msg)
      val out = grpcFrame(z)
      out(0) = 1 // compressed flag
      out
    }
    withReceiver() { (sourceDir, port) =>
      val resp = GrpcTestClient.call(port, ExportPath,
        gzFrame(OtlpProto.encodeExportRequest(fixture)),
        extraHeaders = Seq("grpc-encoding" -> "gzip"))
      assert(resp.grpcStatus === 0)
      val landed = spark.read
        .schema(graft.streaming.OtlpSource.exportSchema)
        .parquet(sourceDir)
      assert(landed.selectExpr("explode(datapoints)").count() === 6)

      // corrupt gzip stream → INTERNAL(13)
      val bad = grpcFrame("not gzip at all".getBytes("UTF-8"))
      bad(0) = 1
      val corrupt = GrpcTestClient.call(port, ExportPath, bad,
        extraHeaders = Seq("grpc-encoding" -> "gzip"))
      assert(corrupt.grpcStatus === 13)
    }
    // zip bomb: a tiny frame inflating past the cap fails on the
    // DECOMPRESSED size — RESOURCE_EXHAUSTED, not an OOM
    withReceiver(maxMessageBytes = 1024) { (sourceDir, port) =>
      val bomb = GrpcTestClient.call(port, ExportPath,
        gzFrame(new Array[Byte](1024 * 1024)),
        extraHeaders = Seq("grpc-encoding" -> "gzip"))
      assert(bomb.grpcStatus === 8)
      assert(landedFiles(sourceDir).isEmpty)
    }
  }

  test("malformed protobuf inside a well-formed frame → INVALID_ARGUMENT") {
    withReceiver() { (sourceDir, port) =>
      // field 1, wire 2, declared length far past the end of the message
      val junk = Array[Byte](0x0a, 0x7f, 1, 2, 3)
      val resp = GrpcTestClient.call(port, ExportPath, grpcFrame(junk))
      assert(resp.grpcStatus === 3)
      assert(landedFiles(sourceDir).isEmpty)
    }
  }
}
