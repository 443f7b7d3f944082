package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.xerial.snappy.Snappy

import graft.{GraftApp, GraftConfig}
import graft.sink.MetricsSink
import graft.streaming.LoadGen
import graft.transport.{GrpcOtlpReceiver, GrpcTestClient, OtlpProto, PromProto, RemoteReadServer}

/** ingest_otlp: real gRPC `Export`s (LoadGen's 4-tier latency mix plus one
  * marker point each) to an in-process GrpcOtlpReceiver, landed into
  * GraftApp's stream (cascade refresh and compaction on), with a
  * RemoteReadServer beside it. `parallelism` lanes each own a disjoint set
  * of series (resource attribute `lane`) and send in order, so cumulative
  * counters stay convertible. Phase 1 is open loop at a fixed rate
  * (latency from when each Export was due; freshness from each marker's
  * creation stamp to the first remote read returning it); phase 2 is closed
  * loop with one Export in flight per lane (accepted points/s). */
object IngestOtlp {
  val Workspace = "perfbench"
  val Marker = "perfbench_marker"
  /** Under half the capacity phase 2 measures (context field
    * `closed_loop_exports_per_s`; perfbench/README.md gives the figures it
    * was sized from), and over 80% of 10 s it gives the 40 samples a p75
    * tail needs. */
  val OpenLoopPerS = 5.0
  /** Share of --seconds given to the open-loop phase. */
  val OpenShare = 0.8
  val TicksPerExport = 20
  val ExportsPerLane = 200
  val TickMs = 1000L

  def config(root: File): GraftConfig = GraftConfig(
    sourceDir = s"$root/landing", storageDir = s"$root/store",
    checkpointDir = s"$root/ckpt", workspaceId = Workspace, convertToDelta = true,
    flushIntervalMs = 500L, maxFilesPerTrigger = 64, rollupEveryBatches = 10,
    compactMaxFiles = 32)

  private def opt[T](r: Row, i: Int): Option[T] = Option(r.get(i)).map(_.asInstanceOf[T])

  /** One LoadGen export row (wire-shaped) as the OTLP codec's model. */
  private def datapoint(r: Row): OtlpProto.Datapoint = OtlpProto.Datapoint(
    r.getString(0), r.getString(1), r.getLong(2), r.getInt(3), r.getBoolean(4),
    opt[Long](r, 5), opt[Double](r, 6), opt[Long](r, 7), opt[Double](r, 8),
    opt[Seq[Double]](r, 9), opt[Seq[Long]](r, 10), r.getMap[String, String](11).toMap, None)

  /** One lane: its series, its connection, how far it has sent and the
    * points acked. */
  final class Lane(val id: Int, runSeed: Long, endMs: Long, port: Int) {
    val seed: Long = runSeed * 100 + id
    val soak: LoadGen.Soak = LoadGen.generate(ExportsPerLane, TicksPerExport, TickMs, endMs,
      seed = seed)
    val client = GrpcTestClient.connect(port)
    var sent = 0
    var ackedPoints = 0L

    /** The lane's next Export, stamped with a marker created now. */
    def next(exportId: Long): (Array[Byte], Int) = {
      require(sent < ExportsPerLane, s"lane $id ran out of generated exports")
      val created = System.currentTimeMillis()
      val dps = soak.exports(sent).flatMap(_.getSeq[Row](1)).map(datapoint) :+
        OtlpProto.Datapoint(Marker, "gauge", created, 0, false, None, Some(created.toDouble),
          None, None, None, None, Map("marker" -> exportId.toString), None)
      sent += 1
      val body = OtlpProto.encodeExportRequest(Seq(OtlpProto.ResourceRow(
        Map("service.name" -> "soak-svc", "lane" -> id.toString), dps)))
      (GrpcOtlpReceiver.grpcFrame(body), dps.size)
    }
  }

  /** Per-micro-batch numbers from StreamingQueryProgress, for the batches
    * that start while tracing is on. */
  final class Progress extends StreamingQueryListener {
    @volatile var on = false
    val batches = mutable.ArrayBuffer.empty[Map[String, Double]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      if (!on) return
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val state = p.stateOperators.toSeq
      // the file source's offsets are its own log ids, which only advance
      // on batches that find new files
      def logId(off: String) = Option(off).map(o =>
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(o).get("logOffset").asDouble)
        .getOrElse(-1.0)
      batches += Map(
        "log_start" -> logId(p.sources.head.startOffset),
        "log_end" -> logId(p.sources.head.endOffset),
        "batch" -> p.batchId.toDouble,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "trigger" -> d.getOrElse("triggerExecution", 0.0),
        "add_batch" -> d.getOrElse("addBatch", 0.0),
        "latest_offset" -> d.getOrElse("latestOffset", 0.0),
        "state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
        "state_commit" -> state.map(_.commitTimeMs).sum.toDouble)
    }
  }

  /** (source log id, file mtime) of every landed file the stream
    * committed, from the file source's metadata log in the checkpoint. */
  private def sourceLog(cfg: GraftConfig): Seq[(Long, Long)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    Option(new File(cfg.checkpointDir, "sources/0").listFiles).getOrElse(Array.empty[File])
      .filterNot(_.getName.startsWith(".")).toSeq
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.startsWith("{")).toSeq)
      .map(om.readTree).map(n => (n.get("batchId").asLong, n.get("timestamp").asLong))
      .distinct
  }

  def run(o: Opts, spark: SparkSession, res: Result, t0: Long,
      ledger: Option[(Ledger, PlanLedger)], spans: Spans): Unit = {
    val cfg = config(o.root)
    res.context("graft_config") = cfg.toString
    res.context("open_loop_exports_per_s") = OpenLoopPerS
    new File(cfg.sourceDir).mkdirs()
    val progress = new Progress
    spark.streams.addListener(progress)
    val grpc = new GrpcOtlpReceiver(spark, cfg.sourceDir)
    val grpcPort = grpc.start(0)
    val srv = new RemoteReadServer(spark, cfg.storageDir, cfg.sourceDir, Workspace,
      () => System.currentTimeMillis())
    val readPort = srv.start(0)
    val query = GraftApp.start(spark, cfg,
      Trigger.ProcessingTime(cfg.flushIntervalMs, java.util.concurrent.TimeUnit.MILLISECONDS))
    res.context("setup_stream_started_s") = (System.nanoTime() - t0) / 1e9
    val startMs = System.currentTimeMillis()
    val lanes = (0 until o.parallelism).map(i => new Lane(i, o.seed, startMs - 60000L, grpcPort))
    res.context("setup_lanes_ready_s") = (System.nanoTime() - t0) / 1e9
    val reader = new ReadPromread.Client(readPort)
    val markerRead = Snappy.compress(PromProto.encodeReadRequest(Seq(PromProto.Query(
      startMs - 60000L, startMs + 50 * 60000L, Seq(PromProto.LabelMatcher(0, "__name__", Marker))))))
    try {
      val ids = new AtomicLong(0)
      val acked = new ConcurrentHashMap[Long, java.lang.Boolean]()
      val failed = new AtomicLong(0)
      val decodeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val rttMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

      /** One Export on `lane`; returns its latency from `dueNs`. */
      def send(lane: Lane, dueNs: Long, traced: Boolean): Double = {
        val id = ids.getAndIncrement()
        val (framed, points) = lane.next(id)
        if (traced) {
          val d0 = System.nanoTime()
          OtlpProto.decodeExportRequest(framed.drop(GrpcOtlpReceiver.GrpcFrameHeader))
          decodeMs.add((System.nanoTime() - d0) / 1e6)
        }
        val s0 = System.nanoTime()
        val status = try spans("ingest.export", s"e$id") { _ =>
          lane.client.call(GrpcOtlpReceiver.ExportPath, framed).grpcStatus
        }
        catch { case e: Exception => res.fail(s"export $id: ${e.getMessage}"); -2 }
        val end = System.nanoTime()
        if (status == 0) {
          acked.put(id, true); lane.ackedPoints += points
        } else { failed.incrementAndGet(); res.fail(s"export $id returned grpc-status $status") }
        if (traced) rttMs.add((end - s0) / 1e6)
        (end - dueNs) / 1e6
      }

      // freshness probe: remote reads of the marker series, back to back
      val firstSeen = new ConcurrentHashMap[Long, java.lang.Double]()
      val probeErrors = new AtomicLong(0)
      @volatile var probing = true
      val probe = new Thread(() => {
        while (probing) {
          try reader.read(markerRead).headOption.getOrElse(Nil).foreach { ts =>
            val now = System.currentTimeMillis()
            ts.labels.collectFirst { case ("marker", m) => m.toLong }.foreach { id =>
              ts.samples.foreach { case (v, _) => firstSeen.putIfAbsent(id, now - v) }
            }
          } catch { case e: Exception =>
            // a read racing a compaction or cascade swap of the partition it
            // scans fails; the probe is the freshness instrument, so it
            // counts the failure and reads again
            probeErrors.incrementAndGet()
            if (probeErrors.get <= 3) System.err.println(s"[perfbench] marker read failed: ${e.getMessage}")
          }
          Thread.sleep(500)
        }
      }, "perfbench-probe")

      // set-up ends once one Export per lane is readable through the stream
      lanes.foreach(l => send(l, System.nanoTime(), false))
      probe.start()
      val warmIds = (0L until lanes.size).toSet
      val warmBy = System.nanoTime() + 60e9.toLong
      while (!warmIds.forall(firstSeen.containsKey)) {
        require(System.nanoTime() < warmBy, "warm-up Exports never became readable")
        Thread.sleep(50)
      }
      res.setupS = (System.nanoTime() - t0) / 1e9

      // phase 1: open loop; Export k is due at start + k/rate on lane k % lanes
      val n1 = math.max(lanes.size, (o.seconds * OpenShare * OpenLoopPerS).toInt)
      val traceFrom = if (o.trace) n1 / 2 else Int.MaxValue
      val lat = new ConcurrentHashMap[Int, java.lang.Double]()
      val lateness = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val firstId = ids.get
      val w = new Window(res, "open")
      val start = System.nanoTime() + 20000000L
      val traceAt = start + (traceFrom / OpenLoopPerS * 1e9).toLong
      val open = lanes.map { lane =>
        new Thread(() => {
          (lane.id until n1 by lanes.size).foreach { k =>
            val due = start + (k / OpenLoopPerS * 1e9).toLong
            val sleep = due - System.nanoTime()
            if (sleep > 0) java.util.concurrent.TimeUnit.NANOSECONDS.sleep(sleep)
            lateness.add((System.nanoTime() - due) / 1e6)
            lat.put(k, send(lane, due, k >= traceFrom))
          }
        })
      }
      if (o.trace) {
        val t = new Thread(() => {
          val sleep = traceAt - System.nanoTime()
          if (sleep > 0) java.util.concurrent.TimeUnit.NANOSECONDS.sleep(sleep)
          ledger.foreach { case (j, p) => j.on = true; p.on = true }
          spans.on = true
          progress.on = true
        })
        t.start(); open.foreach(_.start()); open.foreach(_.join()); t.join()
      } else { open.foreach(_.start()); open.foreach(_.join()) }
      val phase1Ids = firstId until firstId + n1

      // phase 2: closed loop, one Export in flight per lane
      res.loadSample("closed_start")
      val n2start = ids.get
      val endAt = System.nanoTime() + (o.seconds * (1 - OpenShare) * 1e9).toLong
      val p2 = System.nanoTime()
      // (accepted points/s, Exports/s) of each lane over its own span: the
      // lanes' last Exports are acked at different times past the deadline
      val rates = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
      val closed = lanes.map { lane =>
        new Thread(() => {
          val points0 = lane.ackedPoints
          var n = 0
          while (System.nanoTime() < endAt) { send(lane, System.nanoTime(), o.trace); n += 1 }
          val s = (System.nanoTime() - p2) / 1e9
          rates.add(((lane.ackedPoints - points0) / s, n / s))
        })
      }
      closed.foreach(_.start()); closed.foreach(_.join())
      w.close()
      val exports = (ids.get - firstId).toDouble
      res.throughputPerS = rates.asScala.map(_._1).sum
      res.cpuMsPerOp = w.cpuMs / exports
      res.context("timed_window_s") = w.seconds
      res.context("closed_loop_exports") = ids.get - n2start
      res.context("closed_loop_exports_per_s") = rates.asScala.map(_._2).sum
      res.layers("jvm.gc_ms") = w.gcMs
      res.layers("gen.lateness_ms") = Stats.pct(lateness.asScala.toSeq, 99)

      val untraced = (0 until n1).filter(_ < traceFrom).map(k => lat.get(k).doubleValue)
      res.latencyMs ++= (0 until n1).filter(k => !o.trace || k >= traceFrom).map(k => lat.get(k).doubleValue)

      // drain until every acked marker (and so its Export's points) is
      // readable, then the gates. (processAllAvailable would wait forever:
      // the state store's processing-time timeout keeps asking for batches.)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!acked.keySet.asScala.forall(firstSeen.containsKey) && System.nanoTime() < deadline)
        Thread.sleep(100)
      probing = false
      probe.join()
      // the stream has drained; it keeps triggering, so settle three times
      res.heapPeakMb = w.settledHeapMb(3)
      res.context("probe_read_errors") = probeErrors.get
      phase1Ids.foreach { id =>
        Option(firstSeen.get(id)).foreach(f => res.freshMs += f.doubleValue) }
      val measured = (firstId until ids.get)
      val missing = measured.filter(id => acked.containsKey(id) && !firstSeen.containsKey(id))
      if (missing.nonEmpty) res.fail(s"${missing.size} acked markers never became readable")
      val wrongLanes = checkCounters(spark, cfg, lanes, o.corrupt, res)
      res.attempted = measured.size
      res.failed = failed.get + missing.size +
        wrongLanes.map(l => measured.count(_ % lanes.size == l)).sum
      if (o.trace)
        traced(spark, res, cfg, progress, ledger.get, untraced, decodeMs.asScala.toSeq,
          rttMs.asScala.toSeq)
    } finally {
      query.stop()
      lanes.foreach(_.client.close())
      grpc.stop()
      srv.stop()
    }
  }

  /** Counter gate: per lane, the raw tier's stored deltas must sum back to
    * LoadGen's counterTotals for the exports that lane sent. Returns the
    * lanes that disagree. */
  private def checkCounters(spark: SparkSession, cfg: GraftConfig, lanes: Seq[Lane],
      corrupt: Boolean, res: Result): Seq[Int] = {
    val got = MetricsSink.read(spark, cfg.storageDir, MetricsSink.Raw)
      .filter(col("metric").startsWith("requests_total_"))
      .groupBy(element_at(col("attributes"), "lane").cast("int"), col("metric"),
        element_at(col("attributes"), "counter_type"), element_at(col("attributes"), "status"))
      .agg(sum(col("value")))
      .collect()
      .map(r => (r.getInt(0), (r.getString(1), r.getString(2), r.getString(3))) -> r.getDouble(4))
      .toMap
    val observed = if (corrupt) got.map { case (k, v) => k -> (v + 1) } else got
    lanes.filter { lane =>
      // the same generator over exactly the exports sent (values do not
      // depend on the end stamp)
      val want = LoadGen.generate(lane.sent, TicksPerExport, TickMs, 0L,
        seed = lane.seed).counterTotals
      val mine = observed.collect { case ((l, k), v) if l == lane.id => k -> v }
      val wantD = want.map { case (k, v) => k -> v.toDouble }
      val ok = mine == wantD
      if (!ok) res.fail(s"lane ${lane.id}: raw-tier counter totals differ from LoadGen's counterTotals: " +
        (mine.keySet ++ wantD.keySet).filter(k => mine.get(k) != wantD.get(k)).take(3)
          .map(k => s"$k stored ${mine.get(k)} generated ${wantD.get(k)}").mkString("; "))
      !ok
    }.map(_.id)
  }

  /** Per-layer numbers of the traced part of the run. */
  private def traced(spark: SparkSession, res: Result, cfg: GraftConfig, progress: Progress,
      ledger: (Ledger, PlanLedger), untraced: Seq[Double], decodeMs: Seq[Double],
      rttMs: Seq[Double]): Unit = {
    val (jobs, _) = ledger
    res.layers("trace.overhead_ms") = Stats.median(res.latencyMs.toSeq) - Stats.median(untraced)
    res.layers("transport.export_rtt_ms") = Stats.median(rttMs)
    res.layers("transport.otlp_decode_ms") = Stats.median(decodeMs)
    val exports = rttMs.size.toDouble
    res.context("job_sites") = jobs.sites.toSeq.sorted.map { case (k, v) => s"$k: $v" }
    val land = jobs.siteCost("land")
    res.layers("transport.land_jobs_per_export") = land.jobs / exports
    res.layers("transport.land_cpu_ms_per_export") = land.cpuMs / exports
    val b = progress.synchronized(progress.batches.toSeq)
    def field(k: String) = b.map(_(k))
    val log = sourceLog(cfg)
    def files(x: Map[String, Double]) =
      log.count { case (id, _) => id > x("log_start") && id <= x("log_end") }.toDouble
    val data = b.filter(files(_) > 0)
    res.layers("streaming.trigger_ms") = Stats.median(data.map(_("trigger")))
    res.layers("streaming.add_batch_ms") = Stats.median(data.map(_("add_batch")))
    res.layers("streaming.latest_offset_ms") = Stats.median(field("latest_offset"))
    res.layers("streaming.state_rows") = field("state_rows").max
    res.layers("streaming.state_commit_ms") = Stats.median(field("state_commit"))
    // landed files waiting when a batch starts: landed by then, committed by
    // that batch or a later one
    res.layers("streaming.backlog_files_max") = b.map { x =>
      log.count { case (id, ts) => ts <= x("start_ms") && id > x("log_start") }.toDouble }.max
    val span = b.map(x => x("start_ms") + x("trigger")).max - field("start_ms").min
    res.layers("streaming.busy_frac") = field("trigger").sum / span
    res.layers("streaming.rows_per_batch") = Stats.median(data.map(files))
    val stream = jobs.siteCost("stream")
    res.layers("streaming.batch_cpu_ms") = stream.cpuMs / data.size.max(1)
    res.layers("sink.bytes_written") = stream.outputBytes.toDouble
    res.layers("sink.raw_files_end") = java.nio.file.Files
      .walk(new File(cfg.storageDir, MetricsSink.Raw.name).toPath).iterator().asScala
      .count(_.toString.endsWith(".parquet")).toDouble

    // GraftApp.convert over one micro-batch's worth of landed exports, and
    // the rows validation rejected over everything landed
    val landed = new File(cfg.sourceDir).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(_.getPath).sorted
    val exportsDf = spark.read.schema(graft.streaming.OtlpSource.exportSchema)
    val perBatch = math.max(1, res.layers("streaming.rows_per_batch").toInt)
    val now = lit(System.currentTimeMillis())
    val convertMs = (0 until 3).map { _ =>
      val c0 = System.nanoTime()
      GraftApp.convert(exportsDf.parquet(landed.take(perBatch): _*), cfg, now)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - c0) / 1e6
    }
    res.layers("ingest.convert_ms") = Stats.median(convertMs)
    val all = exportsDf.parquet(landed: _*)
    val flattened = graft.streaming.OtlpSource.explodeExport(all).count()
    res.layers("ingest.rejected_rows") = (flattened - GraftApp.convert(all, cfg, now).count()).toDouble
  }
}
