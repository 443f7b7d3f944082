package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** batch_fleet: a fixed, ordered list of benched production queries over
  * sf0.1-shaped tables, each op a builder call plus a `noop` write (the
  * same op `graft.Bench` times), run in whole passes only. One untimed warm
  * pass checks every op's row count and order-insensitive fingerprint
  * against the recorded values; `System.gc()` runs untimed between ops. */
object BatchFleet {

  /** Ordered op list: one query from every `graft.queries` family, the
    * sink family's being q_p8_route_mv_hist, the heaviest multi-stage path
    * the roadmap names. The heavier ones keep out so that a warm pass plus a
    * timed pass fits the benchmark's run budget on 4 cores. */
  val Ops: Seq[String] = Seq(
    "q_o5_group_topk", "q_read_path", "q_a7_hist_quantile", "q_s5_attr_merge",
    "q_html_robots_gate", "q_p8_route_mv_hist", "q_vocab_topk")

  /** The `graft.queries` object that registers each query. */
  def family(op: String): String = {
    import graft.queries._
    Seq("core" -> CoreQueries.queries, "metrics" -> MetricsQueries.queries,
      "histo" -> HistoQueries.queries, "sink" -> SinkQueries.queries,
      "ingest" -> IngestQueries.queries, "llm" -> LlmQueries.queries,
      "curation" -> CurationQueries.queries)
      .collectFirst { case (f, m) if m.contains(op) => f }
      .getOrElse(throw new IllegalStateException(s"$op is in no graft.queries family"))
  }
  val Families = Seq("core", "metrics", "histo", "sink", "ingest", "llm", "curation")

  final case class Sample(op: String, tag: String, setupMs: Double, readMs: Double, cpuMs: Double,
      gcMs: Double, error: Option[String]) {
    def totalMs: Double = setupMs + readMs
  }

  /** Row count and order-insensitive fingerprint: the wrapping sum of a
    * 64-bit hash of every output row's bytes, computed over the same
    * physical plan the `noop` write executes. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var acc = 0L
      it.foreach { r =>
        val u = proj(r)
        val a = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
        val b = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 7)
        n += 1
        acc += (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
      }
      Iterator((n, acc))
    }.collect().foldLeft((0L, 0L)) { case ((n, a), (m, b)) => (n + m, a + b) }
  }

  def run(o: Opts, spark: SparkSession, res: Result, t0: Long, ledger: Option[(Ledger, PlanLedger)],
      spans: Spans): Unit = {
    val missing = Ops.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"fleet ops missing from SparkEntry.queries: ${missing.mkString(",")}")
    val verifyOnly = Ops.filter(graft.SparkEntry.verifyOnly)
    require(verifyOnly.isEmpty, s"fleet ops are verify-only: ${verifyOnly.mkString(",")}")
    val families = Ops.map(op => op -> family(op)).toMap
    require(Families.forall(families.values.toSet), "a graft.queries family has no fleet op")

    val data = new java.io.File(o.root, "fleet-data")
    val g0 = System.nanoTime()
    FleetData.write(spark, data)
    res.context("datagen_s") = (System.nanoTime() - g0) / 1e9
    val sfDir = data.getPath
    res.context("fleet_ops") = Ops
    res.context("fleet_tables") = FleetData.Sizes.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }

    // warm pass: the same plans, executed once to fingerprint their output
    val expected = readExpected(o.expected)
    val observed = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val wrong = mutable.Set.empty[String]
    val warmMs = mutable.ArrayBuffer.empty[String]
    Ops.foreach { op =>
      System.gc()
      val w0 = System.nanoTime()
      val got = try {
        val fp = fingerprint(graft.SparkEntry.queries(op)(spark, sfDir))
        if (o.corrupt && op == Ops.head) (fp._1 + 1, fp._2) else fp
      } catch { case e: Throwable =>
        res.fail(s"$op failed on the warm pass: ${e.getClass.getSimpleName}: ${e.getMessage}")
        (-1L, 0L)
      } finally graft.CacheHygiene.releaseAll(spark)
      observed(op) = got
      warmMs += f"$op=${(System.nanoTime() - w0) / 1e6}%.0f"
      expected.get(op) match {
        case _ if o.record.isDefined => ()
        case Some(want) if want == got => ()
        case Some(want) =>
          wrong += op
          res.fail(s"$op output differs: rows ${got._1} fingerprint ${got._2}, recorded rows ${want._1} fingerprint ${want._2}")
        case None =>
          wrong += op
          res.fail(s"$op has no recorded row count and fingerprint")
      }
    }
    o.record.foreach(f => writeExpected(f, observed))
    res.context("warm_op_ms") = warmMs.toSeq
    res.setupS = (System.nanoTime() - t0) / 1e9

    // timed passes: a fixed count of whole passes, so every run times the
    // same samples; a traced run times one untraced pass first
    val passes = if (o.trace) 2 else 1
    res.context("fleet_passes") = passes
    val samples = mutable.ArrayBuffer.empty[Sample]
    val w = new Window(res, "timed")
    val untraced = mutable.ArrayBuffer.empty[Double]
    (0 until passes).foreach { p =>
      // a traced run's first pass is untraced, for the tracing overhead
      val tracing = o.trace && p == 1
      spans.on = tracing
      ledger.foreach { case (j, pl) => j.on = tracing; pl.on = tracing }
      Ops.foreach { op =>
        System.gc()
        val s = once(spark, sfDir, op, if (tracing) ledger else None, spans, s"p$p:$op")
        if (o.trace && !tracing) untraced += s.totalMs
        else samples += s
      }
    }
    w.close()

    val ok = samples.filter(s => s.error.isEmpty && !wrong(s.op))
    res.attempted = samples.size
    res.failed = samples.size - ok.size
    res.latencyMs ++= ok.map(_.totalMs)
    res.freshMs ++= ok.filter(s => families(s.op) == "sink").map(_.setupMs)
    val busyS = samples.map(_.totalMs).sum / 1000.0
    res.throughputPerS = ok.size / busyS
    res.cpuMsPerOp = samples.map(_.cpuMs).sum / samples.size
    res.heapPeakMb = w.settledHeapMb()
    res.context("timed_window_s") = w.seconds
    res.context("op_ms") = samples.map(s => f"${s.op}=${s.totalMs}%.0f").toSeq
    res.layers("jvm.gc_ms") = samples.map(_.gcMs).sum

    if (o.trace) {
      val (jobs, plans) = ledger.get
      res.layers("trace.overhead_ms") = Stats.median(samples.map(_.totalMs).toSeq) - Stats.median(untraced.toSeq)
      Families.foreach { f =>
        val fs = samples.filter(s => families(s.op) == f)
        val costs = fs.map(s => jobs.opCost(s.tag))
        res.layers(s"fleet.$f.setup_ms") = fs.map(_.setupMs).sum
        res.layers(s"fleet.$f.read_ms") = fs.map(_.readMs).sum
        res.layers(s"fleet.$f.cpu_ms") = costs.map(_.cpuMs).sum
        res.layers(s"fleet.$f.jobs") = costs.map(_.jobs.toDouble).sum
        res.layers(s"fleet.$f.input_bytes") = costs.map(_.inputBytes.toDouble).sum
        res.layers(s"fleet.$f.shuffle_bytes") = costs.map(_.shuffleBytes.toDouble).sum
        res.layers(s"fleet.$f.spill_bytes") = costs.map(_.spillBytes.toDouble).sum
        res.layers(s"fleet.$f.gc_ms") = costs.map(_.gcMs).sum
      }
      res.layers("plans.sampling_jobs") = samples.map(s => plans.samplingJobs(s.tag)).sum.toDouble
      // wall time of the ops not covered by any of their Spark jobs
      res.layers("fleet.driver_ms") = samples.map { s =>
        math.max(s.totalMs - jobs.opCost(s.tag).jobWallMs, 0.0)
      }.sum
    }
  }

  private def once(spark: SparkSession, sfDir: String, op: String,
      ledger: Option[(Ledger, PlanLedger)], spans: Spans, tag: String): Sample = {
    ledger.foreach(_._2.currentOp = tag)
    val cpu0 = Meters.cpuNs
    val gc0 = Meters.gcMs
    graft.BenchPhases.reset()
    var err: Option[String] = None
    val (setupNs, readNs) = spans("fleet.op", tag) { id =>
      Ledger.tagged(spark, tag) {
        val t0 = System.nanoTime()
        val df = try spans("fleet.setup", tag, id)(_ => graft.SparkEntry.queries(op)(spark, sfDir))
        catch { case e: Throwable => err = Some(s"setup: ${e.getMessage}"); null }
        val t1 = System.nanoTime()
        try if (df != null) spans("fleet.read", tag, id)(_ =>
          df.write.format("noop").mode("overwrite").save())
        catch { case e: Throwable => err = Some(s"exec: ${e.getMessage}") }
        val t2 = System.nanoTime()
        (t1 - t0, t2 - t1)
      }
    }
    graft.CacheHygiene.releaseAll(spark)
    // work a builder times itself as its read phase (BenchPhases) moves from
    // setup to read, exactly as Bench splits it
    val recordedRead = graft.BenchPhases.drain().getOrElse("read", 0.0) * 1e9
    val cpuMs = (Meters.cpuNs - cpu0) / 1e6
    val gcMs = (Meters.gcMs - gc0).toDouble
    if (ledger.isDefined) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    err.foreach(e => System.err.println(s"[perfbench] $op failed: $e"))
    Sample(op, tag, math.max(setupNs - recordedRead, 0) / 1e6, (readNs + recordedRead) / 1e6,
      cpuMs, gcMs, err)
  }

  private def readExpected(f: java.io.File): Map[String, (Long, Long)] = {
    if (!f.exists) return Map.empty
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    import scala.jdk.CollectionConverters._
    node.properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("fingerprint").asText.toLong)
    }.toMap
  }

  private def writeExpected(f: java.io.File, m: collection.Map[String, (Long, Long)]): Unit = {
    val body = m.map { case (k, (n, fp)) =>
      s"""  "$k": {"rows": $n, "fingerprint": "$fp"}""" }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(f.toPath, body)
  }
}
