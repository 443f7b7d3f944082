package graft.transport

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Protobuf wire codec for OTLP `ExportMetricsServiceRequest` — the message
  * the reference's gRPC receiver accepts (internal/receiver/otlp.go:71-90,
  * `pmetricotlp.ExportRequest`). Message shapes are the public
  * opentelemetry-proto definitions (metrics/v1/metrics.proto,
  * collector/metrics/v1/metrics_service.proto):
  *
  *   ExportMetricsServiceRequest { repeated ResourceMetrics resource_metrics = 1 }
  *   ResourceMetrics  { Resource resource = 1; repeated ScopeMetrics scope_metrics = 2 }
  *   Resource         { repeated KeyValue attributes = 1 }
  *   ScopeMetrics     { repeated Metric metrics = 2 }
  *   Metric           { string name = 1; oneof data:
  *                      Gauge gauge = 5; Sum sum = 7; Histogram histogram = 9;
  *                      ExponentialHistogram exponential_histogram = 10;
  *                      Summary summary = 11 }
  *   Sum              { repeated NumberDataPoint data_points = 1;
  *                      AggregationTemporality aggregation_temporality = 2;
  *                      bool is_monotonic = 3 }
  *   NumberDataPoint  { fixed64 time_unix_nano = 3; double as_double = 4;
  *                      sfixed64 as_int = 6; repeated Exemplar exemplars = 5;
  *                      repeated KeyValue attributes = 7 }
  *   HistogramDataPoint { fixed64 time = 3; fixed64 count = 4; double sum = 5;
  *                      repeated fixed64 bucket_counts = 6 (packed);
  *                      repeated double explicit_bounds = 7 (packed);
  *                      repeated Exemplar exemplars = 8; attributes = 9 }
  *   (exp-histogram / summary datapoints: count = 4, sum = 5 — the only
  *    payload the reference copies off the wire, otlp.go:234-277)
  *   Exemplar         { fixed64 time = 2; double as_double = 3; sfixed64 as_int = 6;
  *                      bytes span_id = 4; bytes trace_id = 5;
  *                      repeated KeyValue filtered_attributes = 7 }
  *
  * Decoded rows land in the SAME export frame as [[graft.ingest.OtlpJson]]
  * ([[graft.streaming.OtlpSource.exportSchema]]), with the same semantics the
  * JSON path pins: attribute values stringified (F10), exemplar value from
  * the int/double oneof (absent → 0.0), span/trace IDs as lowercase hex,
  * exp-histogram bucket structure dropped at ingest (otlp.go:234-258),
  * summary quantile values dropped (otlp.go:260-277), ns timestamps floored
  * to ms. Unknown fields skip by wire type, so exports from real collectors
  * (which set schema_url, scope, flags, min/max, …) decode fine.
  *
  * proto3 presence caveat (documented divergence from the JSON path): plain
  * numeric fields at their default are absent on the wire, so a histogram
  * dp with `count = 0` decodes as a NULL count where proto3-JSON's explicit
  * `"count":"0"` string survives as 0. The oneof arms (values, attribute
  * variants) keep exact presence — oneofs encode defaults explicitly.
  */
object OtlpProto {

  final case class Exemplar(spanId: Option[String], traceId: Option[String],
      value: Double, tsMs: Long, attributes: Map[String, String])

  /** One wire datapoint, field-for-field [[graft.streaming.OtlpSource
    * .datapointType]]: None ↔ the column NULL the JSON decoder emits. */
  final case class Datapoint(metric: String, kind: String, tsMs: Long,
      temporalityCode: Int, isMonotonic: Boolean,
      valueInt: Option[Long], valueDouble: Option[Double],
      count: Option[Long], sum: Option[Double],
      bounds: Option[Seq[Double]], bucketCounts: Option[Seq[Long]],
      dpAttrs: Map[String, String], exemplars: Option[Seq[Exemplar]])

  final case class ResourceRow(resourceAttrs: Map[String, String],
      datapoints: Seq[Datapoint])

  private type Reader = ProtoReader
  private type Writer = ProtoWriter

  // ---- decode -------------------------------------------------------------

  def decodeExportRequest(body: Array[Byte]): Seq[ResourceRow] = {
    val r = new Reader(body)
    val out = Seq.newBuilder[ResourceRow]
    while (r.hasRemaining) {
      val tag = r.readVarint()
      if ((tag >> 3) == 1 && (tag & 7) == 2)
        out += decodeResourceMetrics(r.readBytes())
      else r.skip((tag & 7).toInt)
    }
    out.result()
  }

  private def decodeResourceMetrics(b: Array[Byte]): ResourceRow = {
    val r = new Reader(b)
    var attrs = Map.empty[String, String]
    val dps = Seq.newBuilder[Datapoint]
    while (r.hasRemaining) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => attrs = decodeResource(r.readBytes())
        case (2, 2) => dps ++= decodeScopeMetrics(r.readBytes())
        case (_, w) => r.skip(w)
      }
    }
    ResourceRow(attrs, dps.result())
  }

  private def decodeResource(b: Array[Byte]): Map[String, String] = {
    val r = new Reader(b)
    val out = Seq.newBuilder[(String, String)]
    while (r.hasRemaining) {
      val tag = r.readVarint()
      if ((tag >> 3) == 1 && (tag & 7) == 2) out += decodeKeyValue(r.readBytes())
      else r.skip((tag & 7).toInt)
    }
    // last-wins on duplicate keys, like map_from_entries
    out.result().foldLeft(Map.empty[String, String])(_ + _)
  }

  /** KeyValue { string key = 1; AnyValue value = 2 } with the JSON path's
    * F10 stringify: string/bool/int/double arms to string, any other arm
    * (array, kvlist, bytes — unmodeled there too) → null value. */
  private def decodeKeyValue(b: Array[Byte]): (String, String) = {
    val r = new Reader(b)
    var key = ""; var value: String = null
    while (r.hasRemaining) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => key = new String(r.readBytes(), "UTF-8")
        case (2, 2) => value = decodeAnyValue(r.readBytes())
        case (_, w) => r.skip(w)
      }
    }
    (key, value)
  }

  private def decodeAnyValue(b: Array[Byte]): String = {
    val r = new Reader(b)
    var out: String = null
    while (r.hasRemaining) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => out = new String(r.readBytes(), "UTF-8")
        case (2, 0) => out = if (r.readVarint() != 0) "true" else "false"
        case (3, 0) => out = r.readVarint().toString
        case (4, 1) => out = r.readDouble().toString
        case (_, w) => r.skip(w) // array_value/kvlist_value/bytes_value
      }
    }
    out
  }

  private def decodeScopeMetrics(b: Array[Byte]): Seq[Datapoint] = {
    val r = new Reader(b)
    val out = Seq.newBuilder[Datapoint]
    while (r.hasRemaining) {
      val tag = r.readVarint()
      if ((tag >> 3) == 2 && (tag & 7) == 2) out ++= decodeMetric(r.readBytes())
      else r.skip((tag & 7).toInt)
    }
    out.result()
  }

  private def decodeMetric(b: Array[Byte]): Seq[Datapoint] = {
    val r = new Reader(b)
    var name = ""
    // the oneof arm arrives before or after `name` depending on the writer;
    // buffer the data bytes and decode once the walk completes
    var kind: String = null; var data: Array[Byte] = null
    while (r.hasRemaining) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => name = new String(r.readBytes(), "UTF-8")
        case (5, 2) => kind = "gauge"; data = r.readBytes()
        case (7, 2) => kind = "sum"; data = r.readBytes()
        case (9, 2) => kind = "histogram"; data = r.readBytes()
        case (10, 2) => kind = "exponential_histogram"; data = r.readBytes()
        case (11, 2) => kind = "summary"; data = r.readBytes()
        case (_, w) => r.skip(w) // description, unit, metadata
      }
    }
    if (kind == null) Seq.empty else decodeData(name, kind, data)
  }

  /** Gauge/Sum/Histogram/ExponentialHistogram/Summary share the envelope
    * { repeated *DataPoint data_points = 1; temporality = 2; is_monotonic = 3
    * (sum only) } — data_points field number is 1 in all five. */
  private def decodeData(name: String, kind: String, b: Array[Byte]): Seq[Datapoint] = {
    val r = new Reader(b)
    var temporality = 0; var monotonic = false
    val dpBytes = Seq.newBuilder[Array[Byte]]
    while (r.hasRemaining) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => dpBytes += r.readBytes()
        case (2, 0) => temporality = r.readVarint().toInt
        case (3, 0) => monotonic = r.readVarint() != 0
        case (_, w) => r.skip(w)
      }
    }
    // gauge and summary carry no temporality on the wire → 0, like the JSON
    // decoder's lit(0) arms
    dpBytes.result().map(decodeDatapoint(name, kind, temporality, monotonic, _))
  }

  private def decodeDatapoint(name: String, kind: String, temporality: Int,
      monotonic: Boolean, b: Array[Byte]): Datapoint = kind match {
    case "gauge" | "sum" => decodeNumberDp(name, kind, temporality, monotonic, b)
    case "histogram" => decodeHistogramDp(name, b, temporality)
    case "exponential_histogram" => decodeCountSumDp(name, kind, b, temporality,
      attrsField = 1, exemplarsField = 11)
    case "summary" => decodeCountSumDp(name, kind, b, temporality = 0,
      attrsField = 7, exemplarsField = -1)
  }

  private def decodeNumberDp(name: String, kind: String, temporality: Int,
      monotonic: Boolean, b: Array[Byte]): Datapoint = {
    val r = new Reader(b)
    var ts = 0L
    var vInt: Option[Long] = None; var vDouble: Option[Double] = None
    var attrs = Map.empty[String, String]
    val ex = Seq.newBuilder[Exemplar]; var exN = 0
    while (r.hasRemaining) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (3, 1) => ts = r.readFixed64()
        case (4, 1) => vDouble = Some(r.readDouble()); vInt = None
        case (6, 1) => vInt = Some(r.readFixed64()); vDouble = None
        case (5, 2) => ex += decodeExemplar(r.readBytes()); exN += 1
        case (7, 2) => attrs = attrs + decodeKeyValue(r.readBytes())
        case (_, w) => r.skip(w) // start_time, flags
      }
    }
    val temp = if (kind == "gauge") 0 else temporality
    val mono = if (kind == "gauge") false else monotonic
    Datapoint(name, kind, nsToMs(ts), temp, mono, vInt, vDouble,
      None, None, None, None, attrs,
      if (exN == 0) None else Some(ex.result()))
  }

  private def decodeHistogramDp(name: String, b: Array[Byte],
      temporality: Int): Datapoint = {
    val r = new Reader(b)
    var ts = 0L
    var count: Option[Long] = None; var sum: Option[Double] = None
    val bounds = Seq.newBuilder[Double]; var boundsN = 0
    val counts = Seq.newBuilder[Long]
    var attrs = Map.empty[String, String]
    val ex = Seq.newBuilder[Exemplar]; var exN = 0
    while (r.hasRemaining) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (3, 1) => ts = r.readFixed64()
        case (4, 1) => count = Some(r.readFixed64())
        case (5, 1) => sum = Some(r.readDouble())
        // repeated scalars: packed (wire 2) is proto3's default encoding,
        // the one-per-key form (wire 1) stays legal — accept both
        case (6, 2) =>
          val p = new Reader(r.readBytes())
          while (p.hasRemaining) counts += p.readFixed64()
        case (6, 1) => counts += r.readFixed64()
        case (7, 2) =>
          val p = new Reader(r.readBytes())
          while (p.hasRemaining) { bounds += p.readDouble(); boundsN += 1 }
        case (7, 1) => bounds += r.readDouble(); boundsN += 1
        case (8, 2) => ex += decodeExemplar(r.readBytes()); exN += 1
        case (9, 2) => attrs = attrs + decodeKeyValue(r.readBytes())
        case (_, w) => r.skip(w) // start_time, flags, min, max
      }
    }
    // bucket_counts: always an array (the JSON path coalesces to empty);
    // explicit_bounds: NULL when empty — a +Inf-only histogram has one
    // count and no bounds, and proto3 can't tell absent from empty
    Datapoint(name, "histogram", nsToMs(ts), temporality, isMonotonic = false,
      None, None, count, sum,
      if (boundsN == 0) None else Some(bounds.result()),
      Some(counts.result()), attrs,
      if (exN == 0) None else Some(ex.result()))
  }

  /** Exp-histogram and summary datapoints: the reference copies ONLY
    * count/sum off these (otlp.go:234-277) — exp bucket structure
    * (scale/zero_count/positive/negative) and summary quantile_values are
    * dropped here exactly like there and like the JSON path's countSumDp. */
  private def decodeCountSumDp(name: String, kind: String, b: Array[Byte],
      temporality: Int, attrsField: Int, exemplarsField: Int): Datapoint = {
    val r = new Reader(b)
    var ts = 0L
    var count: Option[Long] = None; var sum: Option[Double] = None
    var attrs = Map.empty[String, String]
    val ex = Seq.newBuilder[Exemplar]; var exN = 0
    while (r.hasRemaining) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (3, 1) => ts = r.readFixed64()
        case (4, 1) => count = Some(r.readFixed64())
        case (5, 1) => sum = Some(r.readDouble())
        case (f, 2) if f == attrsField => attrs = attrs + decodeKeyValue(r.readBytes())
        case (f, 2) if f == exemplarsField =>
          ex += decodeExemplar(r.readBytes()); exN += 1
        case (_, w) => r.skip(w)
      }
    }
    Datapoint(name, kind, nsToMs(ts), temporality, isMonotonic = false,
      None, None, count, sum, None, None, attrs,
      if (exN == 0) None else Some(ex.result()))
  }

  private def decodeExemplar(b: Array[Byte]): Exemplar = {
    val r = new Reader(b)
    var ts = 0L
    var vInt: Option[Long] = None; var vDouble: Option[Double] = None
    var span: Option[String] = None; var trace: Option[String] = None
    var attrs = Map.empty[String, String]
    while (r.hasRemaining) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (2, 1) => ts = r.readFixed64()
        case (3, 1) => vDouble = Some(r.readDouble()); vInt = None
        case (6, 1) => vInt = Some(r.readFixed64()); vDouble = None
        case (4, 2) => span = hexOrNone(r.readBytes())
        case (5, 2) => trace = hexOrNone(r.readBytes())
        case (7, 2) => attrs = attrs + decodeKeyValue(r.readBytes())
        case (_, w) => r.skip(w)
      }
    }
    // value oneof: double, else int, else the reference's float64 zero —
    // the JSON path's coalesce order exactly
    Exemplar(span, trace,
      vDouble.orElse(vInt.map(_.toDouble)).getOrElse(0.0), nsToMs(ts), attrs)
  }

  /** pdata renders span/trace IDs as lowercase hex (the JSON wire carries
    * that rendering verbatim); an absent/empty ID is the JSON path's NULL. */
  private def hexOrNone(b: Array[Byte]): Option[String] =
    if (b.isEmpty) None else Some(b.map(x => f"$x%02x").mkString)

  /** fixed64 ns → ms floor; ns values are ~1.7e18, well inside Long. */
  private def nsToMs(ns: Long): Long = java.lang.Math.floorDiv(ns, 1000000L)

  // ---- to the engine's export frame --------------------------------------

  /** Decoded rows as a DataFrame in [[graft.streaming.OtlpSource
    * .exportSchema]] — the exact frame the file-stream source reads and
    * [[graft.ingest.OtlpJson.decode]] produces, so everything downstream
    * (flatten, convert, validate, sink) is shared, not re-implemented. */
  def toDataFrame(spark: SparkSession, rows: Seq[ResourceRow]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(toRows(rows)).asJava),
      graft.streaming.OtlpSource.exportSchema)

  /** The same rows as external [[Row]]s of the export frame, one per
    * resource — what [[GrpcOtlpReceiver]] converts and writes itself. */
  def toRows(rows: Seq[ResourceRow]): Seq[Row] =
    rows.map(rr => Row(rr.resourceAttrs, rr.datapoints.map(dpRow)))

  private def dpRow(d: Datapoint): Row = Row(
    d.metric, d.kind, d.tsMs, d.temporalityCode, d.isMonotonic,
    d.valueInt.map(Long.box).orNull, d.valueDouble.map(Double.box).orNull,
    d.count.map(Long.box).orNull, d.sum.map(Double.box).orNull,
    d.bounds.orNull, d.bucketCounts.orNull, d.dpAttrs,
    d.exemplars.map(_.map(e => Row(
      e.spanId.orNull, e.traceId.orNull, e.value,
      new java.sql.Timestamp(e.tsMs), e.attributes))).orNull)

  // ---- encode (spec/client side) ------------------------------------------

  /** Encode the model back to an `ExportMetricsServiceRequest` — the client
    * half the loopback spec speaks, like [[PromProto.encodeReadRequest]].
    * Consecutive datapoints of one (metric, kind) run share a Metric message
    * (temporality/monotonicity are message-level on the wire and taken from
    * the run's first datapoint). */
  def encodeExportRequest(rows: Seq[ResourceRow]): Array[Byte] = {
    val w = new Writer
    rows.foreach { rr =>
      val rw = new Writer
      if (rr.resourceAttrs.nonEmpty) {
        val resW = new Writer
        rr.resourceAttrs.foreach { case (k, v) => keyValue(resW, 1, k, v) }
        rw.bytes(1, resW.result())
      }
      val smW = new Writer
      groupRuns(rr.datapoints).foreach { run =>
        smW.bytes(2, encodeMetric(run))
      }
      rw.bytes(2, smW.result())
      w.bytes(1, rw.result())
    }
    w.result()
  }

  private def groupRuns(dps: Seq[Datapoint]): Seq[Seq[Datapoint]] =
    dps.foldLeft(Vector.empty[Vector[Datapoint]]) { (acc, d) =>
      acc.lastOption match {
        case Some(run) if run.head.metric == d.metric && run.head.kind == d.kind =>
          acc.init :+ (run :+ d)
        case _ => acc :+ Vector(d)
      }
    }

  private def encodeMetric(run: Seq[Datapoint]): Array[Byte] = {
    val head = run.head
    val dataW = new Writer
    run.foreach { d => dataW.bytes(1, encodeDatapoint(d)) }
    if (head.kind != "gauge" && head.kind != "summary")
      dataW.int64(2, head.temporalityCode.toLong)
    if (head.kind == "sum" && head.isMonotonic) { dataW.key(3, 0); dataW.varint(1) }
    val mw = new Writer
    mw.string(1, head.metric)
    val dataField = head.kind match {
      case "gauge" => 5
      case "sum" => 7
      case "histogram" => 9
      case "exponential_histogram" => 10
      case "summary" => 11
    }
    mw.bytes(dataField, dataW.result())
    mw.result()
  }

  private def encodeDatapoint(d: Datapoint): Array[Byte] = {
    val w = new Writer
    w.fixed64(3, d.tsMs * 1000000L)
    val (attrsField, exemplarsField) = d.kind match {
      case "gauge" | "sum" => (7, 5)
      case "histogram" => (9, 8)
      case "exponential_histogram" => (1, 11)
      case "summary" => (7, -1)
    }
    d.kind match {
      case "gauge" | "sum" =>
        // oneof arms encode explicitly even at 0 (oneof presence semantics)
        d.valueDouble.foreach(v => w.fixed64(4, java.lang.Double.doubleToLongBits(v)))
        d.valueInt.foreach(v => w.fixed64(6, v))
      case _ =>
        d.count.foreach(c => w.fixed64(4, c))
        d.sum.foreach(s => w.fixed64(5, java.lang.Double.doubleToLongBits(s)))
        if (d.kind == "histogram") {
          d.bucketCounts.filter(_.nonEmpty).foreach { cs =>
            val p = new Writer
            cs.foreach(c => fixed64Raw(p, c))
            w.bytes(6, p.result())
          }
          d.bounds.filter(_.nonEmpty).foreach { bs =>
            val p = new Writer
            bs.foreach(x => fixed64Raw(p, java.lang.Double.doubleToLongBits(x)))
            w.bytes(7, p.result())
          }
        }
    }
    d.dpAttrs.foreach { case (k, v) => keyValue(w, attrsField, k, v) }
    if (exemplarsField > 0)
      d.exemplars.getOrElse(Seq.empty).foreach { e =>
        w.bytes(exemplarsField, encodeExemplar(e))
      }
    w.result()
  }

  private def encodeExemplar(e: Exemplar): Array[Byte] = {
    val w = new Writer
    w.fixed64(2, e.tsMs * 1000000L)
    w.fixed64(3, java.lang.Double.doubleToLongBits(e.value))
    e.spanId.foreach(s => w.bytes(4, unhex(s)))
    e.traceId.foreach(s => w.bytes(5, unhex(s)))
    e.attributes.foreach { case (k, v) => keyValue(w, 7, k, v) }
    w.result()
  }

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** packed-element fixed64: no key, just the 8 bytes. */
  private def fixed64Raw(w: Writer, v: Long): Unit = {
    var i = 0
    while (i < 8) { w.out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  private def keyValue(w: Writer, field: Int, k: String, v: String): Unit = {
    val kvW = new Writer
    kvW.string(1, k)
    if (v != null) {
      // string arm written explicitly even for "" — oneof arms keep presence
      val avW = new Writer
      val vb = v.getBytes("UTF-8")
      avW.key(1, 2); avW.varint(vb.length.toLong); avW.out.write(vb)
      kvW.bytes(2, avW.result())
    }
    w.bytes(field, kvW.result())
  }

  /** `ExportMetricsServiceResponse` with no partial_success: zero bytes. */
  val emptyResponse: Array[Byte] = Array.emptyByteArray
}
