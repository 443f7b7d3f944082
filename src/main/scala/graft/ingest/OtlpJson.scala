package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OTLP/HTTP JSON decoding — `ExportMetricsServiceRequest` in its standard
  * proto3-JSON encoding (the wire shape an OTel collector's `otlphttp`
  * exporter emits) decoded to the engine's export frame
  * ([[graft.streaming.OtlpSource.exportSchema]]).
  *
  * The reference accepts this structure over gRPC and walks
  * resource→scope→metric→datapoint loops (otlp.go:91-124); here the walk is
  * three nested `transform`/`flatten` HOFs over `from_json` — one row per
  * resource in, one export row out, no shuffle, no UDF.
  *
  * proto3-JSON quirks handled: 64-bit integers arrive as STRINGS
  * (`timeUnixNano`, `count`, `asInt`, `bucketCounts` entries), enum fields
  * as numbers, and exactly one of `asDouble`/`asInt` is present per number
  * datapoint (otlp.go:147-155's oneof). Attribute values keep the reference's
  * stringify behavior (F10): string/bool/int/double arms coalesced to
  * string. Exponential-histogram buckets are dropped at ingest exactly like
  * the reference (otlp.go:234-258 copies only count/sum); summaries keep
  * count/sum (otlp.go:260-277).
  */
object OtlpJson {

  private val attrType = ArrayType(StructType(Seq(
    StructField("key", StringType),
    StructField("value", StructType(Seq(
      StructField("stringValue", StringType),
      StructField("boolValue", BooleanType),
      StructField("intValue", StringType),
      StructField("doubleValue", DoubleType)))))))

  /** proto3-JSON exemplar (otlp.go:298-330's input): `spanId`/`traceId` are
    * hex STRINGS on the wire (pdata's `.String()` rendering — kept verbatim),
    * value is the `asDouble`/`asInt` oneof, filtered attributes share the
    * common attribute shape. */
  private val exemplarJsonType = ArrayType(StructType(Seq(
    StructField("filteredAttributes", attrType),
    StructField("timeUnixNano", StringType),
    StructField("asDouble", DoubleType),
    StructField("asInt", StringType),
    StructField("spanId", StringType),
    StructField("traceId", StringType))))

  private def numberDp = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("asDouble", DoubleType),
    StructField("asInt", StringType),
    StructField("attributes", attrType),
    StructField("exemplars", exemplarJsonType)))

  private def histoDp = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("count", StringType),
    StructField("sum", DoubleType),
    StructField("bucketCounts", ArrayType(StringType)),
    StructField("explicitBounds", ArrayType(DoubleType)),
    StructField("attributes", attrType),
    StructField("exemplars", exemplarJsonType)))

  private def countSumDp = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("count", StringType),
    StructField("sum", DoubleType),
    StructField("attributes", attrType),
    StructField("exemplars", exemplarJsonType)))

  /** ExportMetricsServiceRequest, the subset the reference reads. */
  val jsonSchema: StructType = StructType(Seq(
    StructField("resourceMetrics", ArrayType(StructType(Seq(
      StructField("resource", StructType(Seq(
        StructField("attributes", attrType)))),
      StructField("scopeMetrics", ArrayType(StructType(Seq(
        StructField("metrics", ArrayType(StructType(Seq(
          StructField("name", StringType),
          StructField("gauge", StructType(Seq(
            StructField("dataPoints", ArrayType(numberDp))))),
          StructField("sum", StructType(Seq(
            StructField("dataPoints", ArrayType(numberDp)),
            StructField("aggregationTemporality", IntegerType),
            StructField("isMonotonic", BooleanType)))),
          StructField("histogram", StructType(Seq(
            StructField("dataPoints", ArrayType(histoDp)),
            StructField("aggregationTemporality", IntegerType)))),
          StructField("exponentialHistogram", StructType(Seq(
            StructField("dataPoints", ArrayType(countSumDp)),
            StructField("aggregationTemporality", IntegerType)))),
          StructField("summary", StructType(Seq(
            StructField("dataPoints", ArrayType(countSumDp)))))))))))))))))))

  /** proto3-JSON attribute list → the engine's map<string,string>, values
    * stringified like the reference (F10). */
  private def attrsToMap(attrs: Column): Column =
    map_from_entries(transform(coalesce(attrs, array().cast(attrType)),
      a => struct(
        a.getField("key").as("key"),
        coalesce(
          a.getField("value").getField("stringValue"),
          a.getField("value").getField("intValue"),
          a.getField("value").getField("doubleValue").cast("string"),
          a.getField("value").getField("boolValue").cast("string"))
          .as("value"))))

  /** ns-string → ms-epoch. Via decimal, NOT double division: current
    * timeUnixNano values (~1.7e18) exceed double's 53-bit mantissa, and the
    * rounding error lands exactly on the ms digit being computed. */
  private def nsToMs(timeUnixNano: Column): Column =
    (timeUnixNano.cast(DecimalType(20, 0)) / lit(1000000)).cast("long")

  /** Wire exemplars → engine exemplar structs (otlp.go:298-330): hex IDs
    * verbatim, value from the int/double oneof (absent → 0.0, the reference's
    * non-pointer float64 zero), ns timestamp → TimestampType, filtered
    * attributes stringified like every other attribute list (F10). Absent
    * array → typed NULL, matching `convertExemplars`' nil-on-empty. */
  private def exemplarsCol(ex: Column): Column =
    when(ex.isNull || size(ex) === 0,
      lit(null).cast(ArrayType(graft.model.Schemas.exemplarType)))
      .otherwise(transform(ex, e => struct(
        e.getField("spanId").as("spanId"),
        e.getField("traceId").as("traceId"),
        coalesce(e.getField("asDouble"),
          e.getField("asInt").cast(DoubleType), lit(0.0)).as("value"),
        timestamp_millis(nsToMs(e.getField("timeUnixNano"))).as("timestamp"),
        attrsToMap(e.getField("filteredAttributes")).as("attributes"))))

  /** One wire datapoint struct in [[graft.streaming.OtlpSource.datapointType]]'s
    * exact field order. */
  private def dp(metric: Column, kind: String, ts: Column, temp: Column,
      mono: Column, vInt: Column, vDouble: Column, count: Column,
      sum: Column, bounds: Column, counts: Column, attrs: Column,
      exemplars: Column = lit(null)
        .cast(ArrayType(graft.model.Schemas.exemplarType))): Column =
    struct(
      metric.as("metric"), lit(kind).as("kind"), nsToMs(ts).as("ts_ms"),
      temp.cast("int").as("temporality_code"), mono.as("is_monotonic"),
      vInt.cast("long").as("value_int"), vDouble.as("value_double"),
      count.cast("long").as("count"), sum.as("sum"),
      bounds.as("bounds"), counts.as("bucket_counts"),
      attrsToMap(attrs).as("dp_attrs"),
      exemplars.as("exemplars"))

  private def dps(arr: Column, build: Column => Column): Column =
    transform(coalesce(arr, array()), build)

  /** All of one metric's datapoints as wire structs — the five typed loops
    * of otlp.go:126-285 as one concat of per-type transforms. */
  private def metricDps(m: Column): Column = {
    val name = m.getField("name")
    val g = m.getField("gauge")
    val s = m.getField("sum")
    val h = m.getField("histogram")
    val e = m.getField("exponentialHistogram")
    val su = m.getField("summary")
    concat(
      dps(g.getField("dataPoints"), p => dp(name, "gauge",
        p.getField("timeUnixNano"), lit(0), lit(false),
        p.getField("asInt"), p.getField("asDouble"),
        lit(null), lit(null).cast("double"),
        lit(null).cast(ArrayType(DoubleType)),
        lit(null).cast(ArrayType(LongType)), p.getField("attributes"),
        exemplarsCol(p.getField("exemplars")))),
      dps(s.getField("dataPoints"), p => dp(name, "sum",
        p.getField("timeUnixNano"),
        coalesce(s.getField("aggregationTemporality"), lit(0)),
        coalesce(s.getField("isMonotonic"), lit(false)),
        p.getField("asInt"), p.getField("asDouble"),
        lit(null), lit(null).cast("double"),
        lit(null).cast(ArrayType(DoubleType)),
        lit(null).cast(ArrayType(LongType)), p.getField("attributes"),
        exemplarsCol(p.getField("exemplars")))),
      dps(h.getField("dataPoints"), p => dp(name, "histogram",
        p.getField("timeUnixNano"),
        coalesce(h.getField("aggregationTemporality"), lit(0)), lit(false),
        lit(null), lit(null).cast("double"),
        p.getField("count"), p.getField("sum"),
        p.getField("explicitBounds"),
        transform(coalesce(p.getField("bucketCounts"),
          array().cast(ArrayType(StringType))), c => c.cast("long")),
        p.getField("attributes"),
        exemplarsCol(p.getField("exemplars")))),
      dps(e.getField("dataPoints"), p => dp(name, "exponential_histogram",
        p.getField("timeUnixNano"),
        coalesce(e.getField("aggregationTemporality"), lit(0)), lit(false),
        lit(null), lit(null).cast("double"),
        p.getField("count"), p.getField("sum"),
        lit(null).cast(ArrayType(DoubleType)),
        lit(null).cast(ArrayType(LongType)), p.getField("attributes"),
        exemplarsCol(p.getField("exemplars")))),
      dps(su.getField("dataPoints"), p => dp(name, "summary",
        p.getField("timeUnixNano"), lit(0), lit(false),
        lit(null), lit(null).cast("double"),
        p.getField("count"), p.getField("sum"),
        lit(null).cast(ArrayType(DoubleType)),
        lit(null).cast(ArrayType(LongType)), p.getField("attributes"))))
  }

  /** Decode a column of OTLP JSON documents to export rows: one row per
    * resource, `(resource_attrs, datapoints)` exactly as the file-stream
    * source shapes them. */
  def decode(json: DataFrame, jsonCol: String = "value"): DataFrame =
    json
      .select(from_json(col(jsonCol), jsonSchema).as("req"))
      .select(explode(col("req.resourceMetrics")).as("rm"))
      .select(
        attrsToMap(col("rm.resource.attributes")).as("resource_attrs"),
        flatten(transform(coalesce(col("rm.scopeMetrics"), array()),
          sm => flatten(transform(coalesce(sm.getField("metrics"), array()),
            m => metricDps(m))))).as("datapoints"))
}
