package graft.model

import org.apache.spark.sql.types._

/** Canonical codes and nested types for the metrics engine.
  *
  * Mirrors the reference's data model — `models.Metric`
  * (reference: internal/models/metric.go:26-42) — re-expressed as idiomatic
  * Spark nested types: `ArrayType(StructType)` instead of ClickHouse parallel-array
  * `Nested`, `MapType` for attributes. The stored tiers' schemas are not
  * declared here: each tier's writer records its own
  * ([[graft.sink.MetricsSink.write]]).
  */
object Schemas {

  /** Metric type codes (reference: internal/models/metric.go:7-16). */
  object MetricType {
    val Unknown: Byte = 0
    val Gauge: Byte = 1
    val Sum: Byte = 2
    val Histogram: Byte = 3
    val Summary: Byte = 4
    val ExponentialHistogram: Byte = 5
    val names: Map[Byte, String] = Map(
      Unknown -> "unknown", Gauge -> "gauge", Sum -> "sum",
      Histogram -> "histogram", Summary -> "summary",
      ExponentialHistogram -> "exponential_histogram")
  }

  /** Temporality codes (reference: internal/models/metric.go:18-24). */
  object Temporality {
    val Unspecified: Byte = 0
    val Cumulative: Byte = 1
    val Delta: Byte = 2
  }

  val exemplarType: StructType = StructType(Seq(
    StructField("spanId", StringType),
    StructField("traceId", StringType),
    StructField("value", DoubleType),
    StructField("timestamp", TimestampType),
    StructField("attributes", MapType(StringType, StringType))))
}

/** Typed row for the stateful (flatMapGroupsWithState) path.
  * Kept minimal: the fields the temporality converter actually touches
  * (reference: internal/converter/temporality.go:43-113). */
case class Bucket(le: Double, count: Long)
case class ExpBucket(index: Int, count: Long)

/** Typed exemplar (reference: internal/models/metric.go exemplar fields;
  * schema mirror of [[Schemas.exemplarType]]). */
case class ExemplarRow(
    spanId: String,
    traceId: String,
    value: Option[Double],
    timestamp: java.sql.Timestamp,
    attributes: Map[String, String])

case class MetricPoint(
    workspaceId: String,
    series_hash: Long,
    metric: String,
    timestamp: java.sql.Timestamp,
    metric_type: Byte,
    temporality: Byte,
    is_monotonic: Boolean,
    value: Option[Double],
    count: Option[Long],
    sum: Option[Double],
    buckets: Seq[Bucket],
    attributes: Map[String, String] = Map.empty,
    exemplars: Seq[ExemplarRow] = Nil,
    serviceName: String = "",
    ttl_ms: Long = 0L)

/** Per-series converter state (reference: internal/converter/temporality.go:17-23). */
case class ConversionState(
    lastValue: Double,
    lastCount: Long,
    lastSum: Double,
    lastBuckets: Seq[Bucket],
    lastTimestamp: Long,
    initialized: Boolean)
