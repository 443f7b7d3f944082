package graft.histo

import graft.model.Bucket
import org.apache.spark.sql.{Column, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Spark bindings for the pure histogram math in [[HistogramMath]].
  *
  * The public column functions bind through native Catalyst expressions
  * ([[graft.functions.HistogramExprs]]) per the build's preference order
  * (built-ins > native Expression > UDF); the Scala-UDF bindings below are
  * kept as the readable reference shapes, pinned output-identical by
  * HistogramExprsSpec. At 100 TB the quantiles run once per *group*,
  * post-aggregation, so the binding layer — not loop codegen — was the
  * only cost at stake.
  *
  * Errors (p out of range, empty/zero histogram) surface as SQL NULL rather
  * than exceptions — the relational analog of the reference's `(0, error)`
  * return (reference: pkg/histogram/percentile.go:17-37).
  */
object HistogramFunctions {

  private def rowsToBuckets(rows: Seq[Row]): Seq[Bucket] =
    if (rows == null) Nil
    else rows.filter(_ != null).map(r => Bucket(r.getDouble(0), r.getLong(1)))

  /** histogram_quantile(buckets, p) → interpolated value or NULL. */
  val histogramQuantileUdf =
    udf { (rows: Seq[Row], p: Double) =>
      HistogramMath.percentile(rowsToBuckets(rows), p).toOption
    }

  def histogram_quantile(buckets: Column, p: Column): Column =
    graft.functions.HistogramExprs.histogram_quantile(buckets, p)

  /** Multiple percentiles in one pass; NULL on error. */
  val histogramQuantilesUdf =
    udf { (rows: Seq[Row], ps: Seq[Double]) =>
      HistogramMath.percentiles(rowsToBuckets(rows), ps).toOption
    }

  def histogram_quantiles(buckets: Column, ps: Column): Column =
    graft.functions.HistogramExprs.histogram_quantiles(buckets, ps)

  /** Delta→cumulative prefix sum over one bucket vector. */
  val bucketsToCumulativeUdf =
    udf { (rows: Seq[Row]) => HistogramMath.deltaToCumulative(rowsToBuckets(rows)) }

  def buckets_to_cumulative(buckets: Column): Column =
    graft.functions.HistogramExprs.buckets_to_cumulative(buckets)

  /** Cumulative→delta adjacent difference over one bucket vector. */
  def buckets_to_delta(buckets: Column): Column =
    graft.functions.HistogramExprs.buckets_to_delta(buckets)

  /** exp_histogram_quantile(scale, zero_count, pos, neg, p) → value or NULL. */
  def exp_histogram_quantile(scale: Column, zeroCount: Column, pos: Column,
      neg: Column, p: Column): Column =
    graft.functions.HistogramExprs.exp_histogram_quantile(scale, zeroCount, pos, neg, p)

  /** Bucket merge as pure built-ins — the scale path when the merge IS the
    * query. `explode` + `groupBy(le)` + `sum(count)` is Catalyst-planned
    * (partial aggregation map-side, codegen)
    * (reference semantics: pkg/histogram/percentile.go:83-105).
    *
    * For the dashboard shape — the merge as ONE aggregate call alongside
    * sums, feeding histogram_quantile in the same groupBy — use
    * [[merge_buckets_agg]] instead; that single AggregateFunction node is
    * also what the MV-routing rule can reroute onto a stored tier.
    */
  def mergeBuckets(df: org.apache.spark.sql.DataFrame, keys: Seq[Column],
      buckets: Column): org.apache.spark.sql.DataFrame = {
    val exploded = df.select(keys :+ explode(buckets).as("b"): _*)
    val names = exploded.columns.dropRight(1)
    val perBound = exploded
      .groupBy(names.map(col) :+ col("b.le").as("le"): _*)
      .agg(sum(col("b.count")).as("count"))
    perBound
      .groupBy(names.map(col): _*)
      .agg(array_sort(collect_list(struct(col("le"), col("count")))).as("buckets"))
  }

  /** A9 as one aggregate call ([[graft.functions.MergeBucketsAgg]]) — merged,
    * bound-sorted bucket vector per group; deterministic under any row order. */
  def merge_buckets_agg(buckets: Column): Column =
    graft.functions.MergeBucketsAgg.merge(buckets)

  /** Typed Aggregator merging exponential histograms — the one genuinely
    * stateful custom aggregation in the engine
    * (reference: pkg/histogram/percentile.go:227-297). Buffer carries
    * min-scale so far plus index→count maps; merge is associative and
    * commutative, so Spark can apply it map-side (partial) then reduce-side. */
  class ExpHistMergeAggregator
      extends Aggregator[HistogramMath.ExpHist, HistogramMath.ExpHist, HistogramMath.ExpHist] {
    import HistogramMath.ExpHist
    def zero: ExpHist = ExpHist(Int.MaxValue, 0L, Double.NegativeInfinity, Nil, Nil)
    private def merge2(a: ExpHist, b: ExpHist): ExpHist = {
      if (a.scale == Int.MaxValue) b
      else if (b.scale == Int.MaxValue) a
      else HistogramMath.mergeExpHistograms(Seq(a, b))
    }
    def reduce(buf: ExpHist, in: ExpHist): ExpHist = merge2(buf, in)
    def merge(a: ExpHist, b: ExpHist): ExpHist = merge2(a, b)
    def finish(r: ExpHist): ExpHist =
      if (r.scale == Int.MaxValue) ExpHist(0, 0L, 0.0, Nil, Nil) else r
    def bufferEncoder: Encoder[ExpHist] = Encoders.product[ExpHist]
    def outputEncoder: Encoder[ExpHist] = Encoders.product[ExpHist]
  }

  /** Column form: `df.groupBy(...).agg(merge_exp_hist(struct-col))` over a
    * struct column shaped like [[HistogramMath.ExpHist]]. */
  lazy val merge_exp_hist: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new ExpHistMergeAggregator())
}
