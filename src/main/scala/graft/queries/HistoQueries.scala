package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.histo.HistogramFunctions
import graft.metrics.Temporality
import graft.model.Tables
import graft.query.Promread

/** Histogram analytics queries A7–A12 + A15 + J2 (reference:
  * pkg/histogram/percentile.go:17-297; test/validate_percentiles.go:99-114).
  *
  * Deterministic bucket fixtures are built from `lineitem`:
  *   - explicit-bound histograms of l_quantity at fixed bounds per
  *     l_returnflag (all arithmetic restatable in DuckDB);
  *   - exponential (base-2) histograms of l_extendedprice where the bucket
  *     index floor(log2(v)) is computed EXACTLY via `length(bin(floor(v)))-1`
  *     — no floating log2, so both engines agree bit-for-bit;
  *   - the DuckDB oracles restate the reference's interpolation walk with the
  *     IDENTICAL floating-point operation order (`total * (p / 100.0)`, then
  *     `prev + ((target - (cum - cnt)) / cnt) * (le - prev)`), so quantile
  *     values match to the last ulp before the 6-decimal display rounding.
  */
object HistoQueries {

  private val QtyBounds = Seq(5.0, 10.0, 15.0, 20.0, 25.0, 30.0, 40.0, 50.0)

  /** Explicit upper bound for a value: first bound >= v, else +Inf. */
  private def leOf(v: Column, bounds: Seq[Double]): Column =
    bounds.foldRight(lit(Double.PositiveInfinity): Column)(
      (b, acc) => when(v <= b, lit(b)).otherwise(acc))

  private val LeCase =
    """CASE WHEN l_quantity <= 5 THEN 5.0 WHEN l_quantity <= 10 THEN 10.0
      |     WHEN l_quantity <= 15 THEN 15.0 WHEN l_quantity <= 20 THEN 20.0
      |     WHEN l_quantity <= 25 THEN 25.0 WHEN l_quantity <= 30 THEN 30.0
      |     WHEN l_quantity <= 40 THEN 40.0 WHEN l_quantity <= 50 THEN 50.0
      |     ELSE 'infinity'::DOUBLE END""".stripMargin

  /** Per-flag delta-count bucket histogram of l_quantity. */
  private def qtyHistogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        leOf(col("l_quantity"), QtyBounds).as("le"))
      .groupBy(col("flag"), col("le"))
      .agg(count(lit(1)).as("count"))

  /** Bound-sorted bucket array per flag. */
  private def qtyBucketArrays(s: SparkSession, d: String): DataFrame =
    qtyHistogram(s, d)
      .groupBy(col("flag"))
      .agg(array_sort(collect_list(struct(col("le"), col("count")))).as("buckets"))

  /** Exact floor(log2(v)) for v >= 1 without floating log: binary digit count
    * of the integer part, minus one. */
  private def log2Floor(v: Column): Column =
    (length(bin(floor(v).cast("long"))) - 1).cast("int")

  private val EmptyExpBuckets = "array<struct<index:int,count:bigint>>"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A7/A8 — histogram_quantile at 50/95/99 per flag, one multi-percentile
    // UDF pass over the per-group bucket array (evaluated once per GROUP —
    // post-aggregation row volume, so UDF-vs-Expression cost is irrelevant
    // even at 100 TB).
    "q_a7_hist_quantile" -> ((s, d) => {
      val ps = array(lit(50.0), lit(95.0), lit(99.0))
      qtyBucketArrays(s, d)
        .withColumn("qs", HistogramFunctions.histogram_quantiles(col("buckets"), ps))
        .select(col("flag"),
          round(element_at(col("qs"), 1), 6).as("p50"),
          round(element_at(col("qs"), 2), 6).as("p95"),
          round(element_at(col("qs"), 3), 6).as("p99"))
    }),

    // A9 — merge per-(flag, linestatus) bucket groups into per-flag histograms
    // via the explode+reaggregate path (map-side partial agg; no UDAF).
    "q_a9_bucket_merge" -> ((s, d) => {
      val perLs = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"), col("l_linestatus").as("ls"),
          leOf(col("l_quantity"), QtyBounds).as("le"))
        .groupBy(col("flag"), col("ls"), col("le"))
        .agg(count(lit(1)).as("count"))
        .groupBy(col("flag"), col("ls"))
        .agg(array_sort(collect_list(struct(col("le"), col("count")))).as("buckets"))
      HistogramFunctions.mergeBuckets(perLs.select(col("flag"), col("buckets")),
          Seq(col("flag")), col("buckets"))
        .select(col("flag"), explode(col("buckets")).as("b"))
        .select(col("flag"), col("b.le").as("le"), col("b.count").as("count"))
    }),

    // A10 — delta→cumulative→delta round trip: cum is the prefix sum, rt must
    // reproduce the original delta counts exactly.
    "q_a10_roundtrip" -> ((s, d) => {
      qtyBucketArrays(s, d)
        .withColumn("cum", HistogramFunctions.buckets_to_cumulative(col("buckets")))
        .withColumn("rt", HistogramFunctions.buckets_to_delta(col("cum")))
        .select(col("flag"), explode(arrays_zip(col("buckets"), col("cum"), col("rt"))).as("z"))
        .select(col("flag"),
          col("z.buckets.le").as("le"),
          col("z.buckets.count").as("delta_count"),
          col("z.cum.count").as("cum_count"),
          col("z.rt.count").as("rt_count"))
    }),

    // A11 — exponential-histogram percentile at scale 0 over l_extendedprice;
    // bucket value = midpoint (2^i + 2^(i+1))/2.
    "q_a11_exp_quantile" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"), log2Floor(col("l_extendedprice")).as("idx"))
        .groupBy(col("flag"), col("idx"))
        .agg(count(lit(1)).as("count"))
        .groupBy(col("flag"))
        .agg(array_sort(collect_list(struct(col("idx").as("index"), col("count"))))
          .as("pos"))
        .select(col("flag"),
          round(HistogramFunctions.exp_histogram_quantile(lit(0), lit(0L), col("pos"),
            lit(null).cast(EmptyExpBuckets), lit(50.0)), 6).as("p50"),
          round(HistogramFunctions.exp_histogram_quantile(lit(0), lit(0L), col("pos"),
            lit(null).cast(EmptyExpBuckets), lit(90.0)), 6).as("p90"))
    }),

    // A12 — merge exponential histograms of DIFFERENT scales (linestatus 'O'
    // at scale 1, 'F' at scale 0) with the typed Aggregator: rescale to
    // min-scale (index/2, toward zero), sum per index, then quantile.
    "q_a12_exp_merge" -> ((s, d) => {
      val idx = when(col("l_linestatus") === "O",
          (length(bin(floor(col("l_extendedprice") * col("l_extendedprice")).cast("long"))) - 1).cast("int"))
        .otherwise(log2Floor(col("l_extendedprice")))
      val hists = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"), col("l_linestatus").as("ls"),
          when(col("l_linestatus") === "O", 1).otherwise(0).as("scale"),
          idx.as("idx"))
        .groupBy(col("flag"), col("ls"), col("scale"), col("idx"))
        .agg(count(lit(1)).as("count"))
        .groupBy(col("flag"), col("ls"), col("scale"))
        .agg(array_sort(collect_list(struct(col("idx").as("index"), col("count"))))
          .as("positive"))
        .select(col("flag"), col("scale"), lit(0L).as("zeroCount"),
          lit(0.0).as("zeroThreshold"), col("positive"),
          array().cast(EmptyExpBuckets).as("negative"))
      hists.groupBy(col("flag"))
        // udaf over a product type takes the case-class fields as separate args
        .agg(HistogramFunctions.merge_exp_hist(col("scale"), col("zeroCount"),
          col("zeroThreshold"), col("positive"), col("negative")).as("m"))
        .select(col("flag"),
          col("m.scale").as("scale"),
          col("m.zeroCount").as("zero_count"),
          round(HistogramFunctions.exp_histogram_quantile(col("m.scale"),
            col("m.zeroCount"), col("m.positive"), col("m.negative"), lit(50.0)), 6).as("p50"),
          round(HistogramFunctions.exp_histogram_quantile(col("m.scale"),
            col("m.zeroCount"), col("m.positive"), col("m.negative"), lit(90.0)), 6).as("p90"))
    }),

    // A12+A11 negative walk — merge exp-histograms whose NEGATIVE side is
    // populated ('O' rows land in negative buckets by magnitude, 'F' in
    // positive), then take quantiles that resolve inside the negative walk
    // (percentile.go:186-191) as well as the positive one, end-to-end through
    // the Aggregator. Same scale both sides, so merge rescale is identity and
    // the oracle is closed-form.
    "q_a12_exp_neg" -> ((s, d) => {
      val hists = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"), col("l_linestatus").as("ls"),
          log2Floor(col("l_extendedprice")).as("idx"))
        .groupBy(col("flag"), col("ls"), col("idx"))
        .agg(count(lit(1)).as("count"))
        .groupBy(col("flag"), col("ls"))
        .agg(array_sort(collect_list(struct(col("idx").as("index"), col("count"))))
          .as("bkts"))
        .select(col("flag"), lit(0).as("scale"), lit(0L).as("zeroCount"),
          lit(0.0).as("zeroThreshold"),
          when(col("ls") === "F", col("bkts"))
            .otherwise(array().cast(EmptyExpBuckets)).as("positive"),
          when(col("ls") === "O", col("bkts"))
            .otherwise(array().cast(EmptyExpBuckets)).as("negative"))
      hists.groupBy(col("flag"))
        .agg(HistogramFunctions.merge_exp_hist(col("scale"), col("zeroCount"),
          col("zeroThreshold"), col("positive"), col("negative")).as("m"))
        .select(col("flag"),
          col("m.scale").as("scale"),
          size(col("m.negative")).cast("long").as("n_neg_buckets"),
          round(HistogramFunctions.exp_histogram_quantile(col("m.scale"),
            col("m.zeroCount"), col("m.positive"), col("m.negative"), lit(25.0)), 6).as("p25"),
          round(HistogramFunctions.exp_histogram_quantile(col("m.scale"),
            col("m.zeroCount"), col("m.positive"), col("m.negative"), lit(90.0)), 6).as("p90"))
    }),

    // A15 — quantiles over RAW values (reference test/validate_percentiles.go:
    // 99-114 `quantile(0.5)(value)`): Spark exact `percentile` ≡ DuckDB
    // quantile_cont. percentile_approx is the 100 TB scale path (mergeable
    // sketch); exactness pinned vs it in HistoQueriesSpec.
    "q_a15_raw_quantile" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(expr("percentile(l_quantity, array(0.5D, 0.95D, 0.99D))").as("qs"))
        .select(col("flag"),
          round(element_at(col("qs"), 1), 6).as("p50"),
          round(element_at(col("qs"), 2), 6).as("p95"),
          round(element_at(col("qs"), 3), 6).as("p99"))
    }),

    // J2 — bucket alignment by bound over time: per-flag monthly CUMULATIVE
    // histogram snapshots (carry-forward grid), deltaBuckets between
    // consecutive snapshots must recover each month's own histogram exactly —
    // including 0-count rows for bounds seen only in earlier months.
    "q_j2_bucket_deltas" -> ((s, d) => {
      val base = Tables.lineitem(s, d).select(
        col("l_returnflag").as("flag"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        leOf(col("l_quantity"), QtyBounds).as("le"))
      // PERSISTED: cnt feeds three DAG branches (months, firsts, the grid
      // fill join), and Catalyst re-expands an un-cached subtree per branch —
      // measured at sf0.1 as SIX lineitem FileScans with zero exchange
      // reuse (j2_ab dev probe, commit 5683966). The aggregate is tiny
      // (flags × months × bounds), so caching it collapses the fact-table I/O to one scan —
      // the difference between 1× and 6× of 100 TB. Verify/Bench release it
      // via CacheHygiene.releaseAll.
      val cnt = base.groupBy(col("flag"), col("month"), col("le"))
        .agg(count(lit(1)).as("count"))
        .persist()
      // derive the month grid from the aggregated cnt, not from base — every
      // (flag, month) of base survives into cnt
      val months = cnt.select(col("flag"), col("month")).distinct()
      val firsts = cnt.groupBy(col("flag"), col("le")).agg(min(col("month")).as("fm"))
      val grid = months.join(firsts, Seq("flag")).filter(col("month") >= col("fm"))
        .select(col("flag"), col("month"), col("le"))
      val filled = grid.join(cnt, Seq("flag", "month", "le"), "left")
        .na.fill(0L, Seq("count"))
      val wCum = Window.partitionBy(col("flag"), col("le")).orderBy(col("month"))
      val snap = filled
        .withColumn("cum", sum(col("count")).over(wCum))
        .groupBy(col("flag"), col("month"))
        .agg(array_sort(collect_list(struct(col("le"), col("cum").as("count"))))
          .as("buckets"))
      val wLag = Window.partitionBy(col("flag")).orderBy(col("month"))
      snap
        .withColumn("prev", lag(col("buckets"), 1).over(wLag))
        .withColumn("delta",
          Temporality.deltaBuckets(col("buckets"), col("prev"), lit(false)))
        .select(col("flag"), col("month"), explode(col("delta")).as("b"))
        .select(col("flag"), col("month"), col("b.le").as("le"),
          col("b.count").as("delta_count"))
    }))

  def oracles: Map[String, String] = Map(
    "q_a7_hist_quantile" -> s"""WITH base AS (
      |  SELECT l_returnflag AS flag, $LeCase AS le FROM lineitem),
      |hist AS (SELECT flag, le, count(*) AS cnt FROM base GROUP BY 1, 2),
      |c AS (SELECT flag, le, cnt,
      |             sum(cnt) OVER (PARTITION BY flag ORDER BY le) AS cum,
      |             sum(cnt) OVER (PARTITION BY flag) AS total,
      |             coalesce(lag(le) OVER (PARTITION BY flag ORDER BY le), 0.0) AS prev_le
      |      FROM hist),
      |ps AS (SELECT unnest([50.0, 95.0, 99.0]) AS p),
      |sel AS (SELECT flag, p, le, cnt, cum, total, prev_le,
      |               row_number() OVER (PARTITION BY flag, p ORDER BY le) AS rn
      |        FROM c CROSS JOIN ps
      |        WHERE cum >= total * (p / 100.0)),
      |q AS (SELECT flag, p,
      |             CASE WHEN cnt = 0 THEN le
      |                  WHEN isinf(le) THEN prev_le
      |                  ELSE prev_le + ((total * (p / 100.0) - (cum - cnt)) / cnt) * (le - prev_le)
      |             END AS v
      |      FROM sel WHERE rn = 1)
      |SELECT flag,
      |       round(max(CASE WHEN p = 50 THEN v END), 6) AS p50,
      |       round(max(CASE WHEN p = 95 THEN v END), 6) AS p95,
      |       round(max(CASE WHEN p = 99 THEN v END), 6) AS p99
      |FROM q GROUP BY flag ORDER BY flag""".stripMargin,

    "q_a9_bucket_merge" -> s"""SELECT l_returnflag AS flag, $LeCase AS le,
      |       count(*) AS count
      |FROM lineitem GROUP BY 1, 2 ORDER BY flag, le""".stripMargin,

    "q_a10_roundtrip" -> s"""WITH base AS (
      |  SELECT l_returnflag AS flag, $LeCase AS le FROM lineitem),
      |hist AS (SELECT flag, le, count(*) AS cnt FROM base GROUP BY 1, 2)
      |SELECT flag, le, cnt AS delta_count,
      |       CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY le) AS BIGINT) AS cum_count,
      |       cnt AS rt_count
      |FROM hist ORDER BY flag, le""".stripMargin,

    "q_a11_exp_quantile" -> """WITH pr AS (
      |  SELECT l_returnflag AS flag,
      |         length(bin(CAST(floor(l_extendedprice) AS BIGINT))) - 1 AS idx
      |  FROM lineitem),
      |hist AS (SELECT flag, idx, count(*) AS cnt FROM pr GROUP BY 1, 2),
      |c AS (SELECT flag, idx, cnt,
      |             sum(cnt) OVER (PARTITION BY flag ORDER BY idx) AS cum,
      |             sum(cnt) OVER (PARTITION BY flag) AS total
      |      FROM hist),
      |ps AS (SELECT unnest([50.0, 90.0]) AS p),
      |sel AS (SELECT flag, p, idx,
      |               row_number() OVER (PARTITION BY flag, p ORDER BY idx) AS rn
      |        FROM c CROSS JOIN ps
      |        WHERE cum >= total * (p / 100.0)),
      |q AS (SELECT flag, p, (pow(2, idx) + pow(2, idx + 1)) / 2.0 AS v
      |      FROM sel WHERE rn = 1)
      |SELECT flag,
      |       round(max(CASE WHEN p = 50 THEN v END), 6) AS p50,
      |       round(max(CASE WHEN p = 90 THEN v END), 6) AS p90
      |FROM q GROUP BY flag ORDER BY flag""".stripMargin,

    "q_a12_exp_merge" -> """WITH pr AS (
      |  SELECT l_returnflag AS flag,
      |         CASE WHEN l_linestatus = 'O'
      |              THEN (length(bin(CAST(floor(l_extendedprice * l_extendedprice) AS BIGINT))) - 1) // 2
      |              ELSE length(bin(CAST(floor(l_extendedprice) AS BIGINT))) - 1
      |         END AS idx
      |  FROM lineitem),
      |hist AS (SELECT flag, idx, count(*) AS cnt FROM pr GROUP BY 1, 2),
      |c AS (SELECT flag, idx, cnt,
      |             sum(cnt) OVER (PARTITION BY flag ORDER BY idx) AS cum,
      |             sum(cnt) OVER (PARTITION BY flag) AS total
      |      FROM hist),
      |ps AS (SELECT unnest([50.0, 90.0]) AS p),
      |sel AS (SELECT flag, p, idx,
      |               row_number() OVER (PARTITION BY flag, p ORDER BY idx) AS rn
      |        FROM c CROSS JOIN ps
      |        WHERE cum >= total * (p / 100.0)),
      |q AS (SELECT flag, p, (pow(2, idx) + pow(2, idx + 1)) / 2.0 AS v
      |      FROM sel WHERE rn = 1)
      |SELECT flag, CAST(0 AS INTEGER) AS scale, CAST(0 AS BIGINT) AS zero_count,
      |       round(max(CASE WHEN p = 50 THEN v END), 6) AS p50,
      |       round(max(CASE WHEN p = 90 THEN v END), 6) AS p90
      |FROM q GROUP BY flag ORDER BY flag""".stripMargin,

    "q_a12_exp_neg" -> """WITH pr AS (
      |  SELECT l_returnflag AS flag, l_linestatus = 'O' AS neg,
      |         length(bin(CAST(floor(l_extendedprice) AS BIGINT))) - 1 AS idx
      |  FROM lineitem),
      |hist AS (SELECT flag, neg, idx, count(*) AS cnt FROM pr GROUP BY 1, 2, 3),
      |c AS (SELECT flag, neg, idx, cnt,
      |             sum(cnt) OVER (PARTITION BY flag
      |               ORDER BY neg DESC, idx) AS cum,
      |             sum(cnt) OVER (PARTITION BY flag) AS total
      |      FROM hist),
      |ps AS (SELECT unnest([25.0, 90.0]) AS p),
      |sel AS (SELECT flag, p, neg, idx,
      |               row_number() OVER (PARTITION BY flag, p
      |                 ORDER BY neg DESC, idx) AS rn
      |        FROM c CROSS JOIN ps
      |        WHERE cum >= total * (p / 100.0)),
      |q AS (SELECT flag, p,
      |             (CASE WHEN neg THEN -1 ELSE 1 END) *
      |               (pow(2, idx) + pow(2, idx + 1)) / 2.0 AS v
      |      FROM sel WHERE rn = 1),
      |nneg AS (SELECT flag, CAST(count(DISTINCT idx) AS BIGINT) AS n_neg_buckets
      |         FROM pr WHERE neg GROUP BY flag)
      |SELECT q.flag, CAST(0 AS INTEGER) AS scale,
      |       coalesce(nneg.n_neg_buckets, 0) AS n_neg_buckets,
      |       round(max(CASE WHEN p = 25 THEN v END), 6) AS p25,
      |       round(max(CASE WHEN p = 90 THEN v END), 6) AS p90
      |FROM q LEFT JOIN nneg ON nneg.flag = q.flag
      |GROUP BY q.flag, nneg.n_neg_buckets ORDER BY q.flag""".stripMargin,

    "q_a15_raw_quantile" -> """SELECT l_returnflag AS flag,
      |       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      |       round(quantile_cont(l_quantity, 0.95), 6) AS p95,
      |       round(quantile_cont(l_quantity, 0.99), 6) AS p99
      |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin,

    "q_j2_bucket_deltas" -> s"""WITH base AS (
      |  SELECT l_returnflag AS flag, strftime(l_shipdate, '%Y-%m') AS month,
      |         $LeCase AS le
      |  FROM lineitem),
      |cnt AS (SELECT flag, month, le, count(*) AS c FROM base GROUP BY 1, 2, 3),
      |months AS (SELECT DISTINCT flag, month FROM base),
      |firsts AS (SELECT flag, le, min(month) AS fm FROM cnt GROUP BY 1, 2),
      |grid AS (SELECT m.flag, m.month, f.le
      |         FROM months m JOIN firsts f ON f.flag = m.flag AND m.month >= f.fm)
      |SELECT g.flag, g.month, g.le, coalesce(c.c, 0) AS delta_count
      |FROM grid g LEFT JOIN cnt c
      |  ON c.flag = g.flag AND c.month = g.month AND c.le = g.le
      |ORDER BY g.flag, g.month, g.le""".stripMargin)
}
