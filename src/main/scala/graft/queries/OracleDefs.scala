package graft.queries

/** Shared constants between the Spark queries and their DuckDB oracle SQL.
  *
  * The driver compares Spark parquet output against DuckDB running
  * [[graft.SparkEntry.oracleSql]] over the same parquet tables, hashing values
  * after sorting columns by name and sorting rows — so every query/oracle
  * pair aliases columns identically, and only a LIMIT/top-k ordering (which
  * picks WHICH rows appear) must match between the two sides.
  */
object OracleDefs {

  /** Pinned "now" for every wall-clock-relative rule (validation bounds,
    * TTL stamping, resolution routing): 2024-01-24T00:00:00Z — inside the
    * events table's Jan-2024 span so age-based branches all get exercised.
    * ms-epoch, identical literal on both sides. */
  val NowMs: Long = 1706054400000L

  val HourMs: Long = 3600L * 1000
  val DayMs: Long = 24 * HourMs

  /** The canonical events→metrics view (Spark twin:
    * [[graft.metrics.EventsMetrics.fromEvents]]). ns→ms epoch flooring is
    * engine-stable (Spark reads µs-truncated, both floor to ms). */
  val EvtCte: String =
    """WITH evt AS (
      |  SELECT event_id,
      |         epoch_ms(ts) AS ts_ms,
      |         'ws-' || CAST(user_id % 4 AS VARCHAR) AS workspace_id,
      |         'evt_' || event_type AS metric,
      |         'svc-' || CAST(user_id % 3 AS VARCHAR) AS service_name,
      |         user_id, event_type, value, props
      |  FROM events
      |)""".stripMargin

  /** Stopwords shared by the text-analysis queries. */
  val Stopwords: Seq[String] = Seq("the", "a")

  /** Boundary-stable 4-dp rounding for AVERAGES, identical on both engines.
    *
    * `value` is exact cents, so every tier average is a rational k/(100·n·…)
    * that can land EXACTLY on a `round(·, 4)` half boundary (x.xxxx5); the
    * two engines then disagree by the last digit whenever their float
    * summation ORDER differs by an ulp (seen at sf0.1: q_a2/q_a3/q_st8).
    * Shifting the argument by 1e-9 — far above the ≤ few-ulp engine noise,
    * far below the ≥ ~3e-6 spacing of the avg lattice — moves every boundary
    * strictly off the lattice, making the rounding deterministic for BOTH
    * engines. Sums need no shift: cent sums sit on the 0.01 lattice, half a
    * cent from any 2-dp boundary. */
  def stableAvg4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.round(
      c + org.apache.spark.sql.functions.lit(1e-9), 4)

  /** SQL twin of [[stableAvg4]] — wrap the avg expression. */
  def stableAvg4Sql(expr: String): String = s"round($expr + 1e-9, 4)"
}
