package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.metrics.EventsMetrics

/** Relational / scalar-function operator queries: A16 verification aggs,
  * O1/O2/O5 sorts+limits, U1 union, joins (free per SURVEY §2.3), F-series
  * scalar functions, F3/F4 time bucketing.
  */
object CoreQueries {

  /** Money → exact integer cents: `round(x*100)` per row on both engines, so
    * sums are int64-exact and float association order can never flip a hash. */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast("long")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A16/F5 — verification aggregates (reference scripts/run_tests.sh:170-201)
    "q_a16_verify_aggs" -> ((s, d) => {
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("row_cnt"),
        count_distinct(col("l_partkey")).as("part_cnt"),
        sum(col("l_quantity")).cast("long").as("qty_sum"),
        sum(cents(col("l_extendedprice"))).as("price_cents"),
        date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_ship"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"))
    }),

    // O1/O2 — ORDER BY + LIMIT with deterministic tiebreak (handler.go:297-298)
    "q_o1_sort_limit" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }),

    // O5 — ORDER BY count DESC (Makefile:103 top-metrics monitoring query)
    "q_o5_group_topk" -> ((s, d) => {
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("event_type"))
    }),

    // U1 — UNION ALL (run_tests.sh:178-186)
    "q_u1_union_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F")
        .select(lit("F").as("src"), col("o_orderkey"))
        .unionAll(o.filter(col("o_orderstatus") === "O")
          .select(lit("O").as("src"), col("o_orderkey")))
    }),

    // Joins come free from the DataFrame API (SURVEY §2.3); the dimension side
    // is broadcast so the fact scan never shuffles for the join itself.
    "q_join_agg" -> ((s, d) => {
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      val o = Tables.orders(s, d)
      o.join(c.hint("broadcast"), col("o_custkey") === col("c_custkey"))
        .join(n.hint("broadcast"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("order_cnt"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
    }),

    // F1/F10/F16-ish scalar battery: scalar extraction from the JSON-ish props
    // string, string funcs, ms-epoch conversion (F14). Extraction is substring
    // arithmetic, not regexp_extract: props is the fixed shape '{"k": N}', and
    // the regex path benched ~3 s cold / +0.4 s warm at sf0.1 against ~0.9 s
    // for substr (r3 verdict task 4). Regex coverage (F1/F16) stays exercised
    // by q_p4_matchers' rlike matchers and the fingerprint normalize.
    "q_f_scalars" -> ((s, d) => {
      EventsMetrics.fromEvents(s, d).select(
        col("event_id"),
        col("props").substr(lit(7), length(col("props")) - 7)
          .cast("long").as("k_val"),
        upper(col("event_type")).as("etype_u"),
        length(col("props")).cast("long").as("props_len"),
        ascii(col("event_type")).cast("long").as("etype_ascii"),
        col("ts_ms"))
    }),

    // F3/F4 — time bucketing as ms-epoch floors (engine-portable twin of
    // toStartOfFiveMinute, schema.sql:255)
    "q_f3_time_buckets" -> ((s, d) => {
      EventsMetrics.fromEvents(s, d)
        .groupBy((col("ts_ms") - pmod(col("ts_ms"), lit(300000L))).as("bucket5_ms"))
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("value"))).as("value_cents"))
    }))

  def oracles: Map[String, String] = Map(
    "q_a16_verify_aggs" ->
      """SELECT count(*) AS row_cnt,
        |       count(DISTINCT l_partkey) AS part_cnt,
        |       CAST(sum(l_quantity) AS BIGINT) AS qty_sum,
        |       CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS price_cents,
        |       strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
        |       strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
        |FROM lineitem""".stripMargin,

    "q_o1_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,

    "q_o5_group_topk" ->
      """SELECT event_type, count(*) AS cnt
        |FROM events GROUP BY event_type
        |ORDER BY cnt DESC, event_type""".stripMargin,

    "q_u1_union_all" ->
      """SELECT * FROM (
        |  SELECT 'F' AS src, o_orderkey FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'O' AS src, o_orderkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY src, o_orderkey""".stripMargin,

    "q_join_agg" ->
      """SELECT n_name, count(*) AS order_cnt,
        |       CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_f_scalars" ->
      """SELECT event_id,
        |       CAST(substring(props, 7, length(props) - 7) AS BIGINT) AS k_val,
        |       upper(event_type) AS etype_u,
        |       CAST(length(props) AS BIGINT) AS props_len,
        |       CAST(ascii(event_type) AS BIGINT) AS etype_ascii,
        |       epoch_ms(ts) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin,

    "q_f3_time_buckets" ->
      """SELECT (epoch_ms(ts) // 300000) * 300000 AS bucket5_ms,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1 ORDER BY bucket5_ms""".stripMargin)
}
