package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch fleet's input tables, shaped like the sf0.1 fixtures of
  * TESTDATA.md (lineitem, a month of events, a document corpus; the fleet
  * reads no other table) and generated from a FIXED salt, so each
  * op's row count and fingerprint can be checked against recorded values.
  * Every column is a pure function of the row id (xxhash64 of id and a
  * per-column salt), so the bytes do not depend on partitioning. */
object FleetData {
  val Salt = 20240101L

  val Sizes: Map[String, Long] = Map("lineitem" -> 600000L, "events" -> 100000L,
    "documents" -> 5000L)

  private val Words = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "agg", "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "vector", "join", "customer", "the")

  private def h(salt: Int, c: Column = col("id")): Column = xxhash64(c, lit(Salt + salt))
  /** Uniform [0, 1) from the row id. */
  private def u(salt: Int): Column =
    pmod(h(salt), lit(1L << 40)).cast("double") / (1L << 40).toDouble
  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pmod(h(salt), lit(xs.size.toLong)) + 1).cast("int"))
  private def int(salt: Int, lo: Long, n: Long): Column = pmod(h(salt), lit(n)) + lo
  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt) * (hi - lo), 2)
  private def ts(salt: Int, from: String, days: Int): Column =
    timestamp_seconds(unix_seconds(to_timestamp(lit(from))) +
      pmod(h(salt), lit(days.toLong * 86400)))

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def r(t: String) = spark.range(0, Sizes(t), 1, 4).toDF()
    Seq(
      // the lineitem columns the fleet reads (Tables.lineitem needs l_shipdate)
      "lineitem" -> r("lineitem").select((col("id") / 4).cast("long").as("l_orderkey"),
        int(3, 1, 50).cast("double").as("l_quantity"),
        pick(7, Seq("A", "N", "R")).as("l_returnflag"),
        ts(9, "1995-01-02", 2498).as("l_shipdate")),
      // ts rises with event_id across January 2024 (the window the metrics
      // and sink queries read), 25 s steps plus jitter
      "events" -> r("events").select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 25000000L +
          pmod(h(1), lit(20000000L))).as("ts"),
        int(2, 0, 1500).as("user_id"),
        pick(3, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
        money(4, 0, 560).as("value"),
        format_string("{\"k\": %d}", int(5, 0, 100)).as("props")),
      "documents" -> documents(r("documents")))
  }

  /** Word-salad documents of 10-100 words over a 30-word vocabulary; every
    * 613th document repeats its predecessor's text exactly. */
  private def documents(ids: DataFrame): DataFrame = {
    val src = when(pmod(col("id"), lit(613L)) === 1, col("id") - 1).otherwise(col("id"))
    val nWords = (pmod(xxhash64(src, lit(Salt)), lit(91L)) + 10).cast("int")
    val text = array_join(transform(sequence(lit(1), nWords), i =>
      element_at(array(Words.map(lit): _*),
        (pmod(xxhash64(src, i, lit(Salt + 1)), lit(Words.size.toLong)) + 1).cast("int"))), " ")
    ids.select(col("id").as("doc_id"), text.as("text"),
      pick(1, Seq("en", "en", "en", "en", "en", "en", "de", "de", "de", "es", "es", "es",
        "fr", "fr", "fr", "zh", "zh", "zh", "zh", "zh")).as("lang"),
      concat(lit("src"), int(2, 0, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Writes every table as a parquet directory under `dir`. */
  def write(spark: SparkSession, dir: java.io.File): Unit =
    tables(spark).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(new java.io.File(dir, s"$name.parquet").getPath)
    }
}
