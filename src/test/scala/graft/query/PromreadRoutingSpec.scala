package graft.query

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.OracleDefs.NowMs

/** P8 routing has two spellings — a Column expression (q_p8_route, the
  * oracle-checked truth table) and a plain Long form (the served read,
  * the sink queries). Both fold over [[Promread.Routes]]; this pins that they
  * agree on q_p8_route's seven cases and one millisecond either side of every
  * age and span threshold. */
class PromreadRoutingSpec extends SparkSpec {

  private val h = 3600L * 1000
  private val day = 24 * h

  // q_p8_route's (start, end) cases, relative to the pinned clock
  private val truthTable = Seq(
    (0L, 0L),
    (NowMs - 2 * h, NowMs - 90 * 60 * 1000L),
    (NowMs - 2 * day, NowMs - 2 * day + 12 * h),
    (NowMs - 30 * day, NowMs - 30 * day + 3 * day),
    (NowMs - 100 * day, NowMs - 100 * day + day),
    (NowMs - 2 * day, NowMs),
    (NowMs - h, NowMs))

  // every threshold ±1 ms on one axis, the other axis inside its bound
  // (age = span + 1 ms, which clears only the finer tiers' age bounds), with
  // the tier each should route to: one ms under stays, the threshold itself
  // and one ms over fall through to the next coarser tier
  private val boundaries: Seq[((Long, Long), String)] = {
    val tiers = Promread.Routes.map(_._1) :+ Promread.CoarsestTier
    Promread.Routes.zipWithIndex.flatMap { case ((tier, maxAge, maxSpan), i) =>
      Seq(-1L, 0L, 1L).flatMap { e =>
        val expected = if (e < 0) tier else tiers(i + 1)
        val age = maxAge + e
        val span = maxSpan + e
        Seq((NowMs - age, NowMs - age + 1) -> expected,
          (NowMs - span - 1, NowMs - 1) -> expected)
      }
    }
  }

  private def columnForm(cases: Seq[(Long, Long)]): Seq[String] = {
    import spark.implicits._
    cases.zipWithIndex.map { case ((s, e), i) => (i, s, e) }
      .toDF("i", "start_ms", "end_ms")
      .select(col("i"), Promread.selectTable(col("start_ms"), col("end_ms"), NowMs))
      .collect().sortBy(_.getInt(0)).map(_.getString(1)).toSeq
  }

  test("Column and Long routing agree on q_p8_route's cases and every threshold ±1 ms") {
    val cases = truthTable ++ boundaries.map(_._1)
    val longForm = cases.map { case (s, e) => Promread.selectTable(s, e, NowMs) }
    assert(columnForm(cases) === longForm)
    assert(longForm === Seq("metrics_raw", "metrics_raw", "metrics_1m",
      "metrics_5m", "metrics_1h", "metrics_5m", "metrics_1m") ++ boundaries.map(_._2))
  }
}
