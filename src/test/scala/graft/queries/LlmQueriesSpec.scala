package graft.queries

import graft.{SparkEntry, SparkSpec}

/** q_quality_cut's production/oracle split (r12 verdict item 1): the benched
  * path thresholds on approx_percentile (GK sketch, memory bounded by the
  * accuracy parameter at any corpus size); the exact-percentile form is the
  * verify-only det twin. Two contracts pinned here:
  *
  *   - TOLERANCE: sketch and exact thresholds (and the kept-count they
  *     induce) agree within ±5% — the reference's own three-way percentile
  *     gate (reference test/validate_percentiles.go:341-385 validates
  *     engine-vs-engine percentiles at 5% relative tolerance);
  *   - PLAN SHAPE: the executed production plan carries NO exact-Percentile
  *     aggregate (PlanAudit.exactPercentileAggs), with the det twin as the
  *     positive control proving the auditor sees the bad shape.
  */
class LlmQueriesSpec extends SparkSpec {

  private def row(name: String) =
    SparkEntry.queries(name)(spark, Sf).collect().head

  test("quality cut: approx threshold tracks exact within the 5% gate") {
    val prod = row("q_quality_cut")
    val det = row("q_quality_cut_det")
    val (thrA, thrE) = (prod.getDouble(2), det.getDouble(2))
    assert(thrE > 0.0)
    assert(math.abs(thrA - thrE) / thrE <= 0.05,
      s"approx P75 $thrA vs exact $thrE drifts past 5%")
    val (keptA, keptE) = (prod.getLong(0), det.getLong(0))
    assert(keptE > 0L)
    assert(math.abs(keptA - keptE).toDouble / keptE <= 0.05,
      s"approx kept $keptA vs exact kept $keptE drifts past 5%")
  }

  test("per-language quality cut: approx tracks exact within the 5% gate per group") {
    def byLang(name: String): Map[String, (Long, Double)] =
      SparkEntry.queries(name)(spark, Sf).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    val prod = byLang("q_quality_cut_by_lang")
    val det = byLang("q_quality_cut_by_lang_det")
    assert(det.nonEmpty && prod.keySet === det.keySet)
    det.foreach { case (lang, (keptE, thrE)) =>
      val (keptA, thrA) = prod(lang)
      assert(thrE > 0.0, lang)
      assert(math.abs(thrA - thrE) / thrE <= 0.05,
        s"$lang: approx P75 $thrA vs exact $thrE drifts past 5%")
      assert(math.abs(keptA - keptE).toDouble / keptE <= 0.05,
        s"$lang: approx kept $keptA vs exact kept $keptE drifts past 5%")
    }
  }

  test("per-language LM cut: approx tracks exact within the 5% gate per group") {
    def byLang(name: String): Map[String, (Long, Double)] =
      SparkEntry.queries(name)(spark, Sf).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    val prod = byLang("q_lm_cut_by_lang")
    val det = byLang("q_lm_cut_by_lang_det")
    assert(det.nonEmpty && prod.keySet === det.keySet)
    det.foreach { case (lang, (keptE, thrE)) =>
      val (keptA, thrA) = prod(lang)
      assert(thrE > 0.0, lang)
      assert(math.abs(thrA - thrE) / thrE <= 0.05,
        s"$lang: approx P50 $thrA vs exact $thrE drifts past 5%")
      assert(math.abs(keptA - keptE).toDouble / keptE <= 0.05,
        s"$lang: approx kept $keptA vs exact kept $keptE drifts past 5%")
    }
  }

  test("benched per-language LM cut has no exact-percentile aggregate") {
    val prod = SparkEntry.queries("q_lm_cut_by_lang")(spark, Sf)
    prod.collect()
    val flagged = graft.plans.PlanAudit.exactPercentileAggs(
      prod.queryExecution.executedPlan)
    assert(flagged.isEmpty,
      s"exact Percentile in the BENCHED LM-cut plan: $flagged")
  }

  test("benched per-language quality cut has no exact-percentile aggregate") {
    val prod = SparkEntry.queries("q_quality_cut_by_lang")(spark, Sf)
    prod.collect()
    val flagged = graft.plans.PlanAudit.exactPercentileAggs(
      prod.queryExecution.executedPlan)
    assert(flagged.isEmpty,
      s"exact Percentile in the BENCHED per-language quality-cut plan: $flagged")
  }

  test("benched quality cut has no exact-percentile aggregate; det twin does") {
    val prod = SparkEntry.queries("q_quality_cut")(spark, Sf)
    prod.collect()
    val flagged = graft.plans.PlanAudit.exactPercentileAggs(
      prod.queryExecution.executedPlan)
    assert(flagged.isEmpty,
      s"exact Percentile in the BENCHED quality-cut plan: $flagged")
    // positive control: the auditor must see the exact aggregate in the twin
    val det = SparkEntry.queries("q_quality_cut_det")(spark, Sf)
    det.collect()
    assert(graft.plans.PlanAudit.exactPercentileAggs(
      det.queryExecution.executedPlan).nonEmpty,
      "auditor failed to flag the det twin's exact Percentile aggregate")
    // positive controls for the OTHER exact-percentile spellings (r13
    // review finding: percentile_cont/percentile_disc are the same
    // all-values-in-one-buffer PercentileBase state and must not slip
    // through the gate)
    Seq("percentile_cont", "percentile_disc").foreach { fn =>
      val df = spark.range(100).selectExpr(
        s"$fn(0.75) WITHIN GROUP (ORDER BY cast(id as double)) as p")
      df.collect()
      assert(graft.plans.PlanAudit.exactPercentileAggs(
        df.queryExecution.executedPlan).nonEmpty,
        s"auditor failed to flag $fn")
    }
  }

  test("scan-speed batteries: zero shuffles as operators and as queries") {
    import org.apache.spark.sql.functions._
    // NO exchange at all — the executed proof of the "per-row projection,
    // scan speed" claim, for the operators and their registered queries
    val ops = Seq(
      "gopher signals" -> graft.llm.TextAnalysis.withGopherSignals(
        LlmQueries.docsGopherFix(spark, Sf), col("text")),
      "chunking" -> graft.llm.Packing.chunkTokens(
        graft.model.Tables.documents(spark, Sf),
        col("doc_id"), col("text"), 32, 8))
    ops.foreach { case (name, df) =>
      df.queryExecution.toRdd.foreach(_ => ())
      val ex = graft.plans.PlanAudit.shuffleExchanges(
        df.queryExecution.executedPlan)
      assert(ex.isEmpty, s"$name shuffles: $ex")
    }
    Seq("q_gopher_repetition", "q_gopher_rules", "q_c4_clean",
        "q_chunk_overlap").foreach { q =>
      val df = SparkEntry.queries(q)(spark, Sf)
      df.collect()
      val ex = graft.plans.PlanAudit.shuffleExchanges(
        df.queryExecution.executedPlan)
      assert(ex.isEmpty, s"$q shuffles: $ex")
    }
    // positive control: a groupBy query must be visible to the auditor
    val ctl = graft.model.Tables.documents(spark, Sf)
      .groupBy(col("source")).count()
    ctl.collect()
    assert(graft.plans.PlanAudit.shuffleExchanges(
      ctl.queryExecution.executedPlan).nonEmpty,
      "auditor failed to see a real shuffle")
  }
}
