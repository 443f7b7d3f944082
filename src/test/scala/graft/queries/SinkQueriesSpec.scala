package graft.queries

import java.nio.file.Files

import graft.SparkSpec

/** The MV-routing plan checks inside the q_p8 builders must hold whatever
  * the store path looks like: plan text truncates paths past
  * `spark.sql.maxMetadataStringLength` (default 100), so a check on it fails
  * a correctly routed query once the scratch dir is deep enough. */
class SinkQueriesSpec extends SparkSpec {

  test("q_p8 routing checks hold under a store path past the plan-text limit") {
    assert(spark.conf.get("spark.sql.maxMetadataStringLength") === "100")
    val deep = Files.createTempDirectory("graft_" + "d" * 120).toString
    assert(deep.length > 100)
    val saved = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", deep)
    try {
      Seq("q_p8_route_mv", "q_p8_route_mv_hist").foreach { q =>
        assert(SinkQueries.queries(q)(spark, Sf).count() > 0, q)
      }
      // the case is real: the routed tier's name is cut from its plan text
      val tierPlan = spark.read.parquet(s"$deep/graft_q_p8_mv_hist/metrics_5m")
        .queryExecution.executedPlan.toString
      assert(!tierPlan.contains("metrics_5m"), tierPlan)
    } finally System.setProperty("java.io.tmpdir", saved)
  }

  test("q_read_path_5m_hist scans only the pruned 5m tier and aggregates " +
      "partially below its exchange") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.plans.PlanAudit
    val qe = SinkQueries.queries("q_read_path_5m_hist")(spark, Sf).queryExecution
    assert(qe.toRdd.count() > 0)
    val nodes = PlanAudit.nodes(qe.executedPlan)
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    scans.foreach { f =>
      assert(f.relation.location.rootPaths.map(_.getName) === Seq("metrics_5m"))
      assert(f.partitionFilters.nonEmpty, s"unpruned scan: ${f.simpleString(200)}")
    }
    def partial(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case h: HashAggregateExec => h.aggregateExpressions.exists(_.mode == Partial)
      case o: ObjectHashAggregateExec => o.aggregateExpressions.exists(_.mode == Partial)
      case _ => false
    }
    val exchanges = nodes.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(PlanAudit.nodes(e.child).exists(partial),
        s"no partial aggregate below ${e.simpleString(120)}")
    }
  }
}
