package perfbench

import java.lang.management.ManagementFactory

/** One benchmark run of one workload; `perfbench/run.py` builds and starts
  * it, then turns the result file into the metrics line. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    // set-up is timed from JVM start, so session start-up counts
    val jvmAgeNs = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val t0 = System.nanoTime() - jvmAgeNs
    val res = new Result(o.workload)
    res.loadSample("setup_start")
    val spark = Session.start(o)
    Session.context(res, o, spark)
    val spans = new Spans
    val ledger =
      if (!o.trace) None
      else {
        val l = new Ledger
        val p = new PlanLedger
        spark.sparkContext.addSparkListener(l)
        spark.listenerManager.register(p)
        Some((l, p))
      }
    val error = try {
      o.workload match {
        case "ingest_otlp" => IngestOtlp.run(o, spark, res, t0, ledger, spans)
        case "read_promread" => ReadPromread.run(o, spark, res, t0, ledger, spans)
        case "batch_fleet" => BatchFleet.run(o, spark, res, t0, ledger, spans)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      None
    } catch { case e: Throwable => Some(e) }
    if (o.trace) o.spans.foreach(spans.write)
    java.nio.file.Files.writeString(o.out.toPath, res.toJson)
    error.foreach(_.printStackTrace())
    // everything the run made lives in its temp root, which the launcher
    // removes; halting skips Spark's shutdown, a second or two per run
    Runtime.getRuntime.halt(if (error.isEmpty) 0 else 1)
  }
}
