package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Summed task metrics of the jobs attributed to one key. */
final class JobCost {
  var jobs = 0L
  var jobWallMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Attributes every Spark job to the module that submitted it, by the job's
  * call site (the stack captured at submission), and to the benchmark op
  * running on the submitting thread (the `perfbench.op` local property).
  * Call-site keys, first match wins:
  *   land     GrpcOtlpReceiver (the per-Export landing write)
  *   stream   GraftApp (every job of a micro-batch: Structured Streaming
  *            gives them all the stream's start() call site, so convert,
  *            state, raw write, cascade and compaction are not told apart)
  *   read     RemoteReadServer (remote-read queries)
  *   other    anything else */
final class Ledger extends SparkListener {
  private val byJob = mutable.HashMap.empty[Int, (String, String, Long)]
  private val byStage = mutable.HashMap.empty[Int, Int]
  private val site = mutable.HashMap.empty[String, JobCost]
  private val op = mutable.HashMap.empty[String, JobCost]
  /** Off until the traced part of a run starts; off, every event is dropped. */
  @volatile var on: Boolean = false

  private def classify(s: String): String = {
    if (s.contains("GrpcOtlpReceiver")) "land"
    else if (s.contains("GraftApp")) "stream"
    else if (s.contains("RemoteReadServer")) "read"
    else "other"
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val props = Option(e.properties)
    // a stage's details are the long form of the job's call site: the
    // submitting stack from the first frame outside Spark
    val k = classify(e.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n"))
    val o = props.flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("")
    byJob(e.jobId) = (k, o, e.time)
    e.stageIds.foreach(s => byStage(s) = e.jobId)
    site.getOrElseUpdate(k, new JobCost).jobs += 1
    if (o.nonEmpty) op.getOrElseUpdate(o, new JobCost).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
    byJob.get(e.jobId).foreach { case (k, o, t0) =>
      val ms = (e.time - t0).toDouble
      site(k).jobWallMs += ms
      if (o.nonEmpty) op(o).jobWallMs += ms
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (!on || m == null) return
    byStage.get(e.stageId).flatMap(byJob.get).foreach { case (k, o, _) =>
      (Seq(site(k)) ++ (if (o.nonEmpty) Seq(op(o)) else Nil)).foreach { c =>
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def sites: Map[String, String] = synchronized(site.map { case (k, c) =>
    k -> f"jobs=${c.jobs} cpu_ms=${c.cpuMs}%.0f out_bytes=${c.outputBytes}" }.toMap)
  def siteCost(k: String): JobCost = synchronized(site.getOrElse(k, new JobCost))
  def opCost(o: String): JobCost = synchronized(op.getOrElse(o, new JobCost))
}

/** Counts, per op, range-partitioning exchanges (each runs one
  * boundary-sampling job) and files scanned, from every executed plan. */
final class PlanLedger extends QueryExecutionListener {
  private val sampling = mutable.HashMap.empty[String, Long]
  private val files = mutable.HashMap.empty[String, Long]
  @volatile var currentOp: String = ""
  @volatile var on: Boolean = false

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    if (!on) return
    val o = currentOp
    if (o.isEmpty) return
    val all = nodes(qe.executedPlan)
    val ranges = all.count {
      case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    val nFiles = all.collect { case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    synchronized {
      sampling(o) = sampling.getOrElse(o, 0L) + ranges
      files(o) = files.getOrElse(o, 0L) + nFiles
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def samplingJobs(o: String): Long = synchronized(sampling.getOrElse(o, 0L))
  def filesRead(o: String): Long = synchronized(files.getOrElse(o, 0L))
}

object Ledger {
  /** Runs `f` with every job it submits from this thread tagged `op`. */
  def tagged[T](spark: SparkSession, op: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", op)
    try f finally sc.setLocalProperty("perfbench.op", null)
  }
}
