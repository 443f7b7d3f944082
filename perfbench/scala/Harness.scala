package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options shared by every workload. `root` is the run's
  * private temp root: storage, checkpoints, the landing dir, java.io.tmpdir
  * and spark.local.dir all live under it, and the launcher removes it at
  * exit. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, root: File, out: File, spans: Option[File],
    parallelism: Int, corrupt: Boolean, expected: File,
    record: Option[File])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", new File(req("root")), new File(req("out")),
      m.get("spans").map(new File(_)), req("parallelism").toInt,
      m.get("corrupt").contains("1"), new File(req("expected")),
      m.get("record").map(new File(_)))
  }
}

/** Percentiles as reported everywhere in this benchmark: linear
  * interpolation between closest ranks. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** One traced span: a name, its wall interval (ns, monotonic clock), the
  * span that caused it (0 = none) and the op it belongs to. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, traceId: String)

/** In-memory span store, written once at exit; records only while `on`
  * (the traced part of a traced run). */
final class Spans {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  @volatile var on: Boolean = false

  def apply[T](name: String, traceId: String, parent: Long = 0L)(f: Long => T): T = {
    if (!on) return f(0L)
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try f(id) finally done.add(Span(id, name, t0, System.nanoTime(), parent, traceId))
  }

  def all: Seq[Span] = done.asScala.toSeq

  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"trace_id":"${s.traceId}"}""")
    } finally w.close()
  }
}

/** Process-level meters sampled around the timed window: process CPU,
  * post-GC heap, GC time and the 1-minute load average. */
object Meters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def load1: Double = os.getSystemLoadAverage
  /** (steal, all) CPU ticks from Linux's /proc/stat: steal is time the
    * hypervisor ran other guests while this one was runnable, the share of a
    * loaded host that the guest's own load average does not show. */
  def cpuTicks: Option[(Long, Long)] = scala.util.Try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").tail.map(_.toLong)
    (f(7), f.sum)
  }.toOption
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Peak of the heap in use right after a full collection (summed over
    * the heap pools, from each GC's own after-usage) while it is open.
    * Young collections are left out: what they leave behind depends on when
    * the old generation was last collected, not on the live set. */
  final class HeapPeak extends AutoCloseable {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (info.getGcAction == "end of major GC") {
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, after) }
          }
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    def peakMb: Double = peak / (1024.0 * 1024.0)
    override def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  }
}

/** Everything a workload reports; serialized to the result file the
  * launcher turns into the final metrics line. */
final class Result(val workload: String) {
  val context = mutable.LinkedHashMap.empty[String, Any]
  val latencyMs = mutable.ArrayBuffer.empty[Double]
  val freshMs = mutable.ArrayBuffer.empty[Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  var setupS = 0.0
  var attempted = 0L
  var failed = 0L
  var throughputPerS = 0.0
  var cpuMsPerOp = 0.0
  var heapPeakMb = 0.0
  var correct = true

  def fail(msg: String): Unit = synchronized {
    correct = false
    if (errors.size < 50) errors += msg
    System.err.println(s"[perfbench] $msg")
  }

  /** Load band: the 1-minute load average sampled at a phase boundary. */
  def loadSample(label: String): Unit =
    context(s"load1_$label") = Meters.load1

  def toJson: String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("workload", workload)
    m.put("correct", correct)
    m.put("attempted", attempted)
    m.put("failed", failed)
    m.put("setup_s", setupS)
    m.put("latency_ms", latencyMs.asJava)
    m.put("fresh_ms", freshMs.asJava)
    m.put("throughput_per_s", throughputPerS)
    m.put("cpu_ms_per_op", cpuMsPerOp)
    m.put("heap_peak_mb", heapPeakMb)
    m.put("layers", layers.asJava)
    m.put("context", context.map { case (k, v) => k -> (v match {
      case s: Seq[_] => s.asJava
      case o => o
    }) }.asJava)
    m.put("errors", errors.asJava)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m)
  }
}

/** A timed window: process CPU and GC over it, the load band and the host's
  * steal share, and the peak heap after a full collection from its start
  * until [[settledHeapMb]]. */
final class Window(res: Result, label: String) {
  res.loadSample(s"${label}_start")
  private val heap = new Meters.HeapPeak
  private val cpu0 = Meters.cpuNs
  private val gc0 = Meters.gcMs
  private val ticks0 = Meters.cpuTicks
  private val t0 = System.nanoTime()
  var seconds = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  def close(): this.type = {
    seconds = (System.nanoTime() - t0) / 1e9
    cpuMs = (Meters.cpuNs - cpu0) / 1e6
    gcMs = (Meters.gcMs - gc0).toDouble
    res.loadSample(s"${label}_end")
    for ((s0, a0) <- ticks0; (s1, a1) <- Meters.cpuTicks if a1 > a0)
      res.context(s"steal_frac_$label") = (s1 - s0).toDouble / (a1 - a0)
    this
  }
  /** The larger of the window's own full collections and the heap left
    * once its work has settled: `settles` more full collections 0.5 s apart,
    * the smallest counting, so that one landing in the middle of a
    * background micro-batch does not count that batch's buffers. Read right
    * after each collection, since GC notifications arrive late under load. */
  def settledHeapMb(settles: Int = 1): Double = {
    heap.close()
    val left = (1 to settles).map { i =>
      if (i > 1) Thread.sleep(500)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
    math.max(heap.peakMb, left)
  }
}

object Session {
  /** The repo's canonical session, sized to the recorded parallelism, with
    * every scratch location inside the run's temp root. */
  def start(o: Opts): SparkSession = {
    val local = new File(o.root, "spark-local")
    local.mkdirs()
    val s = graft.Sessions.builder(s"local[${o.parallelism}]", o.parallelism)
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(o.root, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(o.root, "hadoop").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // plan strings keep whole scan paths: q_p8_route_mv_hist checks its
      // routed plan's text for the tier directory, and the default
      // 100-character cut drops it once the temp root's path is long
      .config("spark.sql.maxMetadataStringLength", "4096")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def context(res: Result, o: Opts, spark: SparkSession): Unit = {
    res.context("seed") = o.seed
    res.context("seconds") = o.seconds
    res.context("nproc") = Runtime.getRuntime.availableProcessors()
    res.context("spark_parallelism") = o.parallelism
    res.context("spark_version") = spark.version
    res.context("jvm") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"
    res.context("max_heap_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
