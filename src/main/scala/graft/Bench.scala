package graft
import org.apache.spark.sql.SparkSession
object Bench {
  // ALL JSON number formatting in this file goes through these two
  // Locale.ROOT formatters: the f"" interpolator uses the JVM default
  // locale, and a comma-decimal locale would turn both the driver-parsed
  // tail line and the committed detail artifact into invalid JSON
  private def fmt(pattern: String, d: Double): String =
    String.format(java.util.Locale.ROOT, pattern, Double.box(d))
  private def ms(d: Double): String = fmt("%.3f", d)

  /** The single stdout line the driver parses, built in one place so
    * BenchContractSpec can pin its worst-case length against the driver's
    * ~2000-char tail window (the r10 failure mode: a long line starts before
    * the captured tail begins and the driver reads half a JSON object).
    */
  /** How many per-query entries ride on the driver-parsed line. Failures
    * fill the slots FIRST, in sorted name order (deterministic across
    * runs — never hash-map iteration order), then the slowest successes;
    * a mass-failure round can still exceed WorstN failures, in which case
    * the alphabetically-first ride the line, the `failed` COUNT is always
    * exact, and the complete ERR list is on the earlier errors line and in
    * the detail artifact ([[detailFileName]]). */
  val WorstN = 8

  /** sf token used in the headline and the detail-artifact name/content —
    * ONE definition so the three sites can never disagree on degenerate
    * sfDir inputs. */
  private def sfBase(sfDir: String): String =
    sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")

  /** Committed file artifact carrying the full per-query timing map — the
    * r12 headroom fix: 84+ registered queries were pressing the ~2000-char
    * tail window, so the tail line now carries only total/failures/worst-N
    * and the complete map lives here (plus an earlier stdout line for
    * redundancy). */
  def detailFileName(sfDir: String): String =
    s"scale/bench_detail_${sfBase(sfDir)}.json"

  def fullMapJson(ok: Seq[(String, Double)], failed: Seq[String]): String =
    (ok.map { case (k, t) => s"\"" + k + "\":" + ms(t) } ++
      failed.map { k => s"\"" + k + "\":\"ERR\"" })
      .mkString("{", ",", "}")

  def headline(ok: Seq[(String, Double)], failed: Seq[String], sfDir: String,
      env: String = ""): String = {
    // adaptive precision on the ONE driver-parsed line: centiseconds below
    // 100 s, whole seconds above — a 100+ s query is a dead round, not
    // something needing centisecond resolution
    def cs(d: Double): String = if (d < 100) fmt("%.2f", d) else fmt("%.0f", d)
    // "ERR", not "ERROR": still unmistakably a non-number; detail lives on
    // the earlier errors line
    val errEntries = failed.sorted.take(WorstN).map { k => s"\"" + k + "\":\"ERR\"" }
    val slowest = ok.sortBy { case (k, t) => (-t, k) }
      .take(math.max(WorstN - failed.size, 0))
      .map { case (k, t) => s"\"" + k + "\":" + cs(t) }
    val qs = (errEntries ++ slowest).mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // sf as basename: the directory prefix is constant and the line budget
    // is the scarce resource
    val sf = sfBase(sfDir)
    s"""{"metric":"total","value":${cs(total)},"unit":"sec","failed":${failed.size},"n_benched":${ok.size + failed.size},"queries":$qs,"detail":"${detailFileName(sfDir)}","sf":"$sf"$env}"""
  }

  /** Run-environment fields for the headline — process wall-clock and the
    * 1-minute OS load average (r18 verdict #3: the driver round's whole
    * bench ran ~1.4× slow vs the same-code close-gate run; with wall+load
    * ON the parsed line, a loaded machine is distinguishable from a real
    * regression without re-running anything). */
  def envJson(wallSec: Double, loadAvg: Double): String = {
    val load = if (loadAvg < 0) "null" else ms(loadAvg)
    s""","wall":${ms(wallSec)},"load":$load"""
  }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // neutral JVM/codegen warmup so the first timed query doesn't absorb
    // session startup (classloading, codegen compiler, shuffle init)
    spark.range(1 << 20).selectExpr("sum(id * 2)").collect()
    spark.range(1 << 10).toDF("id").groupBy(org.apache.spark.sql.functions.expr("id % 7")).count().collect()
    // parquet datasource warmup — reader/writer/committer classloading and
    // codec init, NOT data caching: reads only the 5-row region table, writes
    // a throwaway 100-row file. Without this the first benchmarked query
    // absorbs ~2 s of one-time datasource setup.
    spark.read.parquet(s"$sfDir/region.parquet").collect()
    spark.range(100).toDF("id")
      .withColumn("p", org.apache.spark.sql.functions.expr("id % 2"))
      .write.mode("overwrite").partitionBy("p")
      .parquet(s"${System.getProperty("java.io.tmpdir")}/graft_bench_warm")

    // production paths only — the verify-only oracle twins are correctness
    // instruments, not operators a user would run (see SparkEntry.verifyOnly)
    // dev-only: SPARK_GRAFT_BENCH_ONLY=q_a,q_b narrows a local iteration
    // run; the driver never sets it, so driver rounds bench everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val benched = SparkEntry.queries.filterNot {
      case (name, _) => SparkEntry.verifyOnly(name)
    }.filter { case (name, _) => only.forall(_.contains(name)) }
    // Per-query load samples (r21 ADVICE #4): a single end-of-run load
    // average cannot exonerate or indict an individual query's timing —
    // a mid-run spike would go unrecorded. One OS-bean read per query is
    // free; min/mean/max ride the detail artifact so the ratio gate can
    // report the band of 1-minute-average samples the run saw.
    val loadSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def sampleLoad(): Unit = {
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      if (l >= 0) loadSamples += l
    }
    val results = benched.map { case (name, fn) =>
      // settle the JVM before the first sample: without this, a prior
      // query's garbage ages into the next query's GC pauses — r7 measured
      // two sub-1s queries at 2× on unchanged code and plans from exactly
      // this interference
      System.gc()
      sampleLoad()
      // Each sample splits SETUP (the query-builder call — for the
      // pipeline-shaped queries this is where scratch tiers are written and
      // cascaded, eagerly) from READ (executing the returned DataFrame).
      // r9 verdict: blending parquet-write throughput into "query" numbers
      // blunted regression detection on the actual reads — the read phase is
      // the regression signal, the total stays for round-over-round
      // continuity. Work a builder measures itself via BenchPhases (e.g.
      // q_p8_route_mv's eagerly-collected routed read) is folded from setup
      // into read.
      case class Sample(total: Double, setup: Double, read: Double,
                        error: Option[String] = None)
      def once(): Sample = {
        BenchPhases.reset()
        val t0 = System.nanoTime()
        var df: org.apache.spark.sql.DataFrame = null
        var err: Option[String] = None
        try df = fn(spark, sfDir)
        catch { case e: Throwable =>
          // a failed query must be loud — a swallowed error reads as "fast"
          System.err.println(s"[bench] $name FAILED (setup): ${e.getMessage}")
          err = Some(s"setup: ${e.getClass.getSimpleName}")
        }
        val t1 = System.nanoTime()
        // noop-format write forces EVERY column expression (count() would let
        // Catalyst prune unreferenced projections, so UDF/expression-heavy
        // queries would bench without executing their hot path).
        try if (df != null) df.write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          err = Some(s"exec: ${e.getClass.getSimpleName}")
        }
        val t2 = System.nanoTime()
        // release per-query persists/checkpoints so the next timing never
        // runs against leftover blocks (and the session never accumulates)
        CacheHygiene.releaseAll(spark)
        val recordedRead = BenchPhases.drain().getOrElse("read", 0.0)
        Sample(total = (t2 - t0) / 1e9,
          setup = math.max((t1 - t0) / 1e9 - recordedRead, 0.0),
          read = (t2 - t1) / 1e9 + recordedRead,
          error = err)
      }
      // min-of-2: r5→r6 showed single-shot timings swing up to 6.7× on
      // byte-identical code (JIT/GC/page-cache noise in a shared JVM); the
      // min of two runs is the stable per-query signal. When the two samples
      // disagree badly the min itself is likely still noise-inflated — one
      // adaptive third sample damps it without tripling every query's cost.
      // The dedup family gets min-of-3 unconditionally (r18 verdict #3/#5:
      // q_dedup_apply_lsh swung 4.7× between the driver bench and the
      // close-gate run on an untouched code path — iterative-components and
      // wide-shuffle queries carry enough JIT/GC state that two samples can
      // BOTH land inflated without tripping the spread guard).
      val minReps = if (name.contains("dedup")) 3 else 2
      val samples = Seq.fill(minReps)(once())
      val bestN = samples.minBy(_.total)
      val spread = samples.map(_.total).max - bestN.total
      val best =
        if (spread / bestN.total > 0.3) {
          val sx = once()
          if (sx.total < bestN.total) sx else bestN
        } else bestN
      name -> best
    }
    // OUTPUT CONTRACT (r10 postmortem): the driver parses ONLY the final
    // stdout line, from a ~2000-char tail window. So: (1) per-phase detail and
    // failure detail go on EARLIER lines; (2) the final line is the compact
    // headline object only, with timings rounded to ms so ~60 queries fit the
    // window; (3) a failed builder is an explicit "ERR" marker, never a ~0
    // timing that reads as "fast".
    val (failed, ok) = results.partition(_._2.error.isDefined)
    // earlier line 1: per-phase detail where setup is material (the
    // pipeline-shaped queries); plain queries have ~0 builder cost
    val phases = ok.filter(_._2.setup > 0.1)
      .map { case (k, s) =>
        s"\"" + k + "\":{\"setup\":" + ms(s.setup) + ",\"read\":" + ms(s.read) + "}" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"phases","phases":$phases}""")
    // earlier line 2: explicit failure detail (empty object when green)
    val errs = failed.toSeq.sortBy(_._1).map { case (k, s) =>
      s"\"" + k + "\":\"" + s.error.get.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\"" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"errors","errors":$errs}""")
    // earlier line 3 + committed artifact: the FULL per-query map (the tail
    // line only carries the worst-N — see headline)
    val full = fullMapJson(ok.toSeq.map { case (k, s) => (k, s.total) },
      failed.keys.toSeq.sorted)
    println(s"""{"metric":"queries","queries":$full}""")
    try {
      val p = java.nio.file.Paths.get(detailFileName(sfDir))
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      // wall + load ride the detail artifact too (r21, the r20 verdict #3
      // reconciliation: the ratio gate can then print each run's load next
      // to its ratios, so a loaded-machine ratio is distinguishable from a
      // real super-linear term without re-running anything)
      val loadNow = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      val loadJson = if (loadNow < 0) "null" else ms(loadNow)
      // per-query load band (r21 ADVICE #4): min/mean/max across the band of
      // 1-minute-average samples, one taken before each benched query —
      // "load" keeps its end-of-run semantics for artifact continuity
      val band =
        if (loadSamples.isEmpty) ""
        else s""","load_min":${ms(loadSamples.min)},"load_mean":${
          ms(loadSamples.sum / loadSamples.size)},"load_max":${ms(loadSamples.max)}"""
      java.nio.file.Files.writeString(p,
        s"""{"sf":"${sfBase(sfDir)}","wall":${ms((System.nanoTime() - wall0) / 1e9)},"load":$loadJson$band,"queries":$full}""" + "\n")
    } catch { case e: Exception =>
      // the artifact is best-effort (a read-only CWD must not fail a bench)
      System.err.println(s"[bench] detail artifact write failed: ${e.getMessage}")
    }
    // final line: the headline the driver parses — failed queries appear as
    // the string "ERR" so they can never masquerade as a fast timing
    val env = envJson((System.nanoTime() - wall0) / 1e9,
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage)
    println(headline(ok.toSeq.map { case (k, s) => (k, s.total) },
      failed.keys.toSeq.sorted, sfDir, env))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
