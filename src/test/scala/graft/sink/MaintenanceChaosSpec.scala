package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{GraftApp, GraftConfig, SparkSpec}
import graft.metrics.EventsMetrics

/** r9 verdict item 5 + ADVICE: the COMPOSED maintenance tick
  * ([[GraftApp.maintain]] — rollup cascade refresh, retention partition
  * drop, raw compaction, in that order) killed at random filesystem
  * operations, then recovered by one clean re-run. Invariant: the recovered
  * state equals the never-crashed state on every tier — rows never lost nor
  * duplicated, no swap litter left behind — for EVERY kill point.
  *
  * The per-kill-point healing of the swap protocol is pinned piecewise in
  * MetricsSinkSpec; this soak exercises the composition (a crash in one step
  * leaves the NEXT steps unrun, recovery re-runs them all against the
  * crash-scarred directory) plus the refresh-specific crash states ADVICE
  * flagged: a trash-restore with the replacement still in .refresh_staging,
  * and a kill midway through the multi-partition swap loop. */
class MaintenanceChaosSpec extends SparkSpec {

  import graft.queries.OracleDefs.NowMs

  private val keys =
    Seq(col("workspace_id"), col("metric"), col("series_hash"))

  spark.sparkContext.hadoopConfiguration
    .set("fs.chaos.impl", classOf[ChaosFs].getName)

  private def raw() = EventsMetrics.withSeriesHash(
    EventsMetrics.withHistogram(EventsMetrics.fromEvents(spark, Sf)))

  // publishRouting off: this spec runs maintain() dozens of times against
  // throwaway chaos dirs on the shared session — publishing would leave
  // session-wide routing confs pointing at a deleted scratch store
  private def cfg(base: String) = GraftConfig(
    sourceDir = "/unused", storageDir = base, checkpointDir = "/unused",
    rollupEveryBatches = 1, retentionDrop = true, compactMaxFiles = 2,
    publishRouting = false,
    nowMs = Some(NowMs))

  private def newBase(tag: String): String =
    "chaos:" + Files.createTempDirectory(s"graft_chaos_$tag").toString

  /** Raw tier written in many range slices so compaction has real work. */
  private def setup(base: String): Unit = {
    withSlices(8) {
      MetricsSink.write(raw(), base, MetricsSink.Raw, col("ts_ms"), keys,
        mode = "overwrite")
    }
    ()
  }

  /** Full content snapshot of every tier, order-independent. */
  private def snapshot(base: String): Map[String, Seq[String]] =
    MetricsSink.tiers.map { t =>
      val dir = new org.apache.hadoop.fs.Path(s"$base/${t.name}")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rows =
        if (!fs.exists(dir)) Seq.empty[String]
        else {
          val df = MetricsSink.read(spark, base, t)
          df.select(df.columns.sorted.map(col): _*)
            .collect().map(_.toString).sorted.toSeq
        }
      t.name -> rows
    }.toMap

  private def litter(base: String): Seq[String] =
    MetricsSink.tiers.flatMap { t =>
      val dir = new org.apache.hadoop.fs.Path(s"$base/${t.name}")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith(MetricsSink.TrashPrefix) ||
          n.startsWith(MetricsSink.TmpPrefix) ||
          n == RollupMaintenance.StagingName)
        .map(n => s"${t.name}/$n")
    }

  test("composed maintain tick: random kill points all recover to the clean state") {
    // clean baseline: two ticks on a pristine base — the second both proves
    // the tick idempotent at a fixed clock and measures one tick's mutation
    // count for sizing the kill points
    val cleanBase = newBase("clean")
    setup(cleanBase)
    GraftApp.maintain(spark, cfg(cleanBase), batchId = 0)
    val afterOne = snapshot(cleanBase)
    ChaosFs.mutations.set(0)
    GraftApp.maintain(spark, cfg(cleanBase), batchId = 0)
    val tickOps = ChaosFs.mutations.get().toInt
    val expected = snapshot(cleanBase)
    assert(expected("metrics_1h").nonEmpty, "baseline cascade produced no 1h rows")
    assert(afterOne === expected, "maintain tick is not idempotent at a fixed clock")
    assert(tickOps > 10, s"suspiciously few fs mutations in a tick: $tickOps")

    val rnd = new scala.util.Random(20260813L)
    var crashes = 0
    for (i <- 1 to 8) {
      val base = newBase(s"s$i")
      setup(base)
      val kill = 1 + rnd.nextInt(tickOps)
      ChaosFs.arm(kill)
      val crashed =
        try { GraftApp.maintain(spark, cfg(base), batchId = 0); false }
        catch { case _: Throwable => true }
        finally ChaosFs.disarm()
      if (crashed) crashes += 1
      // "restart": one clean tick over the crash-scarred directory
      GraftApp.maintain(spark, cfg(base), batchId = 0)
      assert(snapshot(base) === expected,
        s"kill point $kill (run $i, crashed=$crashed) did not recover to the clean state")
      assert(litter(base).isEmpty,
        s"kill point $kill left swap litter: ${litter(base)}")
    }
    // the soak must actually be a soak: the setup-sized kill points have to
    // land inside the tick for most runs (a first clean tick writes more
    // than a steady-state one, so a few may run to completion — fine)
    assert(crashes >= 4, s"only $crashes/8 runs crashed — kill points mis-sized")
  }

  test("refresh crash states heal: trash-restore with staged replacement, mid-loop kill") {
    // the two ADVICE-flagged states, arranged deterministically
    val base = newBase("adv")
    setup(base)
    GraftApp.maintain(spark, cfg(base), batchId = 0)
    val expected = snapshot(base)

    val m1Dir = new org.apache.hadoop.fs.Path(s"$base/metrics_1m")
    val fs = m1Dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(m1Dir).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"${MetricsSink.PartitionCol}="))
      .map(_.getPath).sortBy(_.getName)
    assert(parts.nonEmpty)

    // state 1 (refresh crash between swap steps 2 and 3): the live partition
    // renamed to trash, its replacement still inside .refresh_staging — the
    // sweep must restore the trash (the staging copy is invisible to it and
    // wiped as stale by the next refresh), and the re-run must converge
    val v = parts.head.getName.stripPrefix(s"${MetricsSink.PartitionCol}=")
    val trash = new org.apache.hadoop.fs.Path(m1Dir, s"${MetricsSink.TrashPrefix}$v")
    assert(fs.rename(parts.head, trash),
      "arranging the trash state failed")
    val staged = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(m1Dir, RollupMaintenance.StagingName),
      s"${MetricsSink.PartitionCol}=$v")
    fs.mkdirs(staged)
    fs.listStatus(trash).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new org.apache.hadoop.fs.Path(staged, st.getPath.getName),
          false, spark.sparkContext.hadoopConfiguration)
      }

    // state 2 (kill midway through the multi-partition swap loop) on another
    // partition: swapped-aside trash whose replacement never landed
    if (parts.length > 1) {
      val v2 = parts(1).getName.stripPrefix(s"${MetricsSink.PartitionCol}=")
      assert(fs.rename(parts(1), new org.apache.hadoop.fs.Path(m1Dir,
        s"${MetricsSink.TrashPrefix}$v2")))
    }

    GraftApp.maintain(spark, cfg(base), batchId = 0)
    assert(snapshot(base) === expected,
      "refresh crash states did not recover to the clean state")
    assert(litter(base).isEmpty, s"litter survived: ${litter(base)}")
  }
}
