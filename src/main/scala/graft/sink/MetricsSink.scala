package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S6/O4/F4/ST5 — the storage layout: partitioned, sort-clustered Parquet
  * tables with tiered retention (reference: internal/clickhouse/schema.sql
  * :63-73 raw = 3h TTL, PARTITION BY toDate, ORDER BY (workspaceId, metric,
  * series_hash, timestamp); :133-141 1m = 15d/toDate; :237-245 5m =
  * 63d/toYYYYMM; :328-336 1h = 455d/toYYYYMM; and
  * internal/clickhouse/writer.go:147-258 columnar batched INSERT).
  *
  * Spark-first mapping:
  *   - MergeTree `PARTITION BY toDate/toYYYYMM` → Parquet directory
  *     partitioning on a derived date string (F4). Time predicates then prune
  *     whole directories for free (`PruneFileSourcePartitions`).
  *   - MergeTree `ORDER BY (ws, metric, series_hash, ts)` → O4:
  *     `repartitionByRange` on the sort key followed by
  *     `sortWithinPartitions`. Each output file covers a narrow key range, so
  *     Parquet min/max column stats give ClickHouse-style range skipping on
  *     (workspace, metric) lookups — the promread access path.
  *   - ClickHouse row `TTL _ttl` → ST5: Spark has no row TTL; retention is a
  *     partition-drop maintenance job (date partitions whose entire range is
  *     expired are deleted), exactly how large lakehouse deployments run it.
  *   - DDL declaring every table up front (schema.sql:2-73) → a schema
  *     record per tier, `<baseDir>/<tier>.schema.json` (beside the tier so a
  *     whole-tier overwrite keeps it), written by the tier's writers before
  *     any data file commits ([[recordSchema]]) and declared by every read
  *     ([[read]]): no query pays a schema-inference job.
  *   - `writer.go`'s batch-size/interval dual-trigger flush (S7) is subsumed
  *     by Structured Streaming micro-batches — see
  *     [[graft.streaming.StreamingTemporality.start]].
  *
  * 100 TB note: `repartitionByRange` samples the sort key, so a day with
  * 1000× the data simply gets 1000× the range slices — no single-task-per-day
  * bottleneck, no manual file-count tuning. AQE coalesces small slices.
  */
object MetricsSink {

  /** One storage tier (schema.sql table + its TTL). `monthly` = the coarse
    * tiers' toYYYYMM partitioning (schema.sql:243,334). */
  final case class Tier(name: String, retentionMs: Long, monthly: Boolean)

  private val H = 3600L * 1000L
  private val D = 24 * H

  val Raw = Tier("metrics_raw", 3 * H, monthly = false) // schema.sql:63,70
  val M1 = Tier("metrics_1m", 15 * D, monthly = false)  // schema.sql:133,140
  val M5 = Tier("metrics_5m", 63 * D, monthly = true)   // schema.sql:237,243
  val H1 = Tier("metrics_1h", 455 * D, monthly = true)  // schema.sql:328,334
  val tiers: Seq[Tier] = Seq(Raw, M1, M5, H1)

  /** Partition directory name. UTC, derived from the ms-epoch event time. */
  val PartitionCol = "p_date"

  /** F4 — toDate / toYYYYMM as a lexicographically ordered string so
    * partition values compare correctly both as paths and in pruning. */
  def partitionValue(tier: Tier, tsMs: Column): Column = {
    val fmt = if (tier.monthly) "yyyyMM" else "yyyy-MM-dd"
    date_format(to_utc_timestamp(timestamp_millis(tsMs), "UTC"), fmt)
  }

  /** S6+O4 — write one tier: record its schema ([[recordSchema]]), then
    * derive the partition value, range-partition on the storage sort key,
    * sort within each task, write Parquet partitioned by date. `mode`
    * defaults to append (the reference INSERTs; an append that does not
    * match the record fails before writing, as a ClickHouse INSERT with the
    * wrong columns does); an overwrite replaces the record. */
  def write(df: DataFrame, baseDir: String, tier: Tier, tsMs: Column,
      sortKey: Seq[Column], mode: String = "append"): Unit =
    writeFiles(df, baseDir, tier, tsMs, sortKey, mode, s"$baseDir/${tier.name}")

  /** [[write]] into `dir`: the live tier directory, or a staging directory
    * whose partitions are later swapped into it (the cascade's refresh).
    * The tier's record is checked, or written if absent, before any file;
    * only a whole-tier overwrite of the live directory replaces it. */
  private[sink] def writeFiles(df: DataFrame, baseDir: String, tier: Tier,
      tsMs: Column, sortKey: Seq[Column], mode: String, dir: String): Unit = {
    recordSchema(baseDir, tier, df.schema,
      replace = mode == "overwrite" && dir == s"$baseDir/${tier.name}")
    val keyed = col(PartitionCol) +: sortKey
    withSkipIndexes(df.withColumn(PartitionCol, partitionValue(tier, tsMs))
      .repartitionByRange(keyed: _*)
      .sortWithinPartitions(keyed :+ tsMs: _*)
      .write)
      .partitionBy(PartitionCol)
      .mode(mode)
      .parquet(dir)
  }

  /** The reference's skip indexes (schema.sql:65-67, declared on every
    * tier): bloom_filter(0.01) on metric and the set(1000) membership index
    * on serviceName map to parquet bloom filters (parquet's default fpp is
    * the same 0.01); idx_series_hash minmax is free — the tier sort makes
    * per-row-group min/max stats tight. The read side consults blooms
    * during row-group pruning automatically under filter pushdown, so an
    * equality probe on a metric name skips row groups the min/max range
    * alone cannot exclude. Parquet only MATERIALIZES the bloom when a chunk
    * abandons dictionary encoding (the dictionary filters exactly while it
    * fits — low-NDV chunks pay nothing), so the index appears precisely in
    * the high-cardinality regime it exists for; both arms are spec-pinned.
    * Applied by EVERY tier writer (ingest append and compaction rewrite) so
    * compacted parts keep their indexes. */
  private def withSkipIndexes(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row])
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    w.option("parquet.bloom.filter.enabled#metric", "true")
      .option("parquet.bloom.filter.expected.ndv#metric", "10000")
      .option("parquet.bloom.filter.enabled#service_name", "true")
      .option("parquet.bloom.filter.expected.ndv#service_name", "1000")

  /** S8 read-back under the tier's recorded schema: one small file read and
    * a listing, never a schema-inference job (Parquet inference opens a
    * footer in a Spark job per call). `p_date` is declared with the type
    * inference gives it (date daily, int monthly), so predicates on it prune
    * directories, and a tier with no committed file reads empty with it. A
    * tier with no record is an error naming its directory. */
  def read(spark: SparkSession, baseDir: String, tier: Tier): DataFrame = {
    val dir = s"$baseDir/${tier.name}"
    val rec = recordPath(baseDir, tier)
    val data = recorded(rec).getOrElse(throw new IllegalStateException(
      s"tier directory $dir has no schema record ($rec)"))
    spark.read.schema(data.add(PartitionCol,
      if (tier.monthly) IntegerType else DateType)).parquet(dir)
  }

  /** Where `tier`'s schema record lives: beside the tier directory, not in
    * it, because a whole-tier overwrite deletes the directory's contents.
    * The store is a local directory, whatever scheme names it, and the
    * record is a local file, replaced as the landing reveals a file: a
    * same-directory ATOMIC_MOVE (Hadoop's `file:` rename refuses to replace
    * an existing file, so it cannot swap a record in one step). */
  private def recordPath(baseDir: String, tier: Tier): java.nio.file.Path =
    Paths.get(new Path(s"$baseDir/${tier.name}.schema.json").toUri.getPath)

  private def recorded(rec: java.nio.file.Path): Option[StructType] =
    try Some(DataType.fromJson(new String(Files.readAllBytes(rec),
      StandardCharsets.UTF_8)).asInstanceOf[StructType])
    catch { case _: NoSuchFileException => None }

  /** Names and types only (every level nullable, no metadata), as Parquet
    * inference reports them; nullability alone is then no difference. */
  private def plain(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, plain(f.dataType))))
    case a: ArrayType => ArrayType(plain(a.elementType))
    case m: MapType => MapType(plain(m.keyType), plain(m.valueType))
    case other => other
  }

  /** Make `schema` (data columns, no `p_date`) the tier's record before any
    * data file of the write can commit ([[writeFiles]] calls it). With
    * `replace` (a whole-tier overwrite) the record is rewritten, via a
    * hidden temp file and an atomic move; otherwise an existing record must match
    * `schema` in names and types, or the write fails here. */
  private def recordSchema(baseDir: String, tier: Tier, schema: StructType,
      replace: Boolean): Unit = {
    val data = plain(schema).asInstanceOf[StructType]
    val rec = recordPath(baseDir, tier)
    (if (replace) None else recorded(rec)) match {
      case Some(h) => require(h == data,
        s"write to $baseDir/${tier.name} does not match its recorded schema: " +
          s"recorded ${h.toDDL}, written ${data.toDDL}")
      case None =>
        val tmp = rec.resolveSibling(s".${rec.getFileName}.tmp")
        Files.createDirectories(rec.getParent)
        Files.write(tmp, data.json.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, rec, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Read-side twin of [[partitionValue]]: map a ms-epoch range onto the
    * partition values it can touch. A bound of 0 is unbounded, the promread
    * convention (handler.go:233-241), so `endMs = 0` is the lower-bound-only
    * prune of the reference's MV freshness filters (`timestamp >= now() −
    * window`, schema.sql:183,274,365). String comparison is safe — values
    * are zero-padded and lexicographically ordered — and Catalyst turns this
    * into directory pruning before a single row is read. */
  def partitionFilter(tier: Tier, startMs: Long, endMs: Long): Column = {
    val from = if (startMs > 0) col(PartitionCol) >= fmt(tier, startMs) else lit(true)
    val to = if (endMs > 0) col(PartitionCol) <= fmt(tier, endMs) else lit(true)
    from && to
  }

  private[sink] def fmt(tier: Tier, tsMs: Long): String = {
    val p = if (tier.monthly) "yyyyMM" else "yyyy-MM-dd"
    java.time.Instant.ofEpochMilli(tsMs).atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern(p))
  }

  /** ST5 — retention as partition drop: delete every date partition whose
    * ENTIRE range is older than now − retention (a partition that straddles
    * the cutoff is kept — retention errs on keeping, like ClickHouse's
    * part-level TTL drop). Returns the dropped partition values. */
  def dropExpiredPartitions(spark: SparkSession, baseDir: String, tier: Tier,
      nowMs: Long): Seq[String] = {
    val dir = new Path(s"$baseDir/${tier.name}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val cutoff = nowMs - tier.retentionMs
    val dropped = fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val name = st.getPath.getName
        if (!name.startsWith(s"$PartitionCol=")) None
        else {
          val value = name.stripPrefix(s"$PartitionCol=")
          // expired iff the whole range [start, end) is before the cutoff
          partitionEndMs(tier, value).filter(_ <= cutoff).map(_ => (st.getPath, value))
        }
      }
    dropped.foreach { case (p, _) => fs.delete(p, true) }
    dropped.map(_._2).sorted
  }

  /** Background-merge analog of the reference's storage engine (ClickHouse
    * merges small inserted parts into large sorted ones; the MergeTree
    * tables at schema.sql:63-73 rely on it): rewrite every partition of
    * `tier` holding more than `maxFiles` parquet files into `targetFiles`
    * range-sorted files. Micro-batch ingest appends at least one file per
    * trigger, so without compaction a day's raw partition degrades into
    * thousands of tiny unsorted-across-files parts; compaction restores the
    * few-large-sorted-files layout the read path's clustering assumes (O4).
    * Cost: one read + one write of ONLY the oversized partitions — never
    * proportional to table history. Returns the partition values rewritten.
    *
    * Write-new-then-swap, like the reference's merges (new parts become
    * durable before old parts are removed): each partition is compacted into
    * a dot-prefixed sibling directory — invisible to readers — then swapped
    * in with ATOMIC RENAMES ONLY on the critical path:
    *
    *   1. write `.compact_<v>`   (durable sibling, readers never see it)
    *   2. rename `p_date=<v>` → `.trash_<v>`   (atomic)
    *   3. rename `.compact_<v>` → `p_date=<v>` (atomic)
    *   4. delete `.trash_<v>`    (recursive — safely non-atomic: once step 3
    *      lands the trash is redundant, and a partial trash deletion can
    *      never be confused with the live partition)
    *
    * The old protocol deleted the live partition recursively before the
    * rename; a crash mid-delete left a PARTIAL partition dir alongside the
    * complete sibling, which the sweep then misread as "swap never started"
    * and kept the partial copy — silent data loss. Renaming the old
    * partition aside first makes every crash state unambiguous: the sweep
    * (run at the top of each call) can always tell a completed swap
    * (partition + trash → drop trash) from an interrupted one (trash +
    * sibling, no partition → finish the swap, then drop trash). A crash at
    * any point leaves at least one durable full copy of the partition on
    * disk. Reading from the live directory while writing to the sibling
    * also needs no lineage checkpoint: source and destination never
    * overlap.
    *
    * Concurrency contract: SINGLE WRITER per tier. The swap is not safe
    * against a concurrent appender — rows landing in the partition between
    * the compacting read and the swap are dropped with the old parts.
    * In-app this holds by construction: [[graft.GraftApp.maintain]] runs
    * inside foreachBatch, serialized with ingest writes. External callers
    * must provide the same exclusion. */
  def compactPartitions(spark: SparkSession, baseDir: String, tier: Tier,
      sortKey: Seq[Column], tsMs: Column, maxFiles: Int = 8,
      targetFiles: Int = 1): Seq[String] = {
    val dir = new Path(s"$baseDir/${tier.name}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    recoverSwaps(fs, dir)
    val oversized = fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$PartitionCol="))
      .filter(st => fs.listStatus(st.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFiles)
      .map(_.getPath.getName.stripPrefix(s"$PartitionCol="))
      .sorted
    oversized.foreach { value =>
      val tmpDir = new Path(dir, s"$TmpPrefix$value")
      val compacted = read(spark, baseDir, tier)               // step 1
        .filter(col(PartitionCol) === value)
        .drop(PartitionCol)
        .repartitionByRange(targetFiles, sortKey: _*)
        .sortWithinPartitions(sortKey :+ tsMs: _*)
      withSkipIndexes(compacted.write.mode("overwrite"))
        .parquet(tmpDir.toString)
      swapPartitionIn(fs, dir, value, tmpDir)                  // steps 2-4
    }
    oversized
  }

  /** The recovery sweep shared by every swap-protocol writer (compaction and
    * tier refresh): crash states are disambiguated by which of the three
    * directories survive. Trash entries first (they pin where in the swap
    * the crash hit), then orphan siblings. Run it before mutating a tier —
    * it is a no-op on a clean directory. */
  private[sink] def recoverSwaps(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Unit = {
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(TrashPrefix))
      .foreach { st =>
        val value = st.getPath.getName.stripPrefix(TrashPrefix)
        val partDir = new Path(dir, s"$PartitionCol=$value")
        val tmpDir = new Path(dir, s"$TmpPrefix$value")
        if (fs.exists(partDir))
          // crashed after step 3 (or mid step 4): swap complete, trash
          // redundant — possibly already partially deleted; finish deleting
          fs.delete(st.getPath, true)
        else if (fs.exists(tmpDir)) {
          // crashed between steps 2 and 3: the sibling is the complete
          // compacted copy — finish the swap, then drop the trash
          require(fs.rename(tmpDir, partDir),
            s"swap recovery rename failed: $tmpDir -> $partDir")
          fs.delete(st.getPath, true)
        } else
          // no partition, no sibling: the trash IS the only copy (a refresh
          // crashed between its trash rename and staging rename, or the
          // durable sibling was lost externally) — restore it; the writer
          // re-runs and re-swaps
          require(fs.rename(st.getPath, partDir),
            s"swap trash restore failed: ${st.getPath} -> $partDir")
      }
    // Orphan siblings: partition present → crash before step 2, the sibling
    // is stale (the partition may have new appends) — discard it. Partition
    // absent (and no trash, handled above) → legacy delete-then-rename crash
    // window; the sibling is the only complete copy — promote it.
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(TmpPrefix))
      .foreach { st =>
        val partDir = new Path(dir,
          s"$PartitionCol=${st.getPath.getName.stripPrefix(TmpPrefix)}")
        if (fs.exists(partDir)) fs.delete(st.getPath, true)
        else require(fs.rename(st.getPath, partDir),
          s"swap recovery rename failed: ${st.getPath} -> $partDir")
      }
  }

  /** Steps 2-4 of the swap protocol: atomically rename the live partition
    * aside, rename the complete replacement in, then delete the redundant
    * trash copy (the only non-atomic step, safely so — see
    * [[compactPartitions]]'s protocol doc). `srcDir` must be a complete,
    * durable copy of the partition. Handles a partition that does not exist
    * yet (first write: no trash step). */
  private[sink] def swapPartitionIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, value: String, srcDir: Path): Unit = {
    val partDir = new Path(dir, s"$PartitionCol=$value")
    val trashDir = new Path(dir, s"$TrashPrefix$value")
    if (fs.exists(partDir))
      require(fs.rename(partDir, trashDir),                    // step 2
        s"swap trash rename failed: $partDir -> $trashDir")
    require(fs.rename(srcDir, partDir),                        // step 3
      s"swap rename failed: $srcDir -> $partDir")
    fs.delete(trashDir, true)                                  // step 4
    ()
  }

  /** Sibling-directory prefix for in-flight compaction output. Dot-prefixed
    * names are skipped by Spark's file listing, so readers never see a
    * half-written compacted copy. */
  private[sink] val TmpPrefix = ".compact_"

  /** Prefix the old partition is renamed to (atomically) before the
    * compacted sibling is renamed in — the non-atomic recursive delete then
    * runs only on this redundant, invisible copy. */
  private[sink] val TrashPrefix = ".trash_"

  /** Start ms of the OLDEST surviving partition directory of `tier` — the
    * lower bound of the tier's time coverage after retention partition-drops
    * (rows inside a surviving partition are never individually deleted, so
    * the directory's start bounds its data from below). None when the tier
    * has no partitions yet. One directory listing, never a data read. */
  def oldestPartitionStartMs(spark: SparkSession, baseDir: String,
      tier: Tier): Option[Long] = {
    val dir = new Path(s"$baseDir/${tier.name}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val starts = fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(s"$PartitionCol="))
      .flatMap(n => partitionStartMs(tier, n.stripPrefix(s"$PartitionCol=")))
    if (starts.isEmpty) None else Some(starts.min)
  }

  /** Inclusive start of a partition's time range (ms-epoch, UTC) — always a
    * UTC-midnight (daily) or first-of-month-midnight (monthly) instant. */
  private[sink] def partitionStartMs(tier: Tier, value: String): Option[Long] = {
    import java.time.{LocalDate, YearMonth, ZoneOffset}
    try {
      val day =
        if (tier.monthly)
          YearMonth.parse(value, java.time.format.DateTimeFormatter.ofPattern("yyyyMM"))
            .atDay(1)
        else LocalDate.parse(value)
      Some(day.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli)
    } catch { case _: java.time.format.DateTimeParseException => None }
  }

  /** Exclusive end of a partition's time range (ms-epoch, UTC). None for a
    * malformed directory name — never delete what we can't parse. */
  private[sink] def partitionEndMs(tier: Tier, value: String): Option[Long] = {
    import java.time.{LocalDate, YearMonth, ZoneOffset}
    try {
      val endDay =
        if (tier.monthly)
          YearMonth.parse(value, java.time.format.DateTimeFormatter.ofPattern("yyyyMM"))
            .atEndOfMonth().plusDays(1)
        else LocalDate.parse(value).plusDays(1)
      Some(endDay.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli)
    } catch { case _: java.time.format.DateTimeParseException => None }
  }
}
