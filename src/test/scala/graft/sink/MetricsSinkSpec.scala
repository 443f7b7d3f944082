package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.metrics.{EventsMetrics, Rollup}

/** S6/O4/F4/ST5 — storage layout: write→read round trip, partition naming,
  * pruning via the partition filter, and retention partition-drop
  * (reference: schema.sql:63-73,133-141,237-245,328-336; writer.go:147-258). */
class MetricsSinkSpec extends SparkSpec {

  private def tmpBase(): String =
    Files.createTempDirectory("graft_sink_spec").toString

  private def m1(): org.apache.spark.sql.DataFrame =
    Rollup.rollup1m(EventsMetrics.fromEvents(spark, Sf),
      Seq(col("workspace_id"), col("metric")),
      col("ts_ms"), col("value"), col("event_id"))

  test("round trip: written tier reads back identical rows") {
    val base = tmpBase()
    val df = m1()
    MetricsSink.write(df, base, MetricsSink.M1, col("bucket_ms"),
      Seq(col("workspace_id"), col("metric")), mode = "overwrite")
    val back = MetricsSink.read(spark, base, MetricsSink.M1)
    assert(back.count() === df.count())
    val cols = df.columns.toSeq // original columns, ignore p_date
    val a = df.select(cols.map(col): _*).orderBy(cols.map(col): _*).collect()
    val b = back.select(cols.map(col): _*).orderBy(cols.map(col): _*).collect()
    assert(a.sameElements(b))
  }

  test("tier reads declare the recorded schema: no job, the schema inference gives") {
    // an events-derived fixture store (the app-written shape is pinned in
    // GraftAppSpec): all four tiers, daily and monthly partitions
    val base = tmpBase()
    val keys = Seq(col("workspace_id"), col("metric"))
    MetricsSink.write(EventsMetrics.withHistogram(EventsMetrics.fromEvents(spark, Sf)),
      base, MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite")
    RollupMaintenance.refreshCascade(spark, base,
      java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli, keys,
      col("ts_ms"), col("event_id"))
    MetricsSink.tiers.foreach { t =>
      val (declared, jobs) = jobsDuring(MetricsSink.read(spark, base, t).schema)
      assert(jobs.isEmpty, s"${t.name}: reading its schema started ${jobs.size} job(s)")
      assert(declared === spark.read.parquet(s"$base/${t.name}").schema, t.name)
    }
  }

  test("a tier with a record and no data file reads empty with p_date; " +
      "a tier directory with no record is an error naming it") {
    val base = tmpBase()
    MetricsSink.write(m1().limit(0), base, MetricsSink.M1, col("bucket_ms"),
      Seq(col("workspace_id")), mode = "overwrite")
    val empty = MetricsSink.read(spark, base, MetricsSink.M1)
      .filter(MetricsSink.partitionFilter(MetricsSink.M1, 1L, 2L))
    assert(empty.schema(MetricsSink.PartitionCol).dataType ===
      org.apache.spark.sql.types.DateType)
    assert(empty.count() === 0)

    spark.range(3).toDF("bucket_ms").write.parquet(s"$base/metrics_5m")
    val e = intercept[IllegalStateException](
      MetricsSink.read(spark, base, MetricsSink.M5))
    assert(e.getMessage.contains(s"$base/metrics_5m"), e.getMessage)
  }

  test("an append whose schema differs from the record fails and leaves the tier unchanged") {
    import scala.jdk.CollectionConverters._
    val base = tmpBase()
    val df = m1()
    val key = Seq(col("workspace_id"), col("metric"))
    MetricsSink.write(df, base, MetricsSink.M1, col("bucket_ms"), key, mode = "overwrite")
    val root = java.nio.file.Paths.get(base)
    def files(): Seq[(String, Long)] = Files.walk(root).iterator.asScala
      .filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toSeq.sorted
    val before = files()
    val rows = MetricsSink.read(spark, base, MetricsSink.M1).count()
    Seq(df.withColumn("extra", lit(1)), df.drop("value_last"),
      df.withColumn("samples_count", col("samples_count").cast("int"))).foreach { bad =>
      val e = intercept[IllegalArgumentException](
        MetricsSink.write(bad, base, MetricsSink.M1, col("bucket_ms"), key))
      assert(e.getMessage.contains("metrics_1m"), e.getMessage)
      assert(files() === before)
    }
    assert(MetricsSink.read(spark, base, MetricsSink.M1).count() === rows)
    // nullability alone is no difference: a non-null column appends
    MetricsSink.write(df.na.fill(0.0, Seq("value_last")), base, MetricsSink.M1,
      col("bucket_ms"), key)
    assert(MetricsSink.read(spark, base, MetricsSink.M1).count() === 2 * rows)
    // an overwrite replaces the record along with the data
    MetricsSink.write(df.withColumn("extra", lit(1)), base, MetricsSink.M1,
      col("bucket_ms"), key, mode = "overwrite")
    assert(MetricsSink.read(spark, base, MetricsSink.M1).columns.contains("extra"))
  }

  test("partition naming: daily yyyy-MM-dd for 1m, monthly yyyyMM for 1h (F4)") {
    val base = tmpBase()
    val df = m1()
    MetricsSink.write(df, base, MetricsSink.M1, col("bucket_ms"),
      Seq(col("workspace_id")), mode = "overwrite")
    MetricsSink.write(df, base, MetricsSink.H1, col("bucket_ms"),
      Seq(col("workspace_id")), mode = "overwrite")
    def parts(t: MetricsSink.Tier): Seq[String] =
      new java.io.File(s"$base/${t.name}").listFiles.toSeq.map(_.getName)
        .filter(_.startsWith("p_date="))
    assert(parts(MetricsSink.M1).forall(_.matches("p_date=\\d{4}-\\d{2}-\\d{2}")))
    assert(parts(MetricsSink.M1).size > 1)
    assert(parts(MetricsSink.H1).forall(_.matches("p_date=\\d{6}")))
  }

  test("skip indexes: tier writers emit metric bloom filters, compaction keeps them") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def bloomOn(file: java.io.File, column: String): Boolean = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file.toURI), spark.sparkContext.hadoopConfiguration))
      try {
        val rg = reader.getRowGroups.get(0)
        val c = rg.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .getOrElse(fail(s"no column $column in ${file.getName}"))
        reader.getBloomFilterDataReader(rg).readBloomFilter(c) != null
      } finally reader.close()
    }
    def parquetFiles(base: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).map(_.toSeq).getOrElse(Seq.empty).flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$base/${MetricsSink.M1.name}"))
        .filter(_.getName.endsWith(".parquet"))
    }
    // low-NDV metric (the m1 fixture): every chunk stays fully
    // dictionary-encoded, and parquet correctly SKIPS the bloom — the
    // dictionary already filters row groups exactly, so the index would be
    // pure overhead. The bloom materializes exactly when it is needed: on
    // dictionary overflow (high-NDV), below.
    val lowBase = tmpBase()
    MetricsSink.write(m1(), lowBase, MetricsSink.M1, col("bucket_ms"),
      Seq(col("workspace_id"), col("metric")), mode = "overwrite")
    val lowFiles = parquetFiles(lowBase)
    assert(lowFiles.nonEmpty)
    lowFiles.foreach(f =>
      assert(!bloomOn(f, "metric"), s"bloom on dict-encoded chunk in $f"))

    // high-NDV metric: ~60k distinct ~40-byte names overflow the 1 MiB
    // dictionary page, the chunk falls back to plain encoding, and the
    // declared bloom appears; the undeclared column never carries one
    val s = spark
    import s.implicits._
    val hi = (0 until 60000).map(i =>
      ("ws-1", f"metric_name_with_padding_$i%032d", 1706140800000L + i))
      .toDF("workspace_id", "metric", "bucket_ms")
    val hiBase = tmpBase()
    // one range slice, so the whole day's names land in one file
    withSlices(1) {
      MetricsSink.write(hi, hiBase, MetricsSink.M1, col("bucket_ms"),
        Seq(col("workspace_id"), col("metric")), mode = "overwrite")
    }
    val hiFiles = parquetFiles(hiBase)
    assert(hiFiles.nonEmpty)
    hiFiles.foreach(f => assert(bloomOn(f, "metric"), s"no metric bloom in $f"))
    hiFiles.foreach(f => assert(!bloomOn(f, "bucket_ms"), s"stray bloom in $f"))

    // compaction is a tier writer too: the rewritten part keeps the index
    withSlices(1) {
      MetricsSink.write(hi, hiBase, MetricsSink.M1, col("bucket_ms"),
        Seq(col("workspace_id"), col("metric")))
    }
    MetricsSink.compactPartitions(spark, hiBase, MetricsSink.M1,
      Seq(col("workspace_id"), col("metric")), col("bucket_ms"), maxFiles = 1)
    val after = parquetFiles(hiBase)
    assert(after.nonEmpty)
    after.foreach(f =>
      assert(bloomOn(f, "metric"), s"compaction dropped bloom in $f"))
  }

  test("partition filter prunes files before reading") {
    val base = tmpBase()
    MetricsSink.write(m1(), base, MetricsSink.M1, col("bucket_ms"),
      Seq(col("workspace_id")), mode = "overwrite")
    val back = MetricsSink.read(spark, base, MetricsSink.M1)
    // inputFiles ignores filters — count the files actually scanned instead
    val all = back.select(input_file_name()).distinct().count()
    val oneDay = back.filter(
      MetricsSink.partitionFilter(MetricsSink.M1,
        java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli,
        java.time.Instant.parse("2024-01-10T23:59:59Z").toEpochMilli))
    val scanned = oneDay.select(input_file_name()).distinct().count()
    assert(scanned < all)
    assert(oneDay.count() > 0)
  }

  test("retention drops only fully-expired partitions (ST5)") {
    val base = tmpBase()
    MetricsSink.write(m1(), base, MetricsSink.M1, col("bucket_ms"),
      Seq(col("workspace_id")), mode = "overwrite")
    // partition values read back as dates (DateType) — cast for compare
    val before = MetricsSink.read(spark, base, MetricsSink.M1)
      .select(col(MetricsSink.PartitionCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    // now = end of 2024-01-16 + 15d retention → partitions < 2024-01-02 drop
    val nowMs = java.time.Instant.parse("2024-01-17T00:00:00Z").toEpochMilli
    val dropped = MetricsSink.dropExpiredPartitions(spark, base, MetricsSink.M1, nowMs)
    assert(dropped === before.filter(_ < "2024-01-02").toSeq)
    val after = MetricsSink.read(spark, base, MetricsSink.M1)
      .select(col(MetricsSink.PartitionCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(after.toSeq === before.filter(_ >= "2024-01-02").toSeq)
  }

  test("partitionEndMs: exclusive end; malformed names never parse (never delete)") {
    import MetricsSink._
    assert(partitionEndMs(M1, "2024-01-31") ===
      Some(java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli))
    assert(partitionEndMs(H1, "202401") ===
      Some(java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli))
    assert(partitionEndMs(M1, "garbage") === None)
    assert(partitionEndMs(H1, "2024-01-31") === None) // wrong format for monthly
  }

  test("files are sort-clustered: each file covers a narrow workspace range (O4)") {
    val base = tmpBase()
    // Enough range slices that days subdivide into workspace sub-ranges —
    // the production regime, where slices ≫ date partitions.
    withSlices(128) {
      MetricsSink.write(m1(), base, MetricsSink.M1, col("bucket_ms"),
        Seq(col("workspace_id"), col("metric")), mode = "overwrite")
    }
    val back = MetricsSink.read(spark, base, MetricsSink.M1)
    // A single sorted file must not span all 4 workspaces — that's the
    // min/max-stat locality claim behind the ORDER BY key (O4).
    val perFile = back
      .withColumn("f", input_file_name())
      .groupBy("f").agg(countDistinct(col("workspace_id")).as("nws"))
      .agg(max(col("nws"))).collect()(0).getLong(0)
    assert(perFile <= 3, s"a sorted file spans $perFile workspaces")
  }

  test("compaction merges small append parts, preserves rows, is idempotent") {
    val base = tmpBase()
    val df = m1()
    val key = Seq(col("workspace_id"), col("metric"))
    // three micro-batch-style appends -> several small parts per partition
    (1 to 3).foreach(_ =>
      MetricsSink.write(df, base, MetricsSink.M1, col("bucket_ms"), key))
    def filesPerPart: Map[String, Int] =
      new java.io.File(s"$base/metrics_1m").listFiles
        .filter(_.getName.startsWith(s"${MetricsSink.PartitionCol}="))
        .map(p => p.getName -> p.listFiles.count(_.getName.endsWith(".parquet")))
        .toMap
    assert(filesPerPart.values.forall(_ >= 3), s"expected appends: $filesPerPart")
    val cols = df.columns.toSeq
    def rows() = MetricsSink.read(spark, base, MetricsSink.M1)
      .select(cols.map(col): _*).orderBy(cols.map(col): _*).collect()
    val before = rows()
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val rewritten = MetricsSink.compactPartitions(spark, base, MetricsSink.M1,
      key, col("bucket_ms"), maxFiles = 2)
    assert(rewritten.nonEmpty)
    assert(filesPerPart.values.forall(_ === 1), s"not compacted: $filesPerPart")
    assert(rows().sameElements(before)) // no row lost, duplicated, or changed
    // second pass: nothing oversized remains
    assert(MetricsSink.compactPartitions(spark, base, MetricsSink.M1,
      key, col("bucket_ms"), maxFiles = 2).isEmpty)
    // the rewrite released its own checkpoint blocks
    assert((spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore).isEmpty)
  }

  test("compaction crash recovery: the sweep heals both halves of the swap window") {
    val base = tmpBase()
    val df = m1()
    val key = Seq(col("workspace_id"), col("metric"))
    MetricsSink.write(df, base, MetricsSink.M1, col("bucket_ms"), key,
      mode = "overwrite")
    val cols = df.columns.toSeq
    def rows() = MetricsSink.read(spark, base, MetricsSink.M1)
      .select(cols.map(col): _*).orderBy(cols.map(col): _*).collect()
    val before = rows()
    val tierDir = new java.io.File(s"$base/metrics_1m")
    val parts = tierDir.listFiles.filter(
      _.getName.startsWith(s"${MetricsSink.PartitionCol}=")).sortBy(_.getName)
    assert(parts.length >= 2)
    // crash BETWEEN the two swap renames: partition gone, sibling holds the
    // compacted copy → the sweep must finish the swap
    val lost = parts(0)
    val lostValue = lost.getName.stripPrefix(s"${MetricsSink.PartitionCol}=")
    assert(lost.renameTo(new java.io.File(tierDir, s".compact_$lostValue")))
    // crash BEFORE the swap: partition intact, sibling is stale (pretend it
    // predates newer appends) → the sweep must discard it
    val staleValue = parts(1).getName.stripPrefix(s"${MetricsSink.PartitionCol}=")
    val stale = new java.io.File(tierDir, s".compact_$staleValue")
    stale.mkdirs()
    java.nio.file.Files.write(new java.io.File(stale, "part-stale.parquet").toPath,
      Array[Byte](1, 2, 3))
    MetricsSink.compactPartitions(spark, base, MetricsSink.M1, key,
      col("bucket_ms"), maxFiles = 1000) // sweep only: nothing is oversized
    assert(!stale.exists, "stale sibling survived the sweep")
    assert(tierDir.listFiles.forall(!_.getName.startsWith(".compact_")))
    assert(rows().sameElements(before), "rows lost across crash recovery")
  }

  test("compaction crash recovery: trash-rename protocol heals every kill point") {
    val base = tmpBase()
    val df = m1()
    val key = Seq(col("workspace_id"), col("metric"))
    MetricsSink.write(df, base, MetricsSink.M1, col("bucket_ms"), key,
      mode = "overwrite")
    val cols = df.columns.toSeq
    def rows() = MetricsSink.read(spark, base, MetricsSink.M1)
      .select(cols.map(col): _*).orderBy(cols.map(col): _*).collect()
    val before = rows()
    val tierDir = new java.io.File(s"$base/metrics_1m")
    val parts = tierDir.listFiles.filter(
      _.getName.startsWith(s"${MetricsSink.PartitionCol}=")).sortBy(_.getName)
    assert(parts.length >= 3)
    def value(i: Int) =
      parts(i).getName.stripPrefix(s"${MetricsSink.PartitionCol}=")

    // state A — crash between steps 2 and 3: partition renamed to trash,
    // complete sibling present. The OLD protocol's fatal twin of this state
    // (partial partition + complete sibling) is impossible now; the sweep
    // must finish the swap from the sibling.
    val vA = value(0)
    assert(parts(0).renameTo(new java.io.File(tierDir, s".trash_$vA")))
    val sibA = new java.io.File(tierDir, s".compact_$vA")
    sibA.mkdirs()
    // the sibling's content is "the compacted copy": copy the trash's files
    new java.io.File(tierDir, s".trash_$vA").listFiles
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(sibA, f.getName).toPath)
      }

    // state B — crash after step 3, mid trash delete: live partition AND a
    // (possibly partial) trash. The sweep must drop the trash, keep the live.
    val vB = value(1)
    val trashB = new java.io.File(tierDir, s".trash_$vB")
    trashB.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(trashB, "part-partial.parquet").toPath, Array[Byte](9))

    // state C — trash is the ONLY surviving copy (sibling lost externally):
    // the sweep must restore it rather than lose the partition.
    val vC = value(2)
    assert(parts(2).renameTo(new java.io.File(tierDir, s".trash_$vC")))

    MetricsSink.compactPartitions(spark, base, MetricsSink.M1, key,
      col("bucket_ms"), maxFiles = 1000) // sweep only
    val names = tierDir.listFiles.map(_.getName).toSet
    assert(!names.exists(_.startsWith(".trash_")), s"trash survived: $names")
    assert(!names.exists(_.startsWith(".compact_")), s"sibling survived: $names")
    assert(names.contains(s"${MetricsSink.PartitionCol}=$vA"))
    assert(names.contains(s"${MetricsSink.PartitionCol}=$vB"))
    assert(names.contains(s"${MetricsSink.PartitionCol}=$vC"))
    assert(rows().sameElements(before), "rows lost across trash recovery")
  }
}
