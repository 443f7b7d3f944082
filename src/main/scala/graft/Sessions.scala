package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession configuration for every entry point (Verify, Bench,
  * tests, app mains) so behavior-changing confs are set once at session build
  * and never mid-flight:
  *   - nanosAsLong: events.parquet carries ns timestamps ([[graft.model
  *     .Tables.events]]);
  *   - UTC session timezone: all time bucketing/partition naming is UTC;
  *   - shuffle partitions sized to the local core count (the 100 TB analog is
  *     "size to the cluster", never the 200 default);
  *   - AQE on (default in Spark 4) handles post-shuffle coalesce + skew joins.
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // graft extensions: the RollupRouting rule (inert until its confs are
      // set) and the SQL spellings of the native expressions
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // storage codec matches the reference's ZSTD-everywhere posture
      // (schema.sql:4-63). Measured on the raw tier at sf0.1 (the codec_ab
      // dev probe at commit 5683966, warm): 36% fewer bytes than snappy
      // (1.6 vs 2.5 MB), read parity, ~0.2 s/5 write CPU — at 100 TB that
      // is a third less tier I/O and storage for a marginal ingest cost.
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")

  /** Local session sized by the SPARK_GRAFT_CPUS contract (driver default 4). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
