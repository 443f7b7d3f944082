package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failures are LOUD in the artifact: any builder/write exception lands in
  * `failures.json` (name → exception message) next to `oracle_sql.json`, and
  * the process exits non-zero. Round 10 proved the silent-swallow version
  * lets a shrunken correctness table pass unnoticed — 32 queries vanished
  * from CORRECTNESS_r10.json with only stderr lines nobody read.
  */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonObj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only third arg: comma-separated query-name filter for fast
    // iteration on a single operator (the driver always passes two args,
    // so the dumped oracle_sql.json stays complete in driver runs)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // one part file per query through a shuffle, not coalesce(1): with no
      // final sort to cut the plan, coalesce(1) would run the whole last
      // stage (often scan + projection battery) in a single task
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      finally CacheHygiene.releaseAll(spark) // no per-query cache outlives its dump
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObj(SparkEntry.oracleSql
        .filter { case (name, _) => only.forall(_.contains(name)) }))
    // always written (empty object when green) so its absence vs emptiness is
    // never ambiguous to the driver or a later auditor
    Files.writeString(Paths.get(s"$outDir/failures.json"), jsonObj(failures))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size}/${SparkEntry.queries.size} queries FAILED: " +
          failures.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
