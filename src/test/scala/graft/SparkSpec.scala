package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. One session per JVM (tests
  * run sequentially in sbt's forked JVM); small shuffle fan-out keeps local
  * runs fast. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf = "/root/testdata/sf0.001"

  /** Run `body` with every range-partitioned write cut into exactly `n`
    * slices (no adaptive coalescing of the small test data), then restore
    * the session's confs. */
  def withSlices[T](n: Int)(body: => T): T = {
    val kv = Seq("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s result and the descriptions of the Spark jobs it started. The
    * listener bus is asynchronous, so a marked job run afterwards flushes
    * it: every job started before the marker is delivered before it. */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription("jobs-marker")
      try spark.range(1).collect() finally sc.setJobDescription(null)
      def next() = started.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      val before = Seq.newBuilder[String]
      var d = next()
      while (d != null && d != "jobs-marker") { before += d; d = next() }
      assert(d === "jobs-marker", "the listener never saw the marker job")
      (out, before.result())
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
