package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test`). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sfDir: String = SparkSpec.sfDir

  /** VERSION-PINNED file matcher for a lake change table, for the
    * file-exactness assertions on incremental-maintenance frames:
    * matches the manifest layout's `_data/<table>-%08d` dir (a change
    * table is always written BY its version's publish, so the dir
    * version IS the table's version) or the legacy per-version
    * `/v<v>/<table>/` layout. A bare table-name substring would also
    * match the WRONG version's change table and hide an off-by-one
    * maintenance read. */
  def changeTableFile(table: String, v: Long)(f: String): Boolean =
    f.contains(f"_data/$table-$v%08d") || f.contains(s"/v$v/$table/")

  /** `f`'s result and the number of Spark jobs it started on this
    * thread, counted by a listener that matches the job tag
    * `SparkSession.addTag` puts on them — jobs of any other thread or
    * test are never counted. The listener bus is asynchronous but
    * delivers in order, so a sentinel job under a second tag, once
    * seen, proves every earlier job start has been delivered. */
  def jobsOf[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tag = s"jobs-${java.util.UUID.randomUUID}"
    val sentinel = s"$tag-end"
    def tagged(e: SparkListenerJobStart, t: String): Boolean =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.split(",").exists(x => x == t || x.endsWith(s"-$t")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e, sentinel)) flushed.countDown()
        else if (tagged(e, tag)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.addTag(tag)
      val r = try f finally spark.removeTag(tag)
      spark.addTag(sentinel)
      try spark.range(1).collect() finally spark.removeTag(sentinel)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel job never reached the listener")
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
