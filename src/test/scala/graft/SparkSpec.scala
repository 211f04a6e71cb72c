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

  /** `f`'s result and the number of Spark jobs it started, counted by
    * [[graft.obs.Meter]]: jobs of any other thread or test are never
    * counted. */
  def jobsOf[T](f: => T): (T, Int) = {
    val (r, usage) = graft.obs.Meter.measure(spark)(f)
    (r, usage.jobs)
  }
}
