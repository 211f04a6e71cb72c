package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.obs.{Meter, Usage}

/** The meter counts exactly the jobs, stages and tasks of the work it
  * wraps — RDD-API and broadcast jobs included — and nothing another
  * thread runs meanwhile. */
class MeterSpec extends SparkSpec {

  private def counts(u: Usage) = (u.jobs, u.stages, u.tasks)

  private def aggregate(): Unit =
    spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count().collect()

  /** The broadcast side has 5 partitions, more than any shuffle here
    * reads, so its collect job is the only 1-stage, 5-task job. */
  private def broadcastJoin(): Unit =
    spark.range(0, 10000, 1, 4)
      .join(broadcast(spark.range(0, 100, 1, 5)), "id")
      .agg(sum("id")).collect()

  test("an RDD-API job counts as one job with one task per partition, at its call site") {
    val (n, u) = Meter.measure(spark)(spark.sparkContext.parallelize(1 to 100, 4).count())
    assert(n == 100)
    assert(counts(u) == ((1, 1, 4)))
    assert(u.jobLog.map(_.tasks) == Seq(4))
    assert(u.jobLog.head.site.startsWith("count at MeterSpec.scala"), u.jobLog)
  }

  test("the broadcast-exchange job is counted in the scope that ran the join") {
    val u = Meter.measure(spark)(broadcastJoin())._2
    assert(u.jobLog.exists(j => j.stages == 1 && j.tasks == 5),
      s"no broadcast job in ${u.jobLog}")
  }

  test("repeating the same work gives identical counts") {
    aggregate(); broadcastJoin()
    for (work <- Seq(() => aggregate(), () => broadcastJoin())) {
      val runs = (1 to 3).map(_ => counts(Meter.measure(spark)(work())._2))
      assert(runs.distinct.size == 1, runs)
      assert(runs.head._1 >= 1 && runs.head._3 >= runs.head._2)
    }
  }

  test("concurrent scopes each get what they get alone and share no job") {
    val works = Seq(() => aggregate(), () => broadcastJoin())
    works.foreach(_())
    val alone = works.map(w => Meter.measure(spark)(w())._2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val start = new CountDownLatch(2)
      val together = works.map(w => pool.submit(new Callable[Usage] {
        def call(): Usage = {
          start.countDown()
          start.await()
          Meter.measure(spark)(w())._2
        }
      })).map(_.get(120, TimeUnit.SECONDS))
      assert(together.map(counts) == alone.map(counts))
      val Seq(a, b) = together.map(_.jobLog.map(_.id).toSet)
      assert(a.nonEmpty && b.nonEmpty && a.intersect(b).isEmpty)
    } finally pool.shutdown()
  }
}
