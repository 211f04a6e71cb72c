package graft.obs

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What one measured piece of work cost Spark: its own jobs, stages
  * and tasks only, never another thread's. Byte fields sum over the
  * scope's tasks; `peakTaskExecMemBytes` is the largest single task's
  * peak execution memory (a stage's `taskMetrics.peakExecutionMemory`
  * is the SUM of its tasks' peaks, not a peak). `stages` and `tasks`
  * count what ran: a stage skipped because its shuffle output already
  * exists adds neither. */
final case class Usage(wallMs: Double, jobLog: Vector[Meter.Job],
    stages: Int, tasks: Int, inputBytes: Long, outputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, memorySpillBytes: Long,
    diskSpillBytes: Long, recordsRead: Long, peakTaskExecMemBytes: Long) {
  def jobs: Int = jobLog.size
}

/** The one Spark instrument. A single listener per SparkContext
  * attributes every job to the scopes whose job tag it carries;
  * `measure` opens a scope by putting a fresh tag on the calling
  * thread with `SparkContext.addJobTag`. That tag reaches SQL jobs,
  * RDD-API jobs and the broadcast-exchange jobs Spark runs on its own
  * threads (it captures the caller's local properties), while
  * `SparkSession.addTag` tags SQL executions only. Jobs of other
  * threads never carry the tag, so concurrent scopes stay apart.
  *
  * The listener bus is asynchronous but delivers in order, and Spark
  * posts a job's task-end and stage-completed events before the job's
  * caller returns. So once a sentinel job submitted after the work is
  * seen by the listener, every event of the work has been delivered:
  * `measure` waits for exactly that, with no sleep and no poll. */
object Meter {

  /** One job of a scope: its id, the stages and tasks it declared at
    * submission (skipped stages included) and its short call site. */
  final case class Job(id: Int, stages: Int, tasks: Int, site: String)

  private val FlushPrefix = "graft-meter-flush-"

  private final class Acc {
    val jobs = Vector.newBuilder[Job]
    var stages, tasks = 0
    var input, output, shuffleRead, shuffleWrite, memSpill, diskSpill,
      records, peak = 0L
  }

  private final class Listener extends SparkListener {
    private val scopes = mutable.HashMap.empty[String, Acc]
    private val stageScopes = mutable.HashMap.empty[Int, Seq[Acc]]
    private val flushes = mutable.HashMap.empty[String, CountDownLatch]

    def open(tag: String): Acc = synchronized {
      val acc = new Acc
      scopes(tag) = acc
      acc
    }
    def close(tag: String): Unit = synchronized {
      scopes.remove(tag).foreach(acc =>
        stageScopes.filterInPlace((_, accs) => !accs.exists(_ eq acc)))
    }
    def expectFlush(tag: String): CountDownLatch = synchronized {
      flushes.getOrElseUpdate(tag, new CountDownLatch(1))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val sentinels = tags.filter(_.startsWith(FlushPrefix))
      if (sentinels.nonEmpty) sentinels.foreach(t => flushes.remove(t).foreach(_.countDown()))
      else {
        val accs = tags.flatMap(scopes.get)
        if (accs.nonEmpty) {
          // a stage's name is its short call site; the result stage,
          // the job's last, carries the job's
          val job = Job(e.jobId, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum,
            e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?"))
          accs.foreach(_.jobs += job)
          e.stageIds.foreach(s =>
            stageScopes(s) = (stageScopes.getOrElse(s, Nil) ++ accs).distinct)
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageScopes.getOrElse(e.stageInfo.stageId, Nil).foreach(_.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stageScopes.getOrElse(e.stageId, Nil).foreach { a =>
        a.tasks += 1
        if (m != null) {
          a.input += m.inputMetrics.bytesRead
          a.records += m.inputMetrics.recordsRead
          a.output += m.outputMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.memSpill += m.memoryBytesSpilled
          a.diskSpill += m.diskBytesSpilled
          a.peak = math.max(a.peak, m.peakExecutionMemory)
        }
      }
    }
  }

  private val listeners = new java.util.WeakHashMap[SparkContext, Listener]

  private def listenerOf(sc: SparkContext): Listener = listeners.synchronized {
    Option(listeners.get(sc)).getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      listeners.put(sc, l)
      l
    }
  }

  /** Run `work` and return its result with the Spark usage of the jobs
    * it started, on this thread or on threads Spark starts for it. An
    * exception from `work` closes the scope and propagates. */
  def measure[T](spark: SparkSession)(work: => T): (T, Usage) = {
    val sc = spark.sparkContext
    val l = listenerOf(sc)
    val tag = s"graft-meter-${UUID.randomUUID}"
    val a = l.open(tag)
    try {
      val t0 = System.nanoTime()
      sc.addJobTag(tag)
      val r = try work finally sc.removeJobTag(tag)
      val wallMs = (System.nanoTime() - t0) / 1e6
      val sentinel = FlushPrefix + UUID.randomUUID
      val flushed = l.expectFlush(sentinel)
      sc.addJobTag(sentinel)
      try sc.parallelize(Seq(0), 1).count() finally sc.removeJobTag(sentinel)
      require(flushed.await(60, TimeUnit.SECONDS),
        "the meter's sentinel job never reached its listener")
      (r, l.synchronized(Usage(wallMs, a.jobs.result(), a.stages, a.tasks,
        a.input, a.output, a.shuffleRead, a.shuffleWrite, a.memSpill,
        a.diskSpill, a.records, a.peak)))
    } finally l.close(tag)
  }
}
