package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark's own counts, attributed to the benchmark's scopes. Attached
  * only in traced runs.
  *
  * A job belongs to the scope in its `perfbench.scope` local property
  * (set by the benchmark on its own thread around a call), else to the
  * span of `fallback` that was open when the job was submitted (the
  * serving run keeps one request in flight, so the open request span
  * is unambiguous), else to `other`. Tasks and stages follow their
  * job. Attribution is resolved after the run, when the listener bus
  * has delivered every event. */
final class SparkTrace extends SparkListener {
  import SparkTrace._

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageAcc = mutable.HashMap.empty[Int, StageAcc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(ScopeKey)))
    jobs += JobRec(e.jobId, e.time, scope, e.stageIds)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageAcc.getOrElseUpdate(e.stageInfo.stageId, new StageAcc).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.result += m.resultSize
      if (e.taskInfo != null)
        a.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
    }
  }

  /** Per-scope totals. `fallback` maps a submission time to the open
    * span's scope. */
  def totals(fallback: Long => Option[String]): Map[String, Totals] = synchronized {
    val out = mutable.HashMap.empty[String, Totals]
    jobs.foreach { j =>
      val scope = j.scope.orElse(fallback(j.timeMs)).getOrElse("other")
      val t = out.getOrElse(scope, Totals())
      val st = j.stages.flatMap(stageAcc.get)
      out(scope) = t.copy(
        jobs = t.jobs + 1,
        stages = t.stages + st.map(_.stages).sum,
        tasks = t.tasks + st.map(_.tasks).sum,
        runS = t.runS + st.map(_.runMs).sum / 1e3,
        cpuS = t.cpuS + st.map(_.cpuNs).sum / 1e9,
        gcS = t.gcS + st.map(_.gcMs).sum / 1e3,
        inputBytes = t.inputBytes + st.map(_.inBytes).sum,
        shuffleWriteBytes = t.shuffleWriteBytes + st.map(_.shuffleW).sum,
        spillBytes = t.spillBytes + st.map(_.spill).sum,
        resultBytes = t.resultBytes + st.map(_.result).sum,
        taskOverheadS = t.taskOverheadS + st.map(_.overheadMs).sum / 1e3)
      // a stage shared by two jobs (a reused shuffle) counts once
      st.foreach { s => s.stages = 0; s.tasks = 0; s.runMs = 0; s.cpuNs = 0
        s.gcMs = 0; s.inBytes = 0; s.shuffleW = 0; s.spill = 0; s.result = 0
        s.overheadMs = 0 }
    }
    out.toMap
  }
}

object SparkTrace {
  val ScopeKey = "perfbench.scope"

  private final case class JobRec(id: Int, timeMs: Long, scope: Option[String],
      stages: Seq[Int])
  private final class StageAcc {
    var tasks, runMs, cpuNs, gcMs, inBytes, shuffleW, spill, result,
        overheadMs, stages = 0L
  }

  final case class Totals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      runS: Double = 0, cpuS: Double = 0, gcS: Double = 0, inputBytes: Long = 0,
      shuffleWriteBytes: Long = 0, spillBytes: Long = 0, resultBytes: Long = 0,
      taskOverheadS: Double = 0) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, runS + o.runS, cpuS + o.cpuS, gcS + o.gcS,
      inputBytes + o.inputBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes + o.spillBytes, resultBytes + o.resultBytes,
      taskOverheadS + o.taskOverheadS)
  }

  /** Run `body` with this thread's jobs attributed to `scope`. */
  def scoped[T](sc: SparkContext, scope: String)(body: => T): T = {
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    try body finally sc.setLocalProperty(ScopeKey, prev)
  }

  /** Let the listener bus deliver what is queued before totals are read. */
  def settle(spark: SparkSession): Unit = {
    spark.range(1).count() // a final job whose end we can wait past
    Thread.sleep(1500)
  }
}

/** `StreamingQueryProgress.durationMs` per query, keyed by query id. */
final class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  private val byQuery = mutable.HashMap.empty[java.util.UUID,
    mutable.ArrayBuffer[Map[String, Long]]]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    val m = d.keySet().toArray.map(k => k.toString -> d.get(k).longValue).toMap
    byQuery.getOrElseUpdate(e.progress.id, mutable.ArrayBuffer.empty) += m
  }
  def progress(id: java.util.UUID): Seq[Map[String, Long]] = synchronized {
    byQuery.get(id).map(_.toSeq).getOrElse(Nil)
  }
}
