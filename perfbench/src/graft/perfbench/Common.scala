package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Percentiles by linear interpolation between closest ranks (numpy's
  * default), so the benchmark's numbers can be re-derived from its
  * raw samples with any standard tool. */
object Stats {
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of no samples")
    val pos = (s.length - 1) * p / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

object Json {
  val mapper = new ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
  def write(node: ObjectNode, f: File): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, node)
}

/** What one run measured: end-to-end metrics (value, unit, sample
  * count), per-layer metrics, and the operation ledger behind
  * `attempted`/`failed`. Failures keep their first messages so a
  * wrong output is diagnosable from the result file alone. */
final class Report(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = Json.obj()
  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]

  def ok(): Unit = synchronized { attempted += 1 }
  def fail(what: String): Unit = synchronized {
    attempted += 1; failed += 1
    if (problems.size < 20) problems += what
  }
  /** A check that is not itself a timed operation but must hold. */
  def check(cond: Boolean, what: => String): Unit = if (cond) ok() else fail(what)

  def metric(name: String, samples: Iterable[Double], unit: String,
      f: Iterable[Double] => Double): Unit =
    if (samples.nonEmpty) e2e(name) = (f(samples), unit, samples.size)
  def value(name: String, v: Double, unit: String, samples: Int = 1): Unit =
    e2e(name) = (v, unit, samples)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  /** The live old generation at set-up end (`setup_heap_mb`) and the
    * largest old-generation occupancy after any collection from
    * workload start to run end (`heap_peak_mb`, one sample per GC). */
  def heapPeak(afterSetupMb: Double, gc: Jvm.GcWatch): Unit = {
    value("setup_heap_mb", afterSetupMb, "MB")
    val (peakMb, collections) = gc.oldGenPeak
    value("heap_peak_mb", peakMb, "MB", collections.toInt)
  }
  /** Keep a metric's raw samples in the result, so any statistic can be
    * re-derived from one run. */
  def raw(name: String, xs: Iterable[Double]): Unit = {
    val node = Option(info.get("samples")).getOrElse(info.putObject("samples"))
      .asInstanceOf[ObjectNode].putArray(name)
    xs.foreach(x => node.add(x))
  }

  def toJson: ObjectNode = {
    val root = Json.obj()
    root.put("workload", workload)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val pr = root.putArray("problems")
    problems.foreach(pr.add)
    val e = root.putObject("e2e")
    e2e.foreach { case (k, (v, u, n)) =>
      e.putObject(k).put("value", v).put("unit", u).put("samples", n) }
    val l = root.putObject("layers")
    layers.foreach { case (k, (v, u)) => l.putObject(k).put("value", v).put("unit", u) }
    root.set[ObjectNode]("info", info)
    root
  }
}

/** JVM-level readings that need no listener: old-generation occupancy
  * after a forced full collection (the live set) and cumulative GC
  * time, plus the load and CPU-capacity context of the run. */
object Jvm {
  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Live old-generation MB after four full collections, 300 ms apart.
    * Called only at phase ends, outside every timed region. The pauses
    * let Spark's cleaner drop the blocks (broadcasts, shuffles) whose
    * handles a collection found unreachable; what those blocks held is
    * freed only by a later collection, so it takes several: after
    * `serve` set-up the readings were ~117 and ~115 MB, then 78 MB from
    * the third collection on. */
  def liveOldGenMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    oldGen.map(_.getUsage.getUsed / 1048576.0).getOrElse(
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0)
  }

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  def loadAverage(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** A fixed single-core integer loop (median of 3, after one JIT
    * warm-up): its ms is comparable across machines and boots, so a
    * shift in every metric by the same factor reads as environment. */
  def cpuProbeMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var i = 0L; var s = 0L
      while (i < 20000000L) { s += i * i; i += 1 }
      if (s == 42L) println("")
      Stats.ms(t0)
    }
    once()
    Stats.median(Seq(once(), once(), once()))
  }

  /** Watches every collection through the GC notifications: the
    * largest pause (reported in traced runs) and the largest
    * old-generation occupancy after a collection (`heap_peak_mb`).
    * A notification costs microseconds, so timed runs keep it too. */
  final class GcWatch {
    @volatile var maxPauseMs = 0.0
    private var oldGenMaxMb = 0.0
    private var collections = 0L
    def oldGenPeak: (Double, Long) = synchronized((oldGenMaxMb, collections))
    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, h: Any): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          // concurrent cycles are not pauses
          if (!info.getGcName.contains("Concurrent"))
            maxPauseMs = math.max(maxPauseMs, info.getGcInfo.getDuration.toDouble)
          val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collectFirst {
            case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") =>
              u.getUsed / 1048576.0 }
          old.foreach { mb => GcWatch.this.synchronized {
            oldGenMaxMb = math.max(oldGenMaxMb, mb); collections += 1 } }
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: javax.management.NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    def close(): Unit = emitters.foreach(e =>
      try e.removeNotificationListener(listener)
      catch { case _: javax.management.ListenerNotFoundException => () })
  }
}

/** One timed span: name, wall-clock bounds (epoch ms), parent and
  * request id. Kept in memory and written out once at the end. */
final case class Span(name: String, startMs: Long, endMs: Long,
    parent: String, reqId: Long)

final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = q.add(s)
  def all: Seq[Span] = q.asScala.toSeq
  /** Time `body` as a span and return its result. */
  def time[T](name: String, parent: String = "", reqId: Long = -1L)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally add(Span(name, t0, System.currentTimeMillis(), parent, reqId))
  }
  def writeJsonl(f: File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.startMs).foreach { s =>
      val o = Json.obj().put("name", s.name).put("start_ms", s.startMs)
        .put("end_ms", s.endMs).put("parent", s.parent).put("req", s.reqId)
      w.println(Json.mapper.writeValueAsString(o))
    } finally w.close()
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }
  def emptyDir(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.mkdirs()
    ()
  }
  def treeStats(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).toSeq.flatten.map(treeStats)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
  def copyTree(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.listFiles()).toSeq.flatten.foreach { f =>
      val dst = new File(to, f.getName)
      if (f.isDirectory) copyTree(f, dst)
      else java.nio.file.Files.copy(f.toPath, dst.toPath)
    }
  }
}
