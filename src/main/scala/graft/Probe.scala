package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.util.RawValue
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.obs.{Meter, Usage}
import graft.service.RestApi.json

/** The measurement harness: `Probe <cell> [args]` runs one named
  * experiment in a session built for it and prints its result, one
  * JSON line for a JSON cell, text lines for `probe`, `floor`, `scans`,
  * `jobs` and `plan`. Every cell reads Spark's costs through
  * [[graft.obs.Meter]], runs queries through [[runQuery]] and writes
  * JSON through Jackson, so a line parses by construction.
  *
  * Environment: `SPARK_GRAFT_CPUS` (local cores, default all),
  * `SPARK_GRAFT_SF_DIR` (the sf tables, for cells that read them);
  * cells document their own knobs. A failing cell prints
  * `{"cell":…,"error":…}` and exits 1.
  */
object Probe {

  /** What a cell sees: its session, its arguments after the cell name,
    * the sf directory if one is set, and where its lines go. */
  final case class Ctx(spark: SparkSession, args: Seq[String],
      sf: Option[String], out: String => Unit) {
    def sfDir: String =
      sf.getOrElse(sys.error("set SPARK_GRAFT_SF_DIR to the sf tables' directory"))
    def cpus: Int = spark.sparkContext.defaultParallelism
    /** The positional query names, or `default` when none are given. */
    def queries(default: => Seq[String])
        : Seq[(String, (SparkSession, String) => DataFrame)] = {
      val names = args.filterNot(_.startsWith("--"))
      (if (names.nonEmpty) names else default).map(n => n ->
        SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n")))
    }
    def emit(fields: (String, Any)*): Unit = out(json.writeValueAsString(obj(fields: _*)))
    /** `work`'s result and its usage as one `label: {secs, …}`
      * fragment of a line. */
    def measured[T](label: String)(work: => T): ((String, ObjectNode), T) = {
      val (r, u) = Meter.measure(spark)(work)
      (label -> usageJson(u), r)
    }
    def measure(label: String)(work: => Unit): (String, ObjectNode) =
      measured(label)(work)._1
  }

  /** One experiment. `aqe` picks the session posture from the cell's
    * arguments; `conf` is the cell's own extra session conf; a cell
    * with a `mirror` also has its lines written to that file. */
  final case class Cell(name: String, params: String,
      aqe: Seq[String] => Boolean, run: Ctx => Unit,
      conf: Map[String, String] = Map.empty, mirror: Option[String] = None)

  val Plain: Seq[String] => Boolean = _ => false
  val Adaptive: Seq[String] => Boolean = _ => true
  val AdaptiveIfAsked: Seq[String] => Boolean = _.contains("--aqe")

  lazy val cells: Seq[Cell] =
    probe.QueryCells.cells ++ probe.LakeCells.cells ++ probe.TextCells.cells

  def usage: String =
    ("usage: graft.Probe <cell> [args]" +: cells.map(c => s"  ${c.name} ${c.params}".stripTrailing))
      .mkString("\n")

  def main(args: Array[String]): Unit = {
    val cell = args.headOption.flatMap(n => cells.find(_.name == n)).getOrElse {
      System.err.println(usage)
      sys.exit(2)
    }
    val rest = args.toSeq.tail
    val spark = session(cell, rest)
    val lines = Seq.newBuilder[String]
    val ok =
      try run(spark, cell, rest, sys.env.get("SPARK_GRAFT_SF_DIR").filter(_.nonEmpty),
        l => { println(l); lines += l })
      finally spark.stop()
    cell.mirror.foreach(m =>
      Files.write(Paths.get(m), lines.result().map(_ + "\n").mkString.getBytes(UTF_8)))
    if (!ok) sys.exit(1)
  }

  /** Run `cell` on `spark`; false (after an error line) if it threw. */
  def run(spark: SparkSession, cell: Cell, args: Seq[String],
      sf: Option[String], out: String => Unit): Boolean =
    try { cell.run(Ctx(spark, args, sf, out)); true }
    catch {
      case NonFatal(t) =>
        out(json.writeValueAsString(obj("cell" -> cell.name, "error" -> t.toString)))
        t.printStackTrace()
        false
    }

  /** The one session factory: `local[SPARK_GRAFT_CPUS]`, shuffle
    * partitions sized to it, plain or [[GraftSession.Adaptive]], then
    * the cell's own conf. */
  def session(cell: Cell, args: Seq[String]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val adaptive = if (cell.aqe(args)) GraftSession.Adaptive else Nil
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config((adaptive ++ cell.conf).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body`, then drop the RDDs it persisted, and only those: a
    * deliberately long-lived cross-query cache (e.g. a shared
    * signature index) must not be evicted between queries, which would
    * re-charge its build to every user. Without the drop, ~30
    * checkpointing queries × iterations pile hundreds of persisted RDDs
    * into the block manager and later queries pay eviction churn
    * (measured +50% on the AQE bench total at sf0.1). blocking = true
    * so removal finishes before the next measurement; guarded so a
    * query that killed the context cannot take the caller with it. */
  def cleaned[A](spark: SparkSession)(body: => A): A = {
    def live = !spark.sparkContext.isStopped
    val pre: Set[Int] =
      try if (live) spark.sparkContext.getPersistentRDDs.keySet.toSet else Set.empty
      catch { case NonFatal(_) => Set.empty }
    try body
    finally
      try if (live) spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => pre.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
      catch { case NonFatal(_) => () }
  }

  /** Materialize every output column and discard it. Not `count()`:
    * count lets Catalyst prune every unreferenced column, so a window
    * query collapses to a bare scan and a projection-only query times
    * without its kernel. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One query, the way Bench runs it: construct, noop sink, drop what
    * it persisted. */
  def runQuery(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String): DataFrame =
    cleaned(spark) { val df = fn(spark, dir); noop(df); df }

  /** A JSON object from `fields`, in order: nodes, Seqs (as arrays),
    * raw number text and plain values (strings, numbers, booleans). */
  def obj(fields: (String, Any)*): ObjectNode = {
    val o = json.createObjectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }
  private def node(v: Any): JsonNode = v match {
    case n: JsonNode => n
    case s: Seq[_] => json.createArrayNode().addAll(s.map(node).asJava)
    case r: RawValue => json.getNodeFactory.rawValueNode(r)
    case other => json.valueToTree[JsonNode](other)
  }

  def mb(bytes: Long): Double = math.round(bytes / 1048.576) / 1000.0
  def secs(ms: Double): Double = math.round(ms) / 1000.0
  /** `f`'s result and its wall seconds, to the millisecond. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secs((System.nanoTime() - t0) / 1e6))
  }

  /** The usage fields every measured record carries. */
  def usageJson(u: Usage): ObjectNode = obj(
    "secs" -> secs(u.wallMs), "jobs" -> u.jobs, "stages" -> u.stages,
    "tasks" -> u.tasks, "input_mb" -> mb(u.inputBytes),
    "records_read" -> u.recordsRead, "output_mb" -> mb(u.outputBytes),
    "shuffle_read_mb" -> mb(u.shuffleReadBytes),
    "shuffle_write_mb" -> mb(u.shuffleWriteBytes),
    "spill_mem_mb" -> mb(u.memorySpillBytes),
    "spill_disk_mb" -> mb(u.diskSpillBytes),
    "peak_task_exec_mem_mb" -> mb(u.peakTaskExecMemBytes))
}
