package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its generated inputs, a
  * work directory it owns, the run's knobs, and where it reports. */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: File,
    seed: Long, seconds: Int, traced: Boolean, report: Report, spans: Spans,
    sparkTrace: Option[SparkTrace], streamTrace: Option[StreamTrace],
    gc: Jvm.GcWatch) {
  def dir(name: String): File = { val f = new File(workDir, name); f.mkdirs(); f }
}

/** One workload in one JVM on `local[nproc]` under the production
  * session posture (`GraftSession.builder`: AQE plus the extensions).
  * The caller (`run.py`) generates the inputs, points every artifact,
  * temp and warehouse directory into `--work`, and turns the result
  * file into the benchmark's output lines.
  *
  * Usage: Main --workload suite|serve|ingest --seed N --seconds S
  *   --trace 0|1 [--data DIR] --work DIR --out FILE --config FILE
  * (`ingest` generates its own inputs and takes no `--data`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val report = new Report(workload)
    val loadStart = Jvm.loadAverage()
    val cpuProbe = Jvm.cpuProbeMs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(cores)
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkTrace = if (traced) Some(new SparkTrace) else None
    val streamTrace = if (traced) Some(new StreamTrace) else None
    sparkTrace.foreach(spark.sparkContext.addSparkListener)
    streamTrace.foreach(spark.streams.addListener)
    val gc = new Jvm.GcWatch
    val ctx = Ctx(spark, opts.getOrElse("data", ""), work, opts("seed").toLong,
      opts("seconds").toInt, traced, report, new Spans, sparkTrace, streamTrace, gc)
    val config = new File(opts("config"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    report.info.put("session_ready_s", (System.currentTimeMillis() - jvmStart) / 1e3)
    val w0 = System.nanoTime()
    val gc0 = Jvm.gcMillis()
    try {
      workload match {
        case "suite" => Suite.run(ctx, config)
        case "serve" => Serve.run(ctx, config)
        case "ingest" => Ingest.run(ctx, config)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case t: Throwable =>
        report.fail(s"workload aborted: ${t.getClass.getSimpleName}: " +
          String.valueOf(t.getMessage).take(300))
        t.printStackTrace()
    }
    report.info.put("workload_wall_s", Stats.ms(w0) / 1e3)
    report.layer("jvm.gc_s", (Jvm.gcMillis() - gc0) / 1e3, "s")
    if (traced) report.layer("jvm.gc_pause_max_ms", gc.maxPauseMs, "ms")
    gc.close()
    report.info.put("cores", cores)
    report.info.put("seed", ctx.seed)
    report.info.put("cpu_probe_ms", cpuProbe)
    report.info.put("load_start", loadStart)
    report.info.put("load_end", Jvm.loadAverage())
    report.info.put("spark_version", spark.version)
    if (traced) ctx.spans.writeJsonl(new File(opts("out") + ".spans.jsonl"))
    Json.write(report.toJson, new File(opts("out")))
    spark.stop()
  }
}
