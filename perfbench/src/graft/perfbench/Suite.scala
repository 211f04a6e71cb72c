package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `suite`: a closed loop with one caller over a fixed, stratified list
  * of the declared `SparkEntry` queries plus the charges ETL step, each
  * run once, in order, into the noop sink. The pass starts from empty
  * artifact directories, so each artifact build is charged to the first
  * query that needs it.
  *
  * Correctness, outside the timed region: every listed query runs once
  * more and writes its rows to `out/<query>` for the DuckDB oracle
  * check in `run.py`; a query without an oracle must return rows; the
  * ETL step must split its input exactly and quarantine exactly what
  * the generator injected. */
object Suite {
  val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "EventsOps" -> graft.queries.EventsOps.queries,
    "TextOps" -> graft.queries.TextOps.queries,
    "Dedup" -> graft.queries.Dedup.queries,
    "Similarity" -> graft.queries.Similarity.queries,
    "Multimodal" -> graft.queries.Multimodal.queries,
    "MediaContainers" -> graft.queries.MediaContainers.queries,
    "DataQuality" -> graft.queries.DataQuality.queries,
    "Analytics" -> graft.queries.Analytics.queries)
  val EtlStep = "etl_charges"
  private val SetupRepeats = 3

  private final case class Timing(name: String, module: String,
      constructS: Double, execS: Double) {
    def totalS: Double = constructS + execS
  }

  def run(ctx: Ctx, config: File): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val cfg = Json.mapper.readTree(config).get("suite")
    val listed = cfg.get("queries").elements().asScala.map(_.asText).toSeq
    val moduleOf = Modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    val fnOf = Modules.flatMap(_._2).toMap
    val unknown = listed.filterNot(q => q == EtlStep || fnOf.contains(q))
    require(unknown.isEmpty, s"suite list names undeclared queries: $unknown")
    val artifactDirs = Seq("SPARK_GRAFT_INDEX_DIR", "SPARK_GRAFT_IVF_DIR",
      "SPARK_GRAFT_PQ_DIR").flatMap(sys.env.get).map(new File(_))
    require(artifactDirs.size == 3, "artifact directories must be set by the caller")

    // set-up: register the ten tables, reading each one's footer, on a
    // fresh copy of the corpus each time (the footer cache
    // is keyed by path, so a repeat over the same copy would be free)
    val setups = (1 to SetupRepeats).map { i =>
      val copy = new File(ctx.workDir, s"corpus-$i")
      Files.copyTree(new File(ctx.dataDir), copy)
      val t0 = System.nanoTime()
      graft.Tables.registerAll(spark, copy.getPath)
      (Stats.ms(t0) / 1e3, copy.getPath)
    }
    val dir = setups.last._2
    r.metric("setup_s", setups.map(_._1), "s", Stats.median)
    // untimed warm-up of the session's code paths, as the engine's bench does
    spark.range(1000000).selectExpr("sum(id)").collect()
    val heapAfterSetup = Jvm.liveOldGenMb()

    val steps = listed.map(q => q -> (if (q == EtlStep) "etl" else moduleOf(q)))
    var etl: Option[graft.etl.ChargesEtl.Result] = None
    artifactDirs.foreach(Files.emptyDir)
    val t0 = System.nanoTime()
    val perQuery = steps.map { case (q, m) =>
      ctx.spans.time(q, parent = "pass") {
        SparkTrace.scoped(spark.sparkContext, s"q:$m:$q") {
          if (q == EtlStep) {
            val (res, c, e) = etlStep(spark, dir)
            etl = Some(res)
            Timing(q, m, c, e)
          } else timeQuery(spark, q, m, fnOf(q), dir)
        }
      }
    }
    val wallS = Stats.ms(t0) / 1e3
    val artifactStats = artifactDirs.map(Files.treeStats)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    perQuery.foreach(_ => r.ok())
    r.raw("query_s", perQuery.map(_.totalS))
    r.metric("op_p50_ms", perQuery.map(_.totalS * 1e3), "ms", Stats.median)
    r.metric("op_mean_ms", perQuery.map(_.totalS * 1e3), "ms", xs => xs.sum / xs.size)
    r.metric("op_p90_ms", perQuery.map(_.totalS * 1e3), "ms", Stats.pct(_, 90))
    r.value("suite_wall_s", wallS, "s")
    r.metric("query_p50_s", perQuery.map(_.totalS), "s", Stats.median)
    r.metric("query_p90_s", perQuery.map(_.totalS), "s", Stats.pct(_, 90))
    r.heapPeak(heapAfterSetup, ctx.gc)

    // correctness, untimed
    val check0 = System.nanoTime()
    etl.foreach(res => checkEtl(ctx, res))
    etl.foreach(_.release())
    val out = ctx.dir("out")
    val oracle = graft.SparkEntry.oracleSql
    val checks = r.info.putArray("oracle_checks")
    steps.filter(_._1 != EtlStep).foreach { case (q, _) =>
      try {
        val df = fnOf(q)(spark, dir)
        oracle.get(q) match {
          case Some(sql) =>
            val path = new File(out, q).getPath
            df.write.mode("overwrite").parquet(path)
            checks.addObject().put("query", q).put("path", path).put("sql", sql)
          case None =>
            val n = df.count()
            r.check(n > 0, s"$q: no oracle and no rows")
        }
      } catch {
        case t: Throwable => r.fail(s"$q: re-run failed: ${t.getClass.getSimpleName}: " +
          String.valueOf(t.getMessage).take(200))
      }
    }
    r.info.put("check_s", Stats.ms(check0) / 1e3)
    r.info.put("queries", steps.size)
    val tq = r.info.putObject("query_s")
    perQuery.foreach(t => tq.put(t.name, t.totalS))

    if (ctx.traced) layers(ctx, perQuery, artifactStats)
  }

  /** Construct (the query function returning its DataFrame) and execute
    * (the noop sink) times. Persisted RDDs the query registered are
    * released afterwards, untimed, as the engine's own bench does. */
  private def timeQuery(spark: SparkSession, q: String, m: String,
      fn: (SparkSession, String) => DataFrame, dir: String): Timing = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val t0 = System.nanoTime()
    val df = fn(spark, dir)
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t2 = System.nanoTime()
    sc.getPersistentRDDs.filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    Timing(q, m, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** The charges ETL on the generated CSV: run → daily-totals view →
    * the view's query into the noop sink. */
  private def etlStep(spark: SparkSession, dir: String)
      : (graft.etl.ChargesEtl.Result, Double, Double) = {
    import graft.etl.ChargesEtl
    val t0 = System.nanoTime()
    val res = ChargesEtl.run(spark, s"$dir/charges.csv")
    ChargesEtl.registerDailyTotalsView(spark, res)
    val t1 = System.nanoTime()
    spark.sql("SELECT company_name, transaction_date, total_amount " +
      "FROM daily_company_totals ORDER BY company_name, transaction_date")
      .write.format("noop").mode("overwrite").save()
    (res, (t1 - t0) / 1e9, Stats.ms(t1) / 1e3)
  }

  private def checkEtl(ctx: Ctx, res: graft.etl.ChargesEtl.Result): Unit = {
    val r = ctx.report
    val ledger = Json.mapper.readTree(new File(ctx.dataDir, "charges_faults.json"))
    val original = res.original.count()
    val clean = res.clean.count()
    val critical = res.critical.count()
    r.check(original == ledger.get("rows").asLong,
      s"etl: read $original rows, generated ${ledger.get("rows").asLong}")
    r.check(clean + critical == original,
      s"etl: clean $clean + critical $critical != original $original")
    val got = res.critical.groupBy("_critical_reason").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    val want = ledger.get("faults").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    r.check(got == want, s"etl: reason breakdown $got, injected $want")
    val days = ctx.spark.table("daily_company_totals").count()
    r.check(days > 0, "etl: daily totals view is empty")
  }

  private def layers(ctx: Ctx, timings: Seq[Timing], artifacts: (Long, Long)): Unit = {
    val r = ctx.report
    SparkTrace.settle(ctx.spark)
    val totals = ctx.sparkTrace.get.totals(_ => None)
    Modules.map(_._1).foreach { m =>
      val ts = timings.filter(_.module == m)
      r.layer(s"queries.$m.construct_s", ts.map(_.constructS).sum, "s")
      r.layer(s"queries.$m.exec_s", ts.map(_.execS).sum, "s")
      r.layer(s"queries.$m.jobs", totals.collect {
        case (k, t) if k.startsWith(s"q:$m:") => t.jobs }.sum.toDouble, "count")
    }
    val all = totals.collect { case (k, t) if k.startsWith("q:") => t }
      .foldLeft(SparkTrace.Totals())(_ + _)
    r.layer("spark.suite.jobs", all.jobs.toDouble, "count")
    r.layer("spark.suite.stages", all.stages.toDouble, "count")
    r.layer("spark.suite.tasks", all.tasks.toDouble, "count")
    r.layer("spark.suite.task_overhead_s", all.taskOverheadS, "s")
    r.layer("spark.suite.executor_run_s", all.runS, "s")
    r.layer("spark.suite.executor_cpu_s", all.cpuS, "s")
    r.layer("spark.suite.gc_s", all.gcS, "s")
    r.layer("spark.suite.input_bytes", all.inputBytes.toDouble, "bytes")
    r.layer("spark.suite.shuffle_write_bytes", all.shuffleWriteBytes.toDouble, "bytes")
    r.layer("spark.suite.spill_bytes", all.spillBytes.toDouble, "bytes")
    r.layer("spark.suite.result_bytes", all.resultBytes.toDouble, "bytes")
    val etl = timings.filter(_.name == EtlStep)
    r.layer("etl.charges.run_s", etl.map(_.totalS).sum, "s")
    r.layer("etl.charges.jobs", totals.collect {
      case (k, t) if k.startsWith("q:etl:") => t.jobs }.sum.toDouble, "count")
    r.layer("sources.suite.artifact_bytes_written", artifacts._1.toDouble, "bytes")
    r.layer("sources.suite.artifact_files_written", artifacts._2.toDouble, "count")
  }
}
