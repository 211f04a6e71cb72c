package graft.perfbench

import java.io.File
import java.nio.file.{Files => NFiles, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.Versioned
import graft.streaming.{StreamingLakeAppend, StreamingLakeTakedown}

/** `ingest`: writes beside reads on one versioned lake, the
  * `ScaleStreamLake` shape. Set-up bootstraps a keyed lake with
  * `Versioned.setAutoCompact(…, 6)`; append files (new keys) and
  * tombstone files (standing keys) are generated in set-up and only
  * renamed into the stream's input directories during the run, one
  * append per tick and a takedown every `takedown_every` ticks. One
  * drain thread runs `StreamingLakeAppend` and
  * `StreamingLakeTakedown` (AvailableNow triggers) back to back, while
  * an auditor probes keys with `Versioned.readPoint`/`readPointIn`.
  *
  * Every audit is checked against the generator's ledger of committed
  * files; after the run every appended key must be present once, every
  * removed key absent, and the row count must equal standing + appended
  * − removed. */
object Ingest {
  final case class Config(standingRows: Long, appendRows: Long, takedownKeys: Int,
      takedownEvery: Int, tickS: Double, auditsPerS: Double, autoCompact: Int)

  def config(n: JsonNode): Config = Config(n.get("standing_rows").asLong,
    n.get("append_rows").asLong, n.get("takedown_keys").asInt,
    n.get("takedown_every").asInt, n.get("tick_s").asDouble,
    n.get("audits_per_s").asDouble, n.get("auto_compact").asInt)

  private val Table = "t"
  private val AuditSeed = 20260417L
  private val SetupRepeats = 3
  private val KeySchema = StructType(Seq(StructField("k", LongType)))

  private def facts(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi, 1, 8).select(col("id").as("k"),
      concat(lit("payload-"), lpad((col("id") % 99991).cast("string"), 12, "0")).as("v"))

  /** One drain: which input files it consumed and when it ended. */
  private final case class Drain(kind: String, startMs: Double, endNs: Long,
      files: Seq[String], queryId: java.util.UUID)

  def run(ctx: Ctx, cfgFile: File): Unit = {
    val cfg = config(Json.mapper.readTree(cfgFile).get("ingest"))
    val spark = ctx.spark
    val r = ctx.report
    val ticks = math.max(1, (ctx.seconds / cfg.tickS).toInt)
    val rng = new scala.util.Random(ctx.seed * 31L + 7L)

    // inputs: append files (fresh keys) and tombstone files (distinct
    // standing keys), written once and staged for renaming
    val staged = ctx.dir("staged")
    val appendKeys = (1 to ticks).map { i =>
      val lo = cfg.standingRows + (i - 1) * cfg.appendRows
      i -> (lo until lo + cfg.appendRows)
    }.toMap
    val takedownTicks = (1 to ticks).filter(_ % cfg.takedownEvery == 0)
    val removedPool = rng.shuffle((0L until cfg.standingRows).iterator
      .filter(_ => rng.nextInt(100) < 5).take(cfg.takedownKeys * 50).toSeq)
    val removeKeys = takedownTicks.zipWithIndex.map { case (t, j) =>
      t -> removedPool.slice(j * cfg.takedownKeys, (j + 1) * cfg.takedownKeys)
    }.toMap
    // one job per input kind: a `tick` column partitions the rows, one
    // file per tick, each moved to `<kind>-<tick>.parquet`
    def stage(df: DataFrame, kind: String): Unit = {
      val tmp = new File(ctx.workDir, s"gen-$kind")
      df.repartition(col("tick")).sortWithinPartitions("k")
        .write.partitionBy("tick").parquet(tmp.getPath)
      tmp.listFiles().filter(_.getName.startsWith("tick=")).foreach { d =>
        val part = d.listFiles().find(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        NFiles.move(part.toPath, new File(staged,
          f"$kind-${d.getName.stripPrefix("tick=").toInt}%05d.parquet").toPath)
      }
      Files.deleteTree(tmp)
    }
    stage(facts(spark, cfg.standingRows, cfg.standingRows + ticks * cfg.appendRows)
      .withColumn("tick", ((col("k") - cfg.standingRows) / cfg.appendRows).cast("int") + 1),
      "append")
    if (removeKeys.nonEmpty) {
      import spark.implicits._
      stage(removeKeys.toSeq.flatMap { case (t, ks) => ks.map(k => (k, t)) }.toDF("k", "tick"),
        "takedown")
    }

    // set-up: bootstrap the lake, repeated on fresh directories
    val setups = (1 to SetupRepeats).map { i =>
      val lake = new File(ctx.workDir, s"lake-$i").getPath
      val t0 = System.nanoTime()
      Versioned.publish(spark, lake, Seq(Versioned.TableSpec(Table,
        facts(spark, 0, cfg.standingRows), bloomCols = Seq("k"))))
      Versioned.setAutoCompact(spark, lake, cfg.autoCompact)
      (Stats.ms(t0) / 1e3, lake)
    }
    r.metric("setup_s", setups.map(_._1), "s", Stats.median)
    val lake = setups.last._2
    val heapAfterSetup = Jvm.liveOldGenMb()

    val inAppend = ctx.dir("in-append")
    val inTakedown = ctx.dir("in-takedown")
    val ckpt = ctx.dir("checkpoints")
    // input file name → when it was renamed into place (nanoTime)
    val landed = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val depths = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val drains = new java.util.concurrent.ConcurrentLinkedQueue[Drain]()
    @volatile var committedAppend = Set.empty[Int]
    @volatile var committedTakedown = Set.empty[Int]
    @volatile var landingDone = false
    val t0 = System.nanoTime()
    val runStartMs = System.currentTimeMillis()

    val lander = new Thread(() => try {
      (1 to ticks).foreach { i =>
        val due = t0 + (i * cfg.tickS * 1e9).toLong
        while (System.nanoTime() < due) Thread.sleep(math.max(1L, (due - System.nanoTime()) / 1000000L))
        def land(name: String, to: File): Unit = {
          NFiles.move(new File(staged, s"$name.parquet").toPath,
            new File(to, s"$name.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
          landed.put(name, System.nanoTime())
        }
        land(f"append-$i%05d", inAppend)
        if (removeKeys.contains(i)) land(f"takedown-$i%05d", inTakedown)
      }
    } catch {
      case e: Exception => r.fail(s"ingest: landing failed: $e")
    } finally landingDone = true, "perfbench-lander")

    def drainOnce(kind: String): Drain = {
      val dir = new File(ckpt, kind)
      val seen = consumed(dir)
      val s0 = System.nanoTime()
      val wall0 = System.currentTimeMillis()
      val q: StreamingQuery = SparkTrace.scoped(spark.sparkContext, s"drain:$kind") {
        if (kind == "append")
          StreamingLakeAppend.start(spark, inAppend.getPath, lake, Table, dir.getPath,
            facts(spark, 0, 1).schema, keys = Seq("k"))
        else
          StreamingLakeTakedown.start(spark, inTakedown.getPath, lake, Table,
            dir.getPath, KeySchema)
      }
      val startMs = Stats.ms(s0)
      q.awaitTermination()
      val d = Drain(kind, startMs, System.nanoTime(), (consumed(dir) -- seen).toSeq, q.id)
      drains.add(d)
      if (ctx.traced) depths.add(Versioned.entryChainAt(spark, lake, Table,
        Versioned.currentVersion(spark, lake).get).size)
      ctx.spans.add(Span(s"drain:$kind", wall0, System.currentTimeMillis(), "", -1L))
      d
    }
    def tickOf(name: String): Int = name.stripSuffix(".parquet").split("-").last.toInt
    val drainer = new Thread(() => try {
      var last = false
      while (!last) {
        last = landingDone // one full cycle after the last landing
        val a = drainOnce("append")
        committedAppend ++= a.files.map(tickOf)
        val t = drainOnce("takedown")
        committedTakedown ++= t.files.map(tickOf)
      }
    } catch {
      case e: Exception => r.fail(s"ingest: drain failed: $e")
    }, "perfbench-drainer")

    // auditor: seeded Poisson probes of committed appended keys, committed
    // removed keys (single and batch), and standing keys never removed
    val allRemoved = removeKeys.values.flatten.toSet
    val audits = mutable.ArrayBuffer.empty[(String, Double)]
    val auditor = new Thread(() => {
      // audit times and kinds are one fixed seeded sequence; the keys
      // probed come from --seed
      val shape = new scala.util.Random(AuditSeed)
      val arng = new scala.util.Random(ctx.seed * 131L + 3L)
      var next = System.nanoTime()
      var n = 0L
      while (!landingDone) {
        next += (-math.log(1.0 - shape.nextDouble()) / cfg.auditsPerS * 1e9).toLong
        while (System.nanoTime() < next && !landingDone) Thread.sleep(5)
        val ca = committedAppend.toSeq.sorted
        val ct = committedTakedown.toSeq.sorted
        val kind = shape.nextInt(10) match {
          case k if k < 5 && ca.nonEmpty => "appended"
          case k if k < 7 && ct.nonEmpty => "removed"
          case 7 if ct.nonEmpty => "removed_batch"
          case _ => "standing"
        }
        val (keys, expect) = kind match {
          case "appended" =>
            val ks = appendKeys(ca(arng.nextInt(ca.size)))
            (Seq(ks.start + arng.nextLong(ks.size)), 1L)
          case "removed" =>
            val ks = removeKeys(ct(arng.nextInt(ct.size)))
            (Seq(ks(arng.nextInt(ks.size))), 0L)
          case "removed_batch" => (removeKeys(ct(arng.nextInt(ct.size))), 0L)
          case _ =>
            var k = arng.nextLong(cfg.standingRows)
            while (allRemoved.contains(k)) k = arng.nextLong(cfg.standingRows)
            (Seq(k), 1L)
        }
        val a0 = System.nanoTime()
        val startMs = System.currentTimeMillis()
        try {
          val got = SparkTrace.scoped(spark.sparkContext, "audit") {
            val df = if (keys.size == 1) Versioned.readPoint(spark, lake, Table, "k", keys.head)
              else Versioned.readPointIn(spark, lake, Table, "k", keys)
            df.count()
          }
          val ms = Stats.ms(a0)
          ctx.spans.add(Span(s"audit:$kind", startMs, System.currentTimeMillis(), "", n))
          audits.synchronized { audits += ((kind, ms)) }
          ctx.report.check(got == expect,
            s"audit $kind ${keys.take(3)}: $got rows, ledger says $expect")
        } catch {
          case e: Exception => ctx.report.fail(s"audit $kind: $e")
        }
        n += 1
      }
    }, "perfbench-auditor")

    Seq(lander, drainer, auditor).foreach(_.start())
    Seq(lander, drainer, auditor).foreach(_.join())
    val wallS = Stats.ms(t0) / 1e3

    // ingest lag: landing → end of the drain that committed the file
    val appendDrains = drains.asScala.toSeq.filter(_.kind == "append")
    val lags = appendDrains.flatMap(d => d.files.map(f =>
      (d.endNs - landed.get(f.stripSuffix(".parquet"))) / 1e9))
    val tdLags = drains.asScala.toSeq.filter(_.kind == "takedown").flatMap(d => d.files.map(f =>
      (d.endNs - landed.get(f.stripSuffix(".parquet"))) / 1e9))
    val auditMs = audits.map(_._2)
    r.check(lags.size == ticks, s"ingest: ${lags.size} of $ticks append files committed")
    r.raw("ingest_lag_s", lags)
    r.raw("audit_ms", auditMs)
    r.metric("op_p50_ms", lags.map(_ * 1e3), "ms", Stats.median)
    r.metric("op_mean_ms", lags.map(_ * 1e3), "ms", xs => xs.sum / xs.size)
    r.metric("op_p90_ms", lags.map(_ * 1e3), "ms", Stats.pct(_, 90))
    r.metric("ingest_lag_p50_s", lags, "s", Stats.median)
    r.metric("ingest_lag_p90_s", lags, "s", Stats.pct(_, 90))
    r.metric("audit_p50_ms", auditMs, "ms", Stats.median)
    r.metric("audit_p90_ms", auditMs, "ms", Stats.pct(_, 90))
    r.info.put("takedown_lag_p50_s", if (tdLags.isEmpty) 0.0 else Stats.median(tdLags))
    r.info.put("drains", drains.size)
    r.info.put("audits", auditMs.size)
    r.info.put("run_wall_s", wallS)
    r.heapPeak(heapAfterSetup, ctx.gc)

    // final state against the ledger, untimed
    val rows = Versioned.read(spark, lake, Table)
    val appended = ticks * cfg.appendRows
    val removed = allRemoved.size.toLong
    val total = rows.count()
    r.check(total == cfg.standingRows + appended - removed,
      s"ingest: $total rows, ledger says ${cfg.standingRows} + $appended - $removed")
    val dupes = rows.groupBy("k").count().filter(col("count") > 1).count()
    r.check(dupes == 0, s"ingest: $dupes keys present more than once")
    val newPresent = rows.filter(col("k") >= cfg.standingRows).count()
    r.check(newPresent == appended, s"ingest: $newPresent of $appended appended keys present")
    import spark.implicits._
    val resurrected = rows.join(allRemoved.toSeq.toDF("k"), "k").count()
    r.check(resurrected == 0, s"ingest: $resurrected removed keys still present")

    // space amplification: this lake's bytes over one plain publish of
    // the same live rows
    val plain = new File(ctx.workDir, "plain").getPath
    Versioned.publish(spark, plain, Seq(Versioned.TableSpec(Table, rows, bloomCols = Seq("k"))))
    val lakeBytes = Files.treeStats(new File(lake))._1
    r.value("space_amp", lakeBytes.toDouble / Files.treeStats(new File(plain))._1, "ratio")

    if (ctx.traced) layers(ctx, cfg, lake, drains.asScala.toSeq, auditMs.size, runStartMs,
      depths.asScala.toSeq)
  }

  /** Input files a stream has consumed, from its file-source log. */
  private def consumed(ckpt: File): Set[String] = {
    val log = new File(ckpt, "_checkpoint/sources/0")
    // batch files are named by batch id; every tenth is rewritten as a
    // cumulative `<id>.compact`
    Option(log.listFiles()).toSeq.flatten
      .filter(f => f.getName.stripSuffix(".compact").forall(_.isDigit))
      .flatMap(f => NFiles.readAllLines(f.toPath).asScala.drop(1))
      .map(l => Json.mapper.readTree(l).get("path").asText)
      .map(p => new File(new java.net.URI(p).getPath).getName).toSet
  }

  private def layers(ctx: Ctx, cfg: Config, lake: String, drains: Seq[Drain],
      nAudits: Int, runStartMs: Long, depths: Seq[Int]): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    SparkTrace.settle(spark)
    val totals = ctx.sparkTrace.get.totals(_ => None)
    val drainJobs = totals.collect { case (k, t) if k.startsWith("drain:") => t.jobs }.sum
    r.layer("spark.ingest.jobs_per_drain", drainJobs.toDouble / math.max(1, drains.size), "count")
    r.layer("spark.ingest.jobs_per_audit",
      totals.get("audit").map(_.jobs).getOrElse(0L).toDouble / math.max(1, nAudits), "count")
    Seq("append", "takedown").foreach { kind =>
      val ds = drains.filter(_.kind == kind)
      val prog = ds.map(_.queryId).distinct.flatMap(ctx.streamTrace.get.progress)
      def dur(key: String) = {
        val xs = prog.flatMap(_.get(key)).map(_.toDouble)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      r.layer(s"streaming.$kind.start_ms", Stats.median(ds.map(_.startMs)), "ms")
      r.layer(s"streaming.$kind.latest_offset_ms", dur("latestOffset"), "ms")
      r.layer(s"streaming.$kind.planning_ms", dur("queryPlanning"), "ms")
      r.layer(s"streaming.$kind.add_batch_ms", dur("addBatch"), "ms")
      r.layer(s"streaming.$kind.wal_commit_ms", dur("walCommit"), "ms")
      r.layer(s"streaming.$kind.trigger_ms", dur("triggerExecution"), "ms")
    }

    // fold debt (entry-chain depth after each drain; a drop is a
    // compaction) and write amplification
    val v = Versioned.currentVersion(spark, lake).get
    r.layer("sources.ingest.fold_depth_max", if (depths.isEmpty) 0.0 else depths.max.toDouble, "count")
    val compactions = depths.sliding(2).count { case Seq(a, b) => b < a; case _ => false }
    r.layer("sources.ingest.compactions", compactions.toDouble, "count")
    val userBytes = Option(new File(ctx.workDir, "in-append").listFiles()).toSeq.flatten
      .map(_.length).sum + Option(new File(ctx.workDir, "in-takedown").listFiles()).toSeq
      .flatten.map(_.length).sum
    val lakeFiles = walk(new File(lake)).filter(_.getName.endsWith(".parquet"))
    val written = lakeFiles.filter(_.lastModified >= runStartMs)
    r.layer("sources.ingest.bytes_written_per_user_byte",
      written.map(_.length).sum.toDouble / math.max(1L, userBytes), "ratio")
    // a compaction rewrites a whole table into one data dir; the bytes of
    // data dirs holding more rows than a single input file are fold output
    val batchBytes = Option(new File(ctx.workDir, "in-append").listFiles()).toSeq.flatten
      .map(_.length).foldLeft(0L)(math.max)
    r.layer("sources.ingest.compaction_bytes", written.groupBy(_.getParentFile).values
      .map(_.map(_.length).sum).filter(_ > 2 * batchBytes).sum.toDouble, "bytes")

    // the version's files an audit opens
    val keys = Seq(cfg.standingRows / 3)
    val df = Versioned.readPoint(spark, lake, Table, "k", keys.head)
    df.collect()
    val read = scanFiles(df.queryExecution.executedPlan)
    val inVersion = Versioned.entryChainAt(spark, lake, Table, v).collect {
      case ('d', rel) => walk(new File(lake, rel)).count(_.getName.endsWith(".parquet")) }.sum
    r.layer("sources.ingest.audit_files_read_frac", read.toDouble / math.max(1, inVersion), "ratio")

    // direct publish of one batch, the drain's seam
    val base = cfg.standingRows + 10 * cfg.appendRows * 1000
    val ms = (0 until 3).map { i =>
      val batch = facts(spark, base + i * cfg.appendRows, base + (i + 1) * cfg.appendRows)
      val t0 = System.nanoTime()
      StreamingLakeAppend.ingestBatch(spark, batch, 1000000L + i, lake, Table, Seq("k"))
      Stats.ms(t0)
    }
    r.layer("sources.ingest.batch_publish_ms", Stats.median(ms), "ms")
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  private def scanFiles(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    plan match {
      case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
      case q: QueryStageExec => scanFiles(q.plan)
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case other => other.children.map(scanFiles).sum
    }
  }
}
