package graft.probe

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Probe, SparkEntry, Tables}
import graft.Probe.{Cell, Ctx}
import graft.obs.Meter

/** Cells over the declared queries: per-query Spark cost (`queries`),
  * the construct/exec split (`probe`), the fixed per-query floor's
  * components (`floor`), the plan-shape census (`scans`), the job
  * census (`jobs`) and the executed plan (`plan`). Query names are
  * positional; `--aqe` puts the diagnosis cells in the adaptive
  * posture. */
object QueryCells {

  /** The bench's most expensive tail — the queries whose scale story
    * carries the most weight. */
  val DefaultQueries = Seq("q97_delta_entity_canon", "q96_subword_budget",
    "q99_cluster_cohesion", "q73_source_dup_rate", "q89_winsorize",
    "q18_minhash_lsh", "q102_semantic_dedup")

  val cells: Seq[Cell] = Seq(
    // shuffle partitions default to the core count, but are a separate
    // knob (SPARK_GRAFT_SHUFFLE_PARTS): at a fixed heap the per-task
    // working set scales with |data| / partitions, so scaling data
    // WITHOUT scaling partitions manufactures spill — the 10× evidence
    // run uses this to show spill is a partitioning knob, not a
    // scaling wall (SCALE.md)
    Cell("queries", "[query ...]", Probe.Adaptive, queries,
      conf = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS")
        .map("spark.sql.shuffle.partitions" -> _).toMap,
      mirror = Some("scale_out.json")),
    Cell("probe", "[--aqe] query ...", Probe.AdaptiveIfAsked, probe),
    Cell("floor", "[--aqe]", Probe.AdaptiveIfAsked, floor),
    Cell("scans", "[--aqe] [query ...]", Probe.AdaptiveIfAsked, scans),
    Cell("jobs", "[--aqe] query ...", Probe.AdaptiveIfAsked, jobs),
    Cell("plan", "[--aqe] query ...", Probe.AdaptiveIfAsked, plan))

  /** Empirical scale evidence: runs each query cold under the cluster
    * posture and records its physical traffic — input, shuffle and
    * spill bytes, the largest task's peak execution memory, and its
    * jobs, stages and tasks. A query whose shuffle volume is a small
    * multiple of its input reads like its cost model says it should;
    * one that shuffles 50× its input does not. Run it under a BOUNDED
    * heap (`java -Xmx1g -cp …`, SCALE.md) so spill is exercised
    * honestly. Artifact builds (signature/IVF indexes) charge their
    * one-per-corpus scan to the first query that needs them — called
    * out in SCALE.md rather than hidden by pre-warming. */
  private def queries(c: Ctx): Unit = {
    val recs = c.queries(DefaultQueries).map { case (name, fn) =>
      val rec = Probe.obj("query" -> name)
      Probe.cleaned(c.spark) {
        try {
          val (cols, u) = Meter.measure(c.spark) {
            val df = fn(c.spark, c.sfDir)
            Probe.noop(df)
            df.columns.length
          }
          rec.put("cols", cols).setAll[JsonNode](Probe.usageJson(u))
        } catch { case t: Throwable => rec.put("error", t.toString.take(200)) }
      }
    }
    c.emit("sf" -> c.sfDir, "cpus" -> c.cpus,
      "heap_mb" -> Probe.mb(Runtime.getRuntime.maxMemory), "queries" -> recs)
  }

  private def warm(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()

  /** Splits each query's wall time into CONSTRUCT (the `fn(spark, dir)`
    * call — driver-side plan building, artifact existence
    * checks/registrations, and any eager `localCheckpoint` jobs that
    * run before the sink) and EXEC (the noop-sink write of the returned
    * frame). The split tells the optimizer whether a query's cost is
    * the kernel or the per-query fixed floor. Median of
    * SPARK_GRAFT_BENCH_ITERS (default 3) warm runs. */
  private def probe(c: Ctx): Unit = {
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    warm(c.spark)
    for ((n, fn) <- c.queries(Nil)) {
      // warm (publishes artifacts, JIT)
      try Probe.runQuery(c.spark, fn, c.sfDir)
      catch { case t: Throwable => c.out(s"$n WARM FAIL: $t") }
      val (cs, es) = (1 to iters).map { _ =>
        Probe.cleaned(c.spark) {
          val (df, construct) = Probe.timed(fn(c.spark, c.sfDir))
          (construct, Probe.timed(Probe.noop(df))._2)
        }
      }.unzip
      def med(a: Seq[Double]) = a.sorted.apply(a.length / 2)
      def all(a: Seq[Double]) = a.map(x => f"$x%.3f").mkString(",")
      c.out(f"PROBE $n%-28s construct=${med(cs)}%7.3f exec=${med(es)}%7.3f " +
        s"(c=${all(cs)} e=${all(es)})")
    }
  }

  /** Times the per-query floor's suspected components in isolation. */
  private def floor(c: Ctx): Unit = {
    val spark = c.spark
    val sfDir = c.sfDir
    import graft.queries.Dedup
    import graft.sources.ArtifactStore
    warm(spark)
    def time(label: String, reps: Int)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => f)
      c.out(f"FLOOR $label%-34s ${(System.nanoTime() - t0) / 1e6 / reps}%8.1f ms/op")
    }
    time("empty_job(range1.count)", 10) { spark.range(1).count() }
    time("small_shuffle_job", 10) {
      spark.range(1000).groupBy(col("id") % 7).count().collect()
    }
    time("localCheckpoint_1row", 10) {
      spark.range(1).localCheckpoint().unpersist()
    }
    time("fileFingerprint", 10) {
      Tables.fileFingerprint(spark, s"$sfDir/documents.parquet")
    }
    time("parquet_plan(docs)", 10) {
      spark.read.parquet(s"$sfDir/documents.parquet").queryExecution.analyzed
    }
    // the signature index is published by now (warm runs above it)
    Dedup.queries("q18_minhash_lsh")(spark, sfDir)
    val sigPath = {
      val key = Tables.fileFingerprint(spark, s"$sfDir/documents.parquet")
      s"${Dedup.indexBase}/sig-b${Dedup.IndexBuckets}-$key"
    }
    def reregister(): Unit = ArtifactStore.readOrPublishBucketed(
      spark, sigPath, "doc_id", Dedup.IndexBuckets)(sys.error("must exist"))
    reregister()
    time("bucketedTable_reregister", 10)(reregister())
    time("show_tblproperties(any)", 10) {
      val t = spark.catalog.listTables().collect()
        .find(_.name.startsWith("graft_art_"))
      t.foreach(tt => spark.sql(s"SHOW TBLPROPERTIES ${tt.name}").collect())
    }
    time("spread_getNumPartitions", 10) {
      graft.operators.Spread.byKey(
        Tables(spark, sfDir, "documents"), col("doc_id"))
    }
  }

  /** Plan-SHAPE census (default: every declared query): counts the
    * physical plan's scan leaves, exchanges, generates (explodes) and
    * checkpoint reads without executing the frame. A query scanning a
    * base table more often than its family pattern predicts (e.g.
    * Catalyst duplicating a self-referenced aggregate subtree) shows up
    * here as a scan-count outlier. String-counted from the printed tree
    * rather than a TreeNode traversal: under adaptive execution the
    * root is an AdaptiveSparkPlanExec whose `children` is Nil (the
    * inner plan only appears in generateTreeString), so a .foreach walk
    * sees nothing. The printed tree is the same text `plan` dumps. */
  private def scans(c: Ctx): Unit =
    for ((n, fn) <- c.queries(SparkEntry.queries.keys.toSeq.sorted)) {
      try Probe.cleaned(c.spark) {
        val lines = fn(c.spark, c.sfDir).queryExecution.executedPlan
          .toString.linesIterator.toSeq
        def cnt(mark: String) = lines.count(_.contains(mark))
        val scanPaths = lines.filter(_.contains("FileScan "))
          .map(l => "InMemoryFileIndex\\(\\d+ paths\\)\\[([^\\],]+)".r
            .findFirstMatchIn(l).map(m => new java.io.File(m.group(1))
              .getName).getOrElse("?"))
        val dup = scanPaths.groupBy(identity).view.mapValues(_.size)
          .filter(_._2 > 1).map { case (k, v) => s"$k x$v" }
          .toSeq.sorted.mkString(",")
        c.out(s"SHAPE $n scans=${scanPaths.size} " +
          s"exch=${cnt("- Exchange ")} bcast=${cnt("BroadcastExchange")} " +
          s"gen=${cnt("- Generate ")} ckpt=${cnt("Scan ExistingRDD")}" +
          (if (dup.nonEmpty) s" DUP[$dup]" else ""))
      } catch { case t: Throwable => c.out(s"SHAPE $n ERR $t") }
    }

  /** Per-query job/stage/task census — at bench grain the per-job floor
    * is ~0.1 s, so a query's cost is mostly its job COUNT; this ranks
    * where that count is spent. Counts one warm-state invocation:
    * construct jobs (eager checkpoints, artifact reads, collects) plus
    * the noop-sink exec jobs, each job with its call site. */
  private def jobs(c: Ctx): Unit = {
    warm(c.spark)
    for ((n, fn) <- c.queries(Nil)) {
      try Probe.runQuery(c.spark, fn, c.sfDir)
      catch { case t: Throwable => c.out(s"$n WARM FAIL: $t") }
      val (_, u) = Probe.cleaned(c.spark) {
        Meter.measure(c.spark)(Probe.noop(fn(c.spark, c.sfDir)))
      }
      u.jobLog.foreach(j =>
        c.out(s"  JOB ${j.id} stages=${j.stages} tasks=${j.tasks} at ${j.site}"))
      c.out(s"JOBS $n jobs=${u.jobs} stages=${u.stages} tasks=${u.tasks}")
    }
  }

  /** The executed (post-adaptive) physical plan of each query. */
  private def plan(c: Ctx): Unit =
    for ((n, fn) <- c.queries(Nil)) {
      val df = Probe.runQuery(c.spark, fn, c.sfDir)
      c.out(s"===== EXECUTED PLAN $n =====")
      c.out(df.queryExecution.executedPlan.toString.take(20000))
    }
}
