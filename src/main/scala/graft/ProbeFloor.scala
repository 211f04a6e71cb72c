package graft

import org.apache.spark.sql.SparkSession

/** Measurement-only probe (guide §1): splits each query's wall time
  * into CONSTRUCT (the `fn(spark, dir)` call — driver-side plan
  * building, artifact existence checks/registrations, and any eager
  * `localCheckpoint` jobs that run before the timed sink) and EXEC
  * (the noop-sink write of the returned frame). The split tells the
  * optimizer whether a query's cost is the kernel or the per-query
  * fixed floor. With `--floor` it additionally times the floor's
  * suspected components in isolation. Never writes bench mirrors —
  * this is a diagnosis tool, not the bench.
  */
object ProbeFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.contains("--aqe")) { // Bench's adaptive posture, verbatim
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        (64 * 1024).toString)
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        (128 * 1024 * 1024).toString)
    }
    spark.range(1000000).selectExpr("sum(id)").collect()

    if (args.contains("--floor")) {
      def time(label: String, reps: Int)(f: => Unit): Unit = {
        f // warm
        val t0 = System.nanoTime()
        (1 to reps).foreach(_ => f)
        println(f"FLOOR $label%-34s ${(System.nanoTime() - t0) / 1e6 / reps}%8.1f ms/op")
      }
      import org.apache.spark.sql.functions._
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
      graft.queries.Dedup.queries("q18_minhash_lsh")(spark, sfDir)
      val sigPath = {
        val key = Tables.fileFingerprint(spark, s"$sfDir/documents.parquet")
        s"${graft.queries.Dedup.indexBase}/sig-b${graft.queries.Dedup.IndexBuckets}-$key"
      }
      graft.sources.ArtifactStore.readOrPublishBucketed(
        spark, sigPath, "doc_id", graft.queries.Dedup.IndexBuckets)(
        sys.error("must exist"))
      time("bucketedTable_reregister", 10) {
        graft.sources.ArtifactStore.readOrPublishBucketed(
          spark, sigPath, "doc_id", graft.queries.Dedup.IndexBuckets)(
          sys.error("must exist"))
      }
      time("show_tblproperties(any)", 10) {
        val t = spark.catalog.listTables().collect()
          .find(_.name.startsWith("graft_art_"))
        t.foreach(tt => spark.sql(s"SHOW TBLPROPERTIES ${tt.name}").collect())
      }
      time("spread_getNumPartitions", 10) {
        graft.operators.Spread.byKey(
          spark.read.parquet(s"$sfDir/documents.parquet"), col("doc_id"))
      }
    }

    // --scans: plan-SHAPE census over every declared query (guide
    // §7.2) — counts the physical plan's scan leaves, exchanges,
    // generates (explodes) and checkpoint reads without executing the
    // frame. A query scanning a base table more often than its family
    // pattern predicts (e.g. Catalyst duplicating a self-referenced
    // aggregate subtree) shows up here as a scan-count outlier.
    if (args.contains("--scans")) {
      // String-counted from the printed tree rather than a TreeNode
      // traversal: under adaptive execution the root is an
      // AdaptiveSparkPlanExec whose `children` is Nil (the inner plan
      // only appears in generateTreeString), so a .foreach walk sees
      // nothing. The printed tree is the same text `--plan` dumps.
      for ((n, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        try {
          val pre = spark.sparkContext.getPersistentRDDs.keySet.toSet
          val txt = fn(spark, sfDir).queryExecution.executedPlan.toString
          val lines = txt.linesIterator.toSeq
          def cnt(mark: String) = lines.count(_.contains(mark))
          val scanPaths = lines.filter(_.contains("FileScan "))
            .map(l => "InMemoryFileIndex\\(\\d+ paths\\)\\[([^\\],]+)".r
              .findFirstMatchIn(l).map(m => new java.io.File(m.group(1))
                .getName).getOrElse("?"))
          val paths = scanPaths.groupBy(identity).view.mapValues(_.size)
          val dup = paths.filter(_._2 > 1).map { case (k, v) => s"$k x$v" }
            .toSeq.sorted.mkString(",")
          println(s"SHAPE $n scans=${scanPaths.size} " +
            s"exch=${cnt("- Exchange ")} bcast=${cnt("BroadcastExchange")} " +
            s"gen=${cnt("- Generate ")} ckpt=${cnt("Scan ExistingRDD")}" +
            (if (dup.nonEmpty) s" DUP[$dup]" else ""))
          spark.sparkContext.getPersistentRDDs
            .filterNot { case (id, _) => pre.contains(id) }
            .values.foreach(_.unpersist(blocking = true))
        } catch { case t: Throwable => println(s"SHAPE $n ERR $t") }
      }
    }

    // --jobs: per-query job/stage/task census (guide §1 — at bench
    // grain the per-job floor is ~0.1 s, so a query's cost is mostly
    // its job COUNT; this ranks where that count is spent). Counts one
    // warm-state invocation: construct jobs (eager checkpoints,
    // artifact reads, collects) + the noop-sink exec jobs.
    val jobCensus = args.contains("--jobs")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobDetail = args.contains("--jobdetail")
    if (jobCensus) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet()
            stages.addAndGet(j.stageInfos.size)
            tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
            if (jobDetail) {
              val site = Option(j.properties)
                .map(_.getProperty("callSite.short", "?")).getOrElse("?")
              println(s"  JOB ${j.jobId} stages=${j.stageInfos.size} " +
                s"tasks=${j.stageInfos.map(_.numTasks).sum} at $site")
            }
          }
        })
    }

    val names = args.filterNot(_.startsWith("--"))
    val all = SparkEntry.queries
    for (n <- names) {
      val fn = all(n)
      // warm (publishes artifacts, JIT)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case t: Throwable => println(s"$n WARM FAIL: $t") }
      val cs = Array.fill(iters)(0.0); val es = Array.fill(iters)(0.0)
      for (i <- 0 until iters) {
        val pre = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        cs(i) = (t1 - t0) / 1e9; es(i) = (t2 - t1) / 1e9
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => pre.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
      }
      def med(a: Array[Double]) = a.sorted.apply(a.length / 2)
      println(f"PROBE $n%-28s construct=${med(cs)}%7.3f exec=${med(es)}%7.3f " +
        s"(c=${cs.map(x => f"$x%.3f").mkString(",")} e=${es.map(x => f"$x%.3f").mkString(",")})")
      if (jobCensus) {
        // one clean warm-state invocation, counted in isolation
        val j0 = jobs.get(); val s0 = stages.get(); val t0c = tasks.get()
        val pre = spark.sparkContext.getPersistentRDDs.keySet.toSet
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => pre.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
        // listener events are async — give the bus a moment to drain
        // (diagnostic tolerance; ±1 job would not change the ranking)
        Thread.sleep(250)
        println(s"JOBS $n jobs=${jobs.get() - j0} stages=${stages.get() - s0} " +
          s"tasks=${tasks.get() - t0c}")
      }
      if (args.contains("--plan")) {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        println(s"===== EXECUTED PLAN $n =====")
        println(df.queryExecution.executedPlan.toString.take(20000))
      }
    }
    spark.stop()
  }
}
