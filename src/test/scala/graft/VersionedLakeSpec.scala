package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import graft.sources.Versioned
import graft.sources.Versioned.TableSpec

/** S5 multi-table atomicity: the reference commits companies+charges in
  * ONE MySQL transaction — this layout must give the same all-or-
  * nothing visibility across a crash at ANY point of a publish. */
class VersionedLakeSpec extends SparkSpec {
  import spark.implicits._

  private def mkBase() =
    Files.createTempDirectory("graft-versioned").toString + "/lake"

  private def companies(tag: String) =
    Seq(("c1", s"Alpha-$tag"), ("c2", s"Beta-$tag"))
      .toDF("company_id", "company_name")
  private def charges(n: Int) =
    spark.range(n).selectExpr("CAST(id AS STRING) AS id", "'c1' AS company_id")

  test("publish is atomic across tables; uncommitted versions are invisible") {
    val base = mkBase()
    assert(Versioned.currentVersion(spark, base).isEmpty)
    intercept[RuntimeException](Versioned.read(spark, base, "companies"))

    val v1 = Versioned.publish(spark, base, Seq(
      TableSpec("companies", companies("v1")),
      TableSpec("charges", charges(10))))
    assert(v1 == 1L)
    assert(Versioned.read(spark, base, "charges").count() == 10)
    assert(Versioned.read(spark, base, "companies")
      .filter($"company_name".endsWith("-v1")).count() == 2)

    // simulated crash mid-publish of v2: BOTH tables fully written
    // under v2, _SUCCESS and all — but no marker (the crash happened
    // before the commit point). Readers must stay on v1 for BOTH.
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    companies("v2crash").write.parquet(s"$base/v2/companies")
    charges(99).write.parquet(s"$base/v2/charges")
    assert(fs.exists(new Path(s"$base/v2/charges/_SUCCESS")))
    assert(Versioned.currentVersion(spark, base).contains(1L))
    assert(Versioned.read(spark, base, "charges").count() == 10,
      "uncommitted charges must be invisible")
    assert(Versioned.read(spark, base, "companies")
      .filter($"company_name".endsWith("-v1")).count() == 2,
      "uncommitted companies must be invisible")

    // retried publish: cleans the crashed leftover, lands v2, and both
    // tables flip TOGETHER — never new companies next to old charges
    val v2 = Versioned.publish(spark, base, Seq(
      TableSpec("companies", companies("v2")),
      TableSpec("charges", charges(20))))
    assert(v2 == 2L)
    assert(Versioned.read(spark, base, "charges").count() == 20)
    assert(Versioned.read(spark, base, "companies")
      .filter($"company_name".endsWith("-v2")).count() == 2)
  }

  test("GC keeps current + previous versions; foreign commits are never overwritten") {
    val base = mkBase()
    (1 to 3).foreach(i => Versioned.publish(spark, base, Seq(
      TableSpec("t", spark.range(i * 10).toDF("v")))))
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$base/v1")), "v1 must be GC'd")
    assert(fs.exists(new Path(s"$base/v2")), "previous version is the reader grace copy")
    assert(Versioned.read(spark, base, "t").count() == 30)

    // another writer committed version 4 meanwhile: the next publish
    // must move PAST it (monotonic, never co-owning or overwriting an
    // existing commit — the atomic createNewFile is the guard) and the
    // lake stays readable at the new current version
    fs.createNewFile(new Path(s"$base/_v/00000004"))
    val v = Versioned.publish(spark, base,
      Seq(TableSpec("t", spark.range(7).toDF("v"))))
    assert(v == 5L)
    assert(Versioned.currentVersion(spark, base).contains(5L))
    assert(Versioned.read(spark, base, "t").count() == 7)
  }

  test("two racing publishers: exactly one wins, the loser errors before writing") {
    val base = mkBase()
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer A's table blocks mid-write on a latch, holding its claim
    // open while writer B races — deterministic overlap, not a sleep
    VersionedRaceGate.reset()
    val slow = spark.range(10).toDF("v")
      .mapPartitions { it => VersionedRaceGate.await(); it }(
        org.apache.spark.sql.Encoders.row(spark.range(1).toDF("v").schema))
    @volatile var aResult: Either[Throwable, Long] = Left(new Exception("not run"))
    val a = new Thread(() => aResult =
      try Right(Versioned.publish(spark, base, Seq(TableSpec("t", slow))))
      catch { case t: Throwable => Left(t) })
    a.start()
    // wait until A owns the claim (taken before any data write)
    val claim = new Path(s"$base/_v/claim-00000001")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!fs.exists(claim) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(fs.exists(claim), "writer A never claimed")

    // writer B races the SAME version number and must lose LOUDLY,
    // without ever touching A's data dir
    val bErr = intercept[RuntimeException] {
      Versioned.publish(spark, base,
        Seq(TableSpec("t", spark.range(99).toDF("v"))))
    }
    assert(bErr.getMessage.contains("in-flight"),
      s"loser must name the conflict, got: ${bErr.getMessage}")
    assert(Versioned.currentVersion(spark, base).isEmpty,
      "loser must not have committed anything")

    VersionedRaceGate.release()
    a.join(30000)
    assert(aResult == Right(1L), s"winner must commit v1, got $aResult")
    assert(Versioned.read(spark, base, "t").count() == 10,
      "committed data must be the WINNER's rows, untouched by the loser")
  }

  test("a crashed publisher's claim wedges the next publish loudly, then recovers") {
    val base = mkBase()
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$base/_v"))
    fs.createNewFile(new Path(s"$base/_v/claim-00000001")) // crash leftover
    val err = intercept[RuntimeException] {
      Versioned.publish(spark, base, Seq(TableSpec("t", spark.range(5).toDF("v"))))
    }
    assert(err.getMessage.contains("claim-00000001"),
      s"error must name the claim file to remove, got: ${err.getMessage}")
    fs.delete(new Path(s"$base/_v/claim-00000001"), false) // operator recovery
    assert(Versioned.publish(spark, base,
      Seq(TableSpec("t", spark.range(5).toDF("v")))) == 1L)
    assert(Versioned.read(spark, base, "t").count() == 5)
  }

  test("time travel: previous version readable, GC'd version errors with why") {
    val base = mkBase()
    (1 to 3).foreach(i => Versioned.publish(spark, base, Seq(
      TableSpec("t", spark.range(i * 10).toDF("v")))))
    assert(Versioned.listVersions(spark, base) == Seq(2L, 3L))
    assert(Versioned.readAt(spark, base, "t", 3L).count() == 30)
    // the grace copy doubles as one step of history
    assert(Versioned.readAt(spark, base, "t", 2L).count() == 20)
    val err = intercept[RuntimeException](
      Versioned.readAt(spark, base, "t", 1L))
    assert(err.getMessage.contains("garbage-collected"),
      s"GC'd read must explain itself, got: ${err.getMessage}")
  }

  test("mergePublish upserts, carries tables forward, and evolves schema") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(
      TableSpec("companies", companies("v1")),
      TableSpec("charges", Seq(
        ("a", "c1", 10.0), ("b", "c1", 20.0), ("c", "c2", 30.0))
        .toDF("id", "company_id", "amount"))))

    // delta: updates row b, inserts row d, and ADDS a column (status)
    val delta = Seq(
      ("b", "c1", 25.0, "voided"),
      ("d", "c2", 40.0, "paid"))
      .toDF("id", "company_id", "amount", "status")
    val v2 = Versioned.mergePublish(spark, base, "charges", delta, Seq("id"))
    assert(v2 == 2L)

    val merged = Versioned.read(spark, base, "charges").collect()
      .map(r => r.getAs[String]("id") ->
        ((r.getAs[Double]("amount"), Option(r.getAs[String]("status"))))).toMap
    assert(merged.keySet == Set("a", "b", "c", "d"))
    assert(merged("b") == ((25.0, Some("voided"))), "matched row must be replaced")
    assert(merged("d") == ((40.0, Some("paid"))), "unmatched row must append")
    // schema evolution: pre-existing rows read null in the new column
    assert(merged("a") == ((10.0, None)) && merged("c") == ((30.0, None)))

    // untouched table carried forward into v2 unchanged
    assert(Versioned.read(spark, base, "companies")
      .filter($"company_name".endsWith("-v1")).count() == 2)
    // time travel serves v1's PRE-evolution schema from its own dir
    assert(!Versioned.readAt(spark, base, "charges", 1L)
      .columns.contains("status"))
    assert(Versioned.readAt(spark, base, "charges", 1L).count() == 3)

    // a second merge composes (and the claim protocol still guards it)
    val v3 = Versioned.mergePublish(spark, base, "charges",
      Seq(("a", "c1", 11.0, "paid")).toDF("id", "company_id", "amount", "status"),
      Seq("id"))
    assert(v3 == 3L)
    val after = Versioned.read(spark, base, "charges").collect()
      .map(r => r.getAs[String]("id") ->
        Option(r.getAs[String]("status"))).toMap
    assert(after("a") == Some("paid") && after("b") == Some("voided"))
    assert(after.size == 4)
  }

  test("additive schema evolution: append a new column, fold across the boundary, prune only where present") {
    import org.apache.spark.sql.functions._
    val base = mkBase()
    // v1: no `score` column; zone maps on the key only
    val v1rows = spark.range(0, 200).select(
      col("id").as("k"), (col("id") % 3).cast("string").as("grp"))
    Versioned.publish(spark, base, Seq(TableSpec("t",
      v1rows.repartition(4), statsCols = Seq("k"))))
    Versioned.setAutoCompact(spark, base, 0)
    // v2: disjoint-keyed delta CARRYING the new nullable column, range-
    // clustered so its write-registered zone map can prune
    val delta = spark.range(200, 400).select(
      col("id").as("k"), (col("id") % 3).cast("string").as("grp"),
      (col("id") % 50).as("score"),
      concat(lit("u"), col("id")).as("uid"))
      .repartitionByRange(4, col("score")).sortWithinPartitions("score")
    Versioned.appendPublish(spark, base, "t", delta, keys = Seq("k"),
      statsCols = Seq("score"), bloomCols = Seq("uid"))
    // a column NOT in the delta fails loudly at publish time
    intercept[IllegalArgumentException] {
      Versioned.appendPublish(spark, base, "t",
        spark.range(400, 401).select(col("id").as("k"),
          lit("x").as("grp")), statsCols = Seq("nope"))
    }
    // fold across the boundary: old rows serve null in the new column
    val cur = Versioned.read(spark, base, "t")
    assert(cur.count() == 400)
    assert(cur.filter(col("score").isNull).count() == 200)
    assert(cur.filter(col("score").isNotNull).count() == 200)
    // time travel keeps each version's own schema
    assert(!Versioned.readAt(spark, base, "t", 1L).columns.contains("score"))
    assert(Versioned.readAt(spark, base, "t", 2L).columns.contains("score"))
    // the new columns are tracked table-wide from v2 on
    assert(Versioned.statsColsAt(spark, base, "t", 2L).contains("score"))
    assert(Versioned.bloomColsAt(spark, base, "t", 2L).contains("uid"))
    // a point probe on the evolved BLOOM column: the evolved dir
    // prunes to ~1 file, the legacy dir (no column, no sidecar)
    // full-scans, and the read serves exactly the key's row
    val psel = Versioned.pointSelectionAt(spark, base, "t", 2L,
      "uid", "u250")
    assert(psel.exists(_._2.exists { case (s, n) => s.size < n }),
      s"evolved bloom did not prune: $psel")
    assert(psel.exists(_._2.isEmpty),
      s"legacy dir must full-scan the absent bloom column: $psel")
    assert(Versioned.readPoint(spark, base, "t", "uid", "u250")
      .select("k").collect().map(_.getLong(0)).toSeq == Seq(250L))
    assert(Versioned.readPoint(spark, base, "t", "uid", "u9999").isEmpty)
    // prune on the new column ONLY where present: the evolved dir
    // skips files, the legacy dir full-scans (inclusion-safe), and the
    // pruned read serves exactly the filter's rows
    val sel = Versioned.prunedSelectionAt(spark, base, "t", 2L,
      "score", 0L, 5L)
    assert(sel.exists(_._2.exists { case (s, n) => s.size < n }),
      s"evolved dir did not prune: $sel")
    assert(sel.exists(_._2.isEmpty),
      s"legacy dir must full-scan the absent column: $sel")
    val pruned = Versioned.readPruned(spark, base, "t", "score", 0L, 5L)
      .collect().map(_.toSeq).toSet
    assert(pruned == cur.filter(col("score").between(0L, 5L))
      .collect().map(_.toSeq).toSet)
    assert(pruned.nonEmpty)
    // a tombstone across the boundary removes legacy AND evolved rows
    Versioned.removePublish(spark, base, "t",
      Seq(5L, 205L).toDF("k"))
    assert(Versioned.read(spark, base, "t").count() == 398)
    // compaction folds across the evolution boundary: value identity,
    // one entry, and the new column re-collected on the compacted dir
    val before = Versioned.read(spark, base, "t")
      .collect().map(_.toSeq).toSet
    val vC = Versioned.compactMorTailPublish(spark, base, "t",
      smallBytes = Long.MaxValue)
    assert(Versioned.entryChainAt(spark, base, "t", vC).size == 1)
    assert(Versioned.read(spark, base, "t")
      .collect().map(_.toSeq).toSet == before,
      "compaction across the schema boundary changed values")
    assert(Versioned.statsColsAt(spark, base, "t", vC).contains("score"),
      "compaction dropped the evolved column's zone map")
    // and the compacted zone map handles the mixed null/value column:
    // a probe still serves exactly the filter's rows
    assert(Versioned.readPruned(spark, base, "t", "score", 0L, 5L)
      .collect().map(_.toSeq).toSet ==
      Versioned.read(spark, base, "t")
        .filter(col("score").between(0L, 5L)).collect().map(_.toSeq).toSet)
  }

  test("mergePublish refuses a duplicate-keyed delta before writing a byte") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(
      TableSpec("charges", charges(5))))
    val curBefore = Versioned.currentVersion(spark, base)
    // a retried extractor emitting the same charge twice: SQL MERGE
    // errors on multiple source matches — so must we, loudly, instead
    // of committing a duplicated primary key
    val dupDelta = spark.range(0, 2).selectExpr(
      "'dup-id' AS id", "'c9' AS company_id")
    val err = intercept[IllegalArgumentException] {
      Versioned.mergePublish(spark, base, "charges", dupDelta, Seq("id"))
    }
    assert(err.getMessage.contains("duplicated key"),
      s"unexpected message: ${err.getMessage}")
    // nothing was published — the lake is untouched
    assert(Versioned.currentVersion(spark, base) == curBefore)
  }

  test("compactPublish: value-identical rewrite, capped sorted files, carry-forward") {
    import org.apache.spark.sql.functions._
    val base = mkBase()
    // accrete a fragmented charges table the way an ingest lake does:
    // an initial publish then two merges, each adding writer-count files
    Versioned.publish(spark, base, Seq(
      TableSpec("companies", companies("v1")),
      TableSpec("charges", charges(40).repartition(8))))
    Versioned.mergePublish(spark, base, "charges",
      spark.range(40, 60).selectExpr(
        "CAST(id AS STRING) AS id", "'c2' AS company_id").repartition(8),
      Seq("id"))
    val before = Versioned.read(spark, base, "charges")
      .collect().map(_.toSeq).toSet

    val v3 = Versioned.compactPublish(spark, base, "charges", Seq("id"), 2)
    assert(v3 == 3L)
    // logical content unchanged — the caller's value-identity oracle
    val after = Versioned.read(spark, base, "charges")
    assert(after.collect().map(_.toSeq).toSet == before)
    // physical layout: at most 2 data files, each internally sorted
    // and covering a disjoint id range (repartitionByRange)
    val files = after.select(input_file_name().as("f"), col("id"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .collect().map(r => (r.getString(1), r.getString(2))).sortBy(_._1)
    assert(files.length <= 2 && files.length >= 1)
    files.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file ranges overlap: $hi1 vs $lo2")
      case _ =>
    }
    // untouched table carried forward; time travel reaches the
    // pre-compaction layout
    assert(Versioned.read(spark, base, "companies")
      .filter($"company_name".endsWith("-v1")).count() == 2)
    assert(Versioned.readAt(spark, base, "charges", 2L).count() == 60)
  }

  test("compaction clusters the sort key: a range probe reads a fraction of the bytes") {
    import org.apache.spark.sql.functions._
    val base = mkBase()
    val docs = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    // fragmented ingest layout: 8 hash-spread files, each spanning the
    // FULL doc_id range — every file's row-group stats overlap every
    // range predicate, so nothing can skip
    Versioned.publish(spark, base,
      Seq(TableSpec("documents", docs.repartition(8))))
    val b = docs.agg(min($"doc_id"), max($"doc_id")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 8)

    // bytes-measured (the probe-harness assertion): metered parquet
    // input of the same narrow range probe, before vs after
    def probeBytes(): Long =
      graft.obs.Meter.measure(spark) {
        Versioned.read(spark, base, "documents")
          .filter($"doc_id".between(lo, hi))
          .agg(sum(length($"text"))).collect()
      }._2.inputBytes
    val fragmented = probeBytes()

    Versioned.compactPublish(spark, base, "documents", Seq("doc_id"), 4)
    val compacted = probeBytes()
    // 1-of-4 range-partitioned files overlaps a 1/8-width probe, so
    // ~3/4 of the data bytes skip on row-group min/max alone; assert a
    // conservative 2x to leave room for footer reads and stats noise
    assert(compacted * 2 <= fragmented,
      s"compaction did not cut probe IO: $compacted vs $fragmented bytes")
    // and the probe still answers identically
    val expect = docs.filter($"doc_id".between(lo, hi))
      .agg(sum(length($"text"))).head().getLong(0)
    assert(Versioned.read(spark, base, "documents")
      .filter($"doc_id".between(lo, hi))
      .agg(sum(length($"text"))).head().getLong(0) == expect)
  }

  test("mergePublish shares unchanged tables by file identity; bytes written ∝ the merged table") {
    import org.apache.spark.sql.functions._
    val base = mkBase()
    // a "big" standing table next to a small mutable one — the shape
    // where pre-manifest carry-forward hurt: every merge rewrote the
    // big table too
    val docs = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    Versioned.publish(spark, base, Seq(
      TableSpec("documents", docs),
      TableSpec("charges", charges(10))))
    val docFilesV1 = Versioned.tableFiles(spark, base, "documents", 1L)
    assert(docFilesV1.nonEmpty)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docBytes = fs.getContentSummary(
      new Path(s"$base/_data/documents-00000001")).getLength

    // metered bytes written by the whole merge publish
    val (v2, usage) = graft.obs.Meter.measure(spark) {
      Versioned.mergePublish(spark, base, "charges",
        spark.range(10, 15).selectExpr(
          "CAST(id AS STRING) AS id", "'c3' AS company_id"), Seq("id"))
    }
    val written = usage.outputBytes
    assert(v2 == 2L)

    // FILE IDENTITY: the untouched table at v2 is served by the SAME
    // physical parquet files as at v1 — carry-forward wrote zero rows
    assert(Versioned.tableFiles(spark, base, "documents", 2L) == docFilesV1,
      "carried table must share v1's files, not a rewritten copy")
    // and the merge's total write volume is a fraction of the big
    // table's size — the publish wrote the merged table only
    assert(written < docBytes / 2,
      s"merge wrote $written bytes vs big table $docBytes — " +
        "carry-forward is rewriting")
    // the merged table itself is fresh files with the upsert applied
    assert(Versioned.tableFiles(spark, base, "charges", 2L)
      .intersect(Versioned.tableFiles(spark, base, "charges", 1L)).isEmpty)
    assert(Versioned.read(spark, base, "charges").count() == 15)
    assert(Versioned.read(spark, base, "documents").count() == docs.count())
  }

  test("GC refcounts shared data dirs: a chain of merges never tears down a carried table") {
    val base = mkBase()
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Versioned.publish(spark, base, Seq(
      TableSpec("shared", spark.range(100).toDF("v")),
      TableSpec("x", charges(5))))
    val sharedFiles = Versioned.tableFiles(spark, base, "shared", 1L)

    // v2, v3, v4: merges into x only — each carries `shared` by ref.
    // A reader resolved at the then-current version is materialized
    // BEFORE each next publish and must stay readable through the
    // publish+GC behind it (one version of grace).
    (2 to 4).foreach { i =>
      val graceReader = Versioned.read(spark, base, "shared")
      Versioned.mergePublish(spark, base, "x",
        spark.range(i * 100, i * 100 + 3).selectExpr(
          "CAST(id AS STRING) AS id", "'c1' AS company_id"), Seq("id"))
      assert(graceReader.count() == 100,
        s"reader resolved before v$i must survive the publish's GC")
      // v1's manifest is gone once v3 commits, but the data dir v1
      // wrote stays as long as ANY surviving manifest references it
      assert(Versioned.tableFiles(spark, base, "shared", i.toLong)
        == sharedFiles, s"v$i must still share v1's files")
      assert(fs.exists(new Path(s"$base/_data/shared-00000001")),
        "refcounted data dir must survive manifest GC")
    }
    assert(!fs.exists(new Path(s"$base/v1")), "v1 manifest must be GC'd")
    assert(!fs.exists(new Path(s"$base/v2")), "v2 manifest must be GC'd")

    // rewrite `shared` twice (v5, v6): once no surviving manifest
    // references the v1 data dir, the refcount pass collects it
    (5 to 6).foreach { _ =>
      Versioned.publish(spark, base,
        Seq(TableSpec("shared", spark.range(50).toDF("v"))),
        carry = Seq("x"))
    }
    assert(!fs.exists(new Path(s"$base/_data/shared-00000001")),
      "unreferenced data dir must be collected")
    assert(Versioned.read(spark, base, "shared").count() == 50)
    assert(Versioned.read(spark, base, "x").count() == 14)
  }

  test("pre-manifest lakes read through; the first merge migrates carried tables once") {
    val base = mkBase()
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hand-build an OLD-layout version: self-contained v1/<table>/
    // dirs plus the marker, no .ref files anywhere
    companies("v1").write.parquet(s"$base/v1/companies")
    charges(8).write.parquet(s"$base/v1/charges")
    fs.mkdirs(new Path(s"$base/_v"))
    fs.createNewFile(new Path(s"$base/_v/00000001"))

    assert(Versioned.currentVersion(spark, base).contains(1L))
    assert(Versioned.listTables(spark, base, 1L) == Seq("charges", "companies"))
    assert(Versioned.read(spark, base, "charges").count() == 8)

    // a merge over the legacy version migrates: carried tables are
    // rewritten into _data (a ref into v1/ would dangle at GC)
    val v2 = Versioned.mergePublish(spark, base, "charges",
      Seq(("z", "c1")).toDF("id", "company_id"), Seq("id"))
    assert(v2 == 2L)
    assert(Versioned.read(spark, base, "charges").count() == 9)
    assert(Versioned.read(spark, base, "companies").count() == 2)
    assert(Versioned.tableFiles(spark, base, "companies", 2L)
      .forall(_.contains("_data/")), "migrated table must live in _data")
    // and the NEXT merge shares the migrated dir by reference
    Versioned.mergePublish(spark, base, "charges",
      Seq(("z2", "c1")).toDF("id", "company_id"), Seq("id"))
    assert(Versioned.tableFiles(spark, base, "companies", 3L)
      == Versioned.tableFiles(spark, base, "companies", 2L))
  }

  test("date-partitioned table inside a version prunes directories") {
    import org.apache.spark.sql.functions._
    val base = mkBase()
    val orders = Tables(spark, sfDir, "orders")
      .withColumn("part_date", to_date(col("o_orderdate")))
    Versioned.publish(spark, base,
      Seq(TableSpec("orders", orders, partitionBy = Seq("part_date"))))
    val pruned = Versioned.read(spark, base, "orders")
      .filter(col("part_date") === "1995-03-15")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(pruned.count() > 0)
  }

  test("compactPartitioned: fold keeps the dir layout and inherits the salt discipline") {
    import org.apache.spark.sql.functions._
    val base = mkBase()
    // a HOT-keyed partitioned table: 90% of rows on one date
    def slice(a: Long, b: Long) = spark.range(a, b).select(
      col("id"),
      concat(lit("n"), col("id") % 997).as("name"),
      when(col("id") % 10 < 9, lit("2024-01-01").cast("date"))
        .otherwise(lit("2024-02-01").cast("date")).as("pd"))
    Versioned.publish(spark, base, Seq(TableSpec("t", slice(0, 3000),
      partitionBy = Seq("pd"), statsCols = Seq("id"),
      bloomCols = Seq("name"), targetRowsPerFile = 400L)))
    // MoR life: flat appends + a tombstone accrete chain debt
    Versioned.appendPublish(spark, base, "t", slice(3000, 4000))
    Versioned.removePublish(spark, base, "t",
      spark.range(0, 100).select(col("id")))
    val want = Versioned.read(spark, base, "t")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(Versioned.entryChainAt(spark, base, "t", 3L).size == 3)
    // OPTIMIZE keeping the layout: one data entry, col=value dirs,
    // hot value split across target-bounded files from >1 task
    Versioned.compactPartitioned(spark, base, "t", Seq("pd"),
      targetRowsPerFile = 400L)
    val chain = Versioned.entryChainAt(spark, base, "t", 4L)
    assert(chain.size == 1, s"chain not materialized: $chain")
    val dataDir = new java.io.File(base, chain.head._2)
    val hotDir = new java.io.File(dataDir, "pd=2024-01-01")
    assert(hotDir.isDirectory, "compaction flattened the dir layout")
    val hotFiles = hotDir.list().filter(_.endsWith(".parquet")).toSeq
    assert(hotFiles.size >= 6, s"hot value not split: ${hotFiles.size}")
    assert(hotFiles.map(_.split("-")(1)).distinct.size >= 2,
      s"hot value serialized into one task: $hotFiles")
    hotFiles.foreach { fl =>
      val n = spark.read.parquet(s"$hotDir/$fl").count()
      assert(n <= 400, s"$fl has $n rows > target 400")
    }
    // value identity through the fold (appends in, tombstones applied)
    val got = Versioned.read(spark, base, "t")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(got == want, "compaction changed the table's content")
    // partition pruning still works on the compacted version
    val pruned = Versioned.read(spark, base, "t")
      .filter(col("pd") === "2024-02-01")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
    // and the tracked bloom still probes (sidecars re-collected)
    assert(Versioned.readPoint(spark, base, "t", "name", "n123").count() ==
      Versioned.read(spark, base, "t")
        .filter(col("name") === "n123").count())
  }

  test("schema evolution is additive-only: a re-typed column is rejected before any byte") {
    import org.apache.spark.sql.functions._
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t",
      spark.range(5).select(col("id"), lit(7).as("score"),
        lit(BigDecimal("1.50")).cast("decimal(10,2)").as("amt")))))
    def dirCount = {
      val d = new java.io.File(base)
      def walk(f: java.io.File): Int =
        if (f.isDirectory) 1 + f.listFiles().map(walk).sum else 1
      walk(d)
    }
    val before = dirCount
    // int -> string rebinding: named column + both types, nothing written
    val e1 = intercept[IllegalArgumentException] {
      Versioned.appendPublish(spark, base, "t",
        spark.range(5, 8).select(col("id"), lit("high").as("score"),
          lit(BigDecimal("2.50")).cast("decimal(10,2)").as("amt")))
    }
    assert(e1.getMessage.contains("'score'") &&
      e1.getMessage.contains("INT") && e1.getMessage.contains("STRING"),
      e1.getMessage)
    // decimal scale change is a re-type too
    val e2 = intercept[IllegalArgumentException] {
      Versioned.mergePublish(spark, base, "t",
        spark.range(2).select(col("id"), lit(7).as("score"),
          lit(BigDecimal("2.5")).cast("decimal(10,3)").as("amt")),
        keys = Seq("id"))
    }
    assert(e2.getMessage.contains("'amt'") &&
      e2.getMessage.contains("DECIMAL(10,2)") &&
      e2.getMessage.contains("DECIMAL(10,3)"), e2.getMessage)
    assert(Versioned.currentVersion(spark, base).contains(1L))
    assert(dirCount == before, "a rejected delta left bytes behind")
    // additive evolution itself is unaffected
    Versioned.appendPublish(spark, base, "t",
      spark.range(5, 8).select(col("id"), lit(9).as("score"),
        lit(BigDecimal("2.50")).cast("decimal(10,2)").as("amt"),
        lit("new").as("tag")))
    assert(Versioned.read(spark, base, "t").filter(col("tag").isNull)
      .count() == 5)
    // nullability (incl. nested containsNull) is NOT a re-type:
    // arr lands as array<bigint> containsNull=false, the next delta
    // carries containsNull=true — sameType, accepted
    Versioned.appendPublish(spark, base, "t",
      spark.range(8, 9).select(col("id"), lit(9).as("score"),
        lit(BigDecimal("3.00")).cast("decimal(10,2)").as("amt"),
        lit("new").as("tag"), array(lit(1L)).as("arr")))
    Versioned.appendPublish(spark, base, "t",
      spark.range(9, 10).select(col("id"), lit(9).as("score"),
        lit(BigDecimal("3.50")).cast("decimal(10,2)").as("amt"),
        lit("new").as("tag"),
        array(lit(null).cast("long")).as("arr")))
    assert(Versioned.read(spark, base, "t").count() == 10)
  }

  test("column DROP posture: a lacking delta never retires; a rewrite does, history serves") {
    import org.apache.spark.sql.functions._
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t",
      spark.range(4).select(col("id"), lit("keep").as("note")))))
    // v2: delta WITHOUT `note` — the column must keep serving (delta
    // rows read null), never silently retire
    Versioned.appendPublish(spark, base, "t",
      spark.range(4, 6).select(col("id")))
    val v2 = Versioned.read(spark, base, "t")
    assert(v2.columns.contains("note"), "append retired a standing column")
    assert(v2.filter(col("note") === "keep").count() == 4)
    assert(v2.filter(col("note").isNull).count() == 2)
    // retiring is an explicit REWRITE: publish the projection
    Versioned.publish(spark, base,
      Seq(TableSpec("t", v2.select("id"))))
    assert(!Versioned.read(spark, base, "t").columns.contains("note"))
    assert(Versioned.read(spark, base, "t").count() == 6)
    // prior versions keep each their own schema from immutable dirs
    assert(Versioned.readAt(spark, base, "t", 2L).columns.contains("note"))
  }

  test("commit instants ride marker CONTENT: asOf survives a copy that rewrites mtimes") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", charges(5))))
    Thread.sleep(5) // distinct instants at ms granularity
    Versioned.appendPublish(spark, base, "t", charges(3))
    val times = Versioned.versionTimes(spark, base)
    assert(times.keySet == Set(1L, 2L) && times(1L) < times(2L), s"$times")
    assert(Versioned.versionAsOf(spark, base, times(1L)).contains(1L))
    assert(Versioned.versionAsOf(spark, base, times(2L) - 1).contains(1L))
    assert(Versioned.versionAsOf(spark, base, times(2L)).contains(2L))
    assert(Versioned.versionAsOf(spark, base, times(1L) - 1).isEmpty)
    // relocate the lake the way ops actually do (cp / DistCp default /
    // object-store copy): bytes preserved, every mtime rewritten
    val copy = mkBase()
    val src = java.nio.file.Paths.get(base)
    val dst = java.nio.file.Paths.get(copy)
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    val bogus = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() + 86400000L)
    java.nio.file.Files.walk(dst).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, bogus))
    assert(Versioned.versionTimes(spark, copy) == times,
      "commit instants changed after relocation — asOf would resolve wrong")
    assert(Versioned.versionAsOf(spark, copy, times(1L)).contains(1L))
    assert(Versioned.readAt(spark, copy, "t", 1L).count() == 5)
    assert(Versioned.readAt(spark, copy, "t", 2L).count() == 8)
  }

  test("monotone commit clock: skew can't run history backwards; instant ties resolve upward") {
    // advice-low + directive #7, r19: a committing driver whose wall
    // clock sits BEHIND the previous committer's must not write a
    // smaller instant (non-monotonic versionTimes would make asOf
    // resolve an unexpected version near the boundary). The commit
    // stamp is clamped to the predecessor's instant; the equal
    // instants that clamping produces resolve by version number.
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", charges(5))))
    // simulate the skewed/legacy boundary: v1's instant a day ahead
    val future = System.currentTimeMillis() + 86400000L
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/_v/00000001"),
      future.toString.getBytes("UTF-8"))
    Versioned.appendPublish(spark, base, "t", charges(3))
    val times = Versioned.versionTimes(spark, base)
    assert(times(2L) >= times(1L), s"commit clock ran backwards: $times")
    assert(times(2L) == future,
      s"v2 must clamp exactly to v1's instant, got $times")
    // the tie the clamp just produced: asOf at that instant = HIGHER
    // version; a millisecond earlier = nothing (both commits are
    // 'later' on the lake's clock)
    assert(Versioned.versionAsOf(spark, base, future).contains(2L),
      "asOf at a tied instant must resolve the higher version")
    assert(Versioned.versionAsOf(spark, base, future - 1).isEmpty)
    assert(Versioned.readAt(spark, base, "t", 2L).count() == 8)
  }

  test("legacy empty markers fall back to mtime; stamped and legacy coexist") {
    val base = mkBase()
    // hand-built pre-r19 lake: self-contained v1 dir + EMPTY marker
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    charges(7).write.parquet(s"$base/v1/t")
    fs.mkdirs(new Path(base, "_v"))
    fs.createNewFile(new Path(base, "_v/00000001"))
    val legacyT = 1700000000000L
    new java.io.File(s"$base/_v/00000001").setLastModified(legacyT)
    assert(Versioned.versionTimes(spark, base) == Map(1L -> legacyT),
      "legacy empty marker must resolve to its mtime")
    assert(Versioned.versionAsOf(spark, base, legacyT).contains(1L))
    assert(Versioned.versionAsOf(spark, base, legacyT - 1).isEmpty)
  }
}

/** JVM-global gate for the race test: local-mode tasks run in-process,
  * so a static latch can hold writer A's data write open while writer
  * B races the claim. */
object VersionedRaceGate {
  @volatile private var latch = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = latch = new java.util.concurrent.CountDownLatch(1)
  def await(): Unit = latch.await(60, java.util.concurrent.TimeUnit.SECONDS)
  def release(): Unit = latch.countDown()
}
