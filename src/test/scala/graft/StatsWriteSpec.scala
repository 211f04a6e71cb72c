package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{SidecarRescan, StatsWrite, Versioned, ZoneBlooms, ZoneMaps}
import graft.sources.Versioned.TableSpec

/** [[graft.sources.StatsWrite]] — write-task sidecar emission (r17).
  * The load-bearing claim is BYTE-IDENTITY: sidecars emitted by the
  * write tasks must equal, byte for byte, what the re-scan reference
  * ([[graft.sources.SidecarRescan]]: a footer walk and a column
  * re-scan) produces over the same written files — otherwise the
  * instrumented path could silently prune differently than the path
  * every probe family was verified against. */
class StatsWriteSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(tag: String): String =
    Files.createTempDirectory(s"graft-sw-$tag").toString + "/t"

  /** Every zone-map type in one frame: long, string (incl. unicode),
    * decimal(16,2) (negative unscaled bounds), date, timestamp
    * (micros), double, plus nulls sprinkled per column. Values derive
    * from integer keys only (oracle-parity discipline). */
  private def fixture = spark.range(0, 400)
    .select(
      col("id"),
      when(col("id") % 13 === 0, lit(null))
        .otherwise(concat(lit("ñame-"), lpad(col("id") % 37, 4, "0")))
        .as("name"),
      when(col("id") % 17 === 0, lit(null))
        .otherwise((col("id") * 7 - 1400).cast("decimal(16,2)") / 100)
        .as("amount"),
      date_add(lit("2024-01-01").cast("date"),
        (col("id") % 90).cast("int")).as("d"),
      timestamp_seconds(lit(1700000000L) + col("id") * 3600).as("ts"),
      (col("id") * 31 % 101).cast("double").as("x"))
    .repartition(3, col("id")) // several files, several rows each

  private def bytes(p: String): Seq[Byte] = {
    val f = new java.io.File(p)
    assert(f.exists(), s"$p missing")
    java.nio.file.Files.readAllBytes(f.toPath).toSeq
  }

  test("write-time sidecars ≡ legacy re-scan sidecars, byte for byte") {
    val dir = mkDir("bytes")
    val statsCols = Seq("id", "name", "amount", "d", "ts", "x")
    val bloomCols = Seq("id", "name", "amount")
    StatsWrite.write(spark, fixture, dir, statsCols, bloomCols)
    val zm1 = bytes(s"$dir/${ZoneMaps.SidecarName}")
    val bl1 = bloomCols.map(c => c -> bytes(s"$dir/${ZoneBlooms.sidecarName(c)}"))
    // regenerate with the LEGACY collectors over the same files
    SidecarRescan.zoneMap(spark, dir, statsCols)
    bloomCols.foreach { c => // one col at a time exercises ordering too
      SidecarRescan.blooms(spark, dir, Seq(c))
    }
    assert(bytes(s"$dir/${ZoneMaps.SidecarName}") == zm1,
      "zone-map sidecar diverged from the footer walk")
    bl1.foreach { case (c, b1) =>
      assert(bytes(s"$dir/${ZoneBlooms.sidecarName(c)}") == b1,
        s"bloom sidecar for '$c' diverged from the re-scan")
    }
  }

  test("written data round-trips exactly, with _SUCCESS") {
    val dir = mkDir("data")
    StatsWrite.write(spark, fixture, dir, Seq("id"), Seq("id"))
    assert(new java.io.File(s"$dir/_SUCCESS").exists())
    val back = spark.read.parquet(dir)
    // parquet read-back is always nullable (native writes too) —
    // compare names + types
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(back.schema) == shape(fixture.schema),
      s"schema drift: ${back.schema}")
    val key = (d: org.apache.spark.sql.DataFrame) =>
      d.collect().map(_.toSeq.map(String.valueOf)).map(_.mkString("|")).sorted
    assert(key(back).toSeq == key(fixture).toSeq)
  }

  test("pruning through the write-time sidecars matches a full scan") {
    val dir = mkDir("prune")
    StatsWrite.write(spark, fixture, dir, Seq("id", "d"), Seq("name"))
    // range probe via the zone map
    val stats = ZoneMaps.readSidecar(spark, dir).get
    val sel = ZoneMaps.selectFiles(stats, "id", 0, 50).get
    assert(sel.nonEmpty && sel.size <= stats.size)
    // point probe via the bloom: a present value must never be pruned
    // away from its file (no false negatives). Bloom entries key by
    // bare file name (the scheme-free normalization), so list that way
    val all = new java.io.File(dir).list()
      .filter(_.endsWith(".parquet")).sorted.toSeq
    val present = ZoneBlooms.selectFiles(spark, dir, "name",
      "ñame-0005", all).get
    val hit = spark.read.parquet(
        present.map(r =>
          new org.apache.hadoop.fs.Path(dir, r).toString): _*)
      .filter(col("name") === "ñame-0005").count()
    val want = spark.read.parquet(dir)
      .filter(col("name") === "ñame-0005").count()
    assert(hit == want && want > 0)
    // unsupported probe type degrades to full scan, never errors
    assert(ZoneBlooms.selectFiles(spark, dir, "name", 3.14, all).isEmpty)
  }

  test("all-null column flags N; opaque types flag U — like the footer") {
    val dir = mkDir("nulls")
    val d = spark.range(0, 40)
      .select(col("id"), lit(null).cast("string").as("s"),
        (col("id") % 2 === 0).as("b"))
      .repartition(2)
    StatsWrite.write(spark, d, dir, Seq("s", "b"), Nil)
    val zm1 = bytes(s"$dir/${ZoneMaps.SidecarName}")
    SidecarRescan.zoneMap(spark, dir, Seq("s", "b"))
    assert(bytes(s"$dir/${ZoneMaps.SidecarName}") == zm1)
    val stats = ZoneMaps.readSidecar(spark, dir).get
    stats.foreach { fs =>
      assert(fs.cols("s").flag == "N", s"all-null col: ${fs.cols("s")}")
      assert(fs.cols("b").flag == "U", s"boolean col: ${fs.cols("b")}")
    }
  }

  test("partitioned write-time sidecars ≡ legacy re-scan, byte for byte; layout reads back") {
    val dir = mkDir("part")
    val d = fixture.withColumn("part_date",
      expr("date_add(date'2024-01-01', cast(id % 7 as int))"))
    StatsWrite.writePartitioned(spark, d, dir, Seq("part_date"),
      Seq("id", "amount"), Seq("name"))
    assert(new java.io.File(s"$dir/_SUCCESS").exists())
    // layout: col=value dirs, partition col NOT in the files
    val dirs = new java.io.File(dir).list().filter(_.startsWith("part_date="))
    assert(dirs.length == 7, dirs.mkString(","))
    val oneFile = new java.io.File(s"$dir/${dirs.head}").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(!spark.read.parquet(oneFile.toString).columns.contains("part_date"))
    // read-back (partition col from the dirs) equals the input
    val back = spark.read.parquet(dir)
    val key = (x: org.apache.spark.sql.DataFrame) => x
      .select("id", "name", "amount", "d", "ts", "x", "part_date")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(key(back) == key(d))
    // sidecar byte identity with the legacy collectors over this dir
    val zm1 = bytes(s"$dir/${ZoneMaps.SidecarName}")
    val bl1 = bytes(s"$dir/${ZoneBlooms.sidecarName("name")}")
    SidecarRescan.zoneMap(spark, dir, Seq("id", "amount"))
    SidecarRescan.blooms(spark, dir, Seq("name"))
    assert(bytes(s"$dir/${ZoneMaps.SidecarName}") == zm1,
      "partitioned zone-map sidecar diverged from the footer walk")
    assert(bytes(s"$dir/${ZoneBlooms.sidecarName("name")}") == bl1,
      "partitioned bloom sidecar diverged from the re-scan")
    // a tracked partition column fails loudly (dir-encoded)
    val ex = intercept[IllegalArgumentException] {
      StatsWrite.writePartitioned(spark, d, mkDir("partbad"),
        Seq("part_date"), Seq("part_date"), Nil)
    }
    assert(ex.getMessage.contains("partition column"))
  }

  test("skew: a hot partition value splits across files AND tasks; sidecars stay byte-identical") {
    val dir = mkDir("skew")
    // one hot date (6000 rows) vs seven cold dates (~86 rows each) —
    // the reference's charges shape (a few values dominate)
    val d = spark.range(0, 6600).select(
      col("id"),
      concat(lit("n"), col("id") % 991).as("name"),
      when(col("id") < 6000, lit("2024-01-01").cast("date"))
        .otherwise(expr(
          "date_add(date'2024-02-01', cast(id % 7 as int))")).as("pd"))
    StatsWrite.writePartitioned(spark, d, dir, Seq("pd"),
      Seq("id"), Seq("name"), targetRowsPerFile = 500)
    // the hot value is MANY files written by MULTIPLE tasks (the final
    // name carries the writing task's index: part-IIIII-JJJJ-job)
    val hot = new java.io.File(s"$dir/pd=2024-01-01").list()
      .filter(_.endsWith(".parquet")).toSeq
    assert(hot.size >= 6, s"hot value not split: ${hot.size} files")
    val writerTasks = hot.map(_.split("-")(1)).distinct
    assert(writerTasks.size >= 2,
      s"hot value serialized into ${writerTasks.size} task(s): $hot")
    // the in-run roll bound holds: no file exceeds the target
    hot.foreach { fl =>
      val n = spark.read.parquet(s"$dir/pd=2024-01-01/$fl").count()
      assert(n <= 500, s"$fl has $n rows > target 500")
    }
    // cold values stay one file each (no fragmentation tax)
    (0 until 7).foreach { i =>
      val day = java.time.LocalDate.parse("2024-02-01").plusDays(i)
      val files = new java.io.File(s"$dir/pd=$day").list()
        .filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"cold value pd=$day fragmented: ${files.length}")
    }
    // rows round-trip exactly and the salt never reaches a file
    val back = spark.read.parquet(dir)
    assert(!back.columns.exists(_.contains("salt")), back.columns.mkString(","))
    val key = (x: org.apache.spark.sql.DataFrame) => x
      .select("id", "name", "pd")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(key(back) == key(d))
    // multi-file-per-value sidecars are byte-identical to the legacy
    // re-scan over the same files
    val zm1 = bytes(s"$dir/${ZoneMaps.SidecarName}")
    val bl1 = bytes(s"$dir/${ZoneBlooms.sidecarName("name")}")
    SidecarRescan.zoneMap(spark, dir, Seq("id"))
    SidecarRescan.blooms(spark, dir, Seq("name"))
    assert(bytes(s"$dir/${ZoneMaps.SidecarName}") == zm1,
      "skew-split zone-map sidecar diverged from the footer walk")
    assert(bytes(s"$dir/${ZoneBlooms.sidecarName("name")}") == bl1,
      "skew-split bloom sidecar diverged from the re-scan")
    // and the blooms still answer point probes with zero lost rows
    val all = {
      def walk(f: java.io.File): Seq[String] =
        f.listFiles().toSeq.flatMap { x =>
          if (x.isDirectory) walk(x)
          else if (x.getName.endsWith(".parquet"))
            Seq(x.getPath.stripPrefix(dir).stripPrefix("/"))
          else Nil
        }
      walk(new java.io.File(dir)).sorted
    }
    val sel = ZoneBlooms.selectFiles(spark, dir, "name", "n123", all).get
    assert(sel.nonEmpty && sel.size < all.size)
    val hit = spark.read.option("basePath", dir).parquet(
        sel.map(r => new org.apache.hadoop.fs.Path(dir, r).toString): _*)
      .filter(col("name") === "n123").count()
    assert(hit == d.filter(col("name") === "n123").count() && hit > 0)
  }

  test("skew salting tolerates map columns: hash covers hashable cols only") {
    // xxhash64 rejects MapType — a map-bearing table with a hot value
    // must still write (advice-low, r19), salting on the other columns
    val dir = mkDir("skewmap")
    val d = spark.range(0, 1200).select(
      col("id"),
      map(lit("k"), col("id").cast("string")).as("attrs"),
      when(col("id") < 1000, lit(1)).otherwise(lit(2)).as("pk"))
    StatsWrite.writePartitioned(spark, d, dir, Seq("pk"),
      Seq("id"), Nil, targetRowsPerFile = 300)
    val hot = new java.io.File(s"$dir/pk=1").list()
      .filter(_.endsWith(".parquet")).toSeq
    assert(hot.size >= 3, s"hot value not split despite map column: $hot")
    hot.foreach { fl =>
      val n = spark.read.parquet(s"$dir/pk=1/$fl").count()
      assert(n <= 300, s"$fl has $n rows > target 300")
    }
    val back = spark.read.parquet(dir)
    assert(back.count() == 1200)
    assert(back.select(map_keys(col("attrs"))(0)).distinct().count() == 1)
  }

  test("property: byte-identity holds over random shapes, all decimal backings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(31L + i)))
    val caseGen = for {
      rows <- Gen.choose(1, 400)
      parts <- Gen.choose(1, 5)
      nullEvery <- Gen.choose(2, 20)
      seed <- Gen.choose(1, 1000000)
    } yield (rows, parts, nullEvery, seed)
    samples(caseGen, 8).zipWithIndex.foreach {
      case ((rows, parts, nullEvery, seed), i) =>
        // d7 rides INT32, d18 INT64, d20 FLBA — all three parquet
        // decimal backings under one identity check
        val d = spark.range(0, rows, 1, parts).select(
          (col("id") * seed % 100003 - 50000).as("k"),
          when(col("id") % nullEvery === 0, lit(null))
            .otherwise(concat(lit("sé-"), col("id") * seed % 997))
            .as("name"),
          (col("id").cast("decimal(7,2)") - 500).as("d7"),
          ((col("id") * seed % 10007).cast("decimal(18,4)") / 7)
            .cast("decimal(18,4)").as("d18"),
          ((col("id") * seed % 10007).cast("decimal(20,4)") / 3)
            .cast("decimal(20,4)").as("d20"),
          ((col("id") * seed % 211) - 105.0).as("x"))
        val statsCols = Seq("k", "name", "d7", "d18", "d20", "x")
        val dir = mkDir(s"prop$i")
        StatsWrite.write(spark, d, dir, statsCols, Seq("k", "name"))
        val zm1 = bytes(s"$dir/${ZoneMaps.SidecarName}")
        val b1 = bytes(s"$dir/${ZoneBlooms.sidecarName("k")}")
        val b2 = bytes(s"$dir/${ZoneBlooms.sidecarName("name")}")
        SidecarRescan.zoneMap(spark, dir, statsCols)
        SidecarRescan.blooms(spark, dir, Seq("k", "name"))
        assert(bytes(s"$dir/${ZoneMaps.SidecarName}") == zm1, s"case $i zm")
        assert(bytes(s"$dir/${ZoneBlooms.sidecarName("k")}") == b1, s"case $i bk")
        assert(bytes(s"$dir/${ZoneBlooms.sidecarName("name")}") == b2,
          s"case $i bn")
    }
  }

  test("property: salted partitioned writes round-trip + stay byte-identical over random targets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(53L + i)))
    val caseGen = for {
      rows <- Gen.choose(50, 1200)
      values <- Gen.choose(1, 6) // distinct partition values
      target <- Gen.oneOf(Gen.choose(20L, 200L), Gen.const(Long.MaxValue))
      skewPct <- Gen.choose(0, 90) // % of rows on value 0
      seed <- Gen.choose(1, 1000000)
    } yield (rows, values, target, skewPct, seed)
    samples(caseGen, 6).zipWithIndex.foreach {
      case ((rows, values, target, skewPct, seed), i) =>
        val d = spark.range(0, rows, 1, 4).select(
          col("id").as("k"),
          concat(lit("n"), (col("id") * seed) % 337).as("name"),
          when(col("id") % 100 < skewPct, lit(0))
            .otherwise(pmod(col("id") * seed, lit(values)))
            .cast("int").as("pv"))
        val dir = mkDir(s"saltprop$i")
        StatsWrite.writePartitioned(spark, d, dir, Seq("pv"),
          Seq("k"), Seq("name"), targetRowsPerFile = target)
        // exact round-trip at every (rows, skew, target) shape — incl.
        // runs landing exactly ON the roll bound
        val back = spark.read.parquet(dir)
        val key = (x: org.apache.spark.sql.DataFrame) => x
          .select("k", "name", "pv")
          .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        assert(key(back) == key(d), s"case $i round-trip")
        // the roll bound holds on every file when a finite target is set
        if (target != Long.MaxValue) {
          def walk(f: java.io.File): Seq[java.io.File] =
            f.listFiles().toSeq.flatMap(x =>
              if (x.isDirectory) walk(x)
              else if (x.getName.endsWith(".parquet")) Seq(x) else Nil)
          walk(new java.io.File(dir)).foreach { fl =>
            val n = spark.read.parquet(fl.toString).count()
            assert(n <= target, s"case $i: ${fl.getName} has $n > $target")
          }
        }
        // sidecars byte-identical to the legacy re-scan on every shape
        val zm1 = bytes(s"$dir/${ZoneMaps.SidecarName}")
        val bl1 = bytes(s"$dir/${ZoneBlooms.sidecarName("name")}")
        SidecarRescan.zoneMap(spark, dir, Seq("k"))
        SidecarRescan.blooms(spark, dir, Seq("name"))
        assert(bytes(s"$dir/${ZoneMaps.SidecarName}") == zm1, s"case $i zm")
        assert(bytes(s"$dir/${ZoneBlooms.sidecarName("name")}") == bl1,
          s"case $i bloom")
    }
  }

  test("empty frame mirrors the legacy loud failure for stats") {
    val dir = mkDir("empty")
    val e = fixture.filter(col("id") < 0)
    val ex = intercept[Exception] {
      StatsWrite.write(spark, e, dir, Seq("id"), Nil)
    }
    assert(ex.getMessage.contains("zone map"), ex.getMessage)
  }

  test("empty frames: flat bloom-only writes one schema file and a header-only sidecar; the rest refuse and commit nothing") {
    val e = fixture.filter(col("id") < 0)
    val ep = e.withColumn("pd", col("d"))
    // flat bloom-only: _SUCCESS, one zero-row file that carries the
    // schema, and a sidecar holding only its header
    val dir = mkDir("emptybloom")
    StatsWrite.write(spark, e, dir, Nil, Seq("id"))
    assert(new java.io.File(s"$dir/_SUCCESS").exists())
    val files = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
    assert(files.length == 1, files.mkString(","))
    assert(spark.read.parquet(s"$dir/${files.head}").count() == 0)
    assert(Tables.readParquetCached(spark, dir).columns.toSeq ==
      fixture.columns.toSeq)
    assert(ZoneBlooms.readSidecar(spark, dir, "id").contains(Map.empty))
    // partitioned, with stats or bloom-only: no partition value, no file
    val ex = intercept[Exception] {
      StatsWrite.writePartitioned(spark, ep, mkDir("emptyps"), Seq("pd"),
        Seq("id"), Nil)
    }
    assert(ex.getMessage.contains("zone map"), ex.getMessage)
    intercept[Exception] {
      StatsWrite.writePartitioned(spark, ep, mkDir("emptypb"), Seq("pd"),
        Nil, Seq("id"))
    }
    // a publish over each refusing case commits no version; the
    // bloom-only flat one commits an empty table
    Seq(TableSpec("t", e, statsCols = Seq("id")),
        TableSpec("t", ep, partitionBy = Seq("pd"), statsCols = Seq("id")),
        TableSpec("t", ep, partitionBy = Seq("pd"), bloomCols = Seq("id")))
      .zipWithIndex.foreach { case (t, i) =>
        val base = mkDir(s"emptypub$i")
        intercept[Exception](Versioned.publish(spark, base, Seq(t)))
        assert(Versioned.currentVersion(spark, base).isEmpty, s"case $i")
      }
    val base = mkDir("emptypubok")
    Versioned.publish(spark, base, Seq(TableSpec("t", e, bloomCols = Seq("id"))))
    val back = Versioned.read(spark, base, "t")
    assert(back.columns.toSeq == fixture.columns.toSeq && back.count() == 0)
  }

  test("census: a flat tracked write is one job, one task per input partition; the partitioned write keeps its jobs") {
    val flat = spark.range(0, 300, 1, 3).select(col("id"),
      concat(lit("n"), col("id") % 7).as("name"))
    val (_, u) = graft.obs.Meter.measure(spark) {
      StatsWrite.write(spark, flat, mkDir("censusflat"), Seq("id"), Seq("name"))
    }
    assert((u.jobs, u.stages, u.tasks) == (1, 1, 3), u)
    val part = flat.withColumn("pd", col("id") % 3)
    val (_, up) = graft.obs.Meter.measure(spark) {
      StatsWrite.writePartitioned(spark, part, mkDir("censuspart"), Seq("pd"),
        Seq("id"), Seq("name"))
    }
    assert((up.jobs, up.stages, up.tasks) == (4, 4, 8), up)
  }

  test("spill dir resolves through Spark's own local-dir machinery first") {
    // inside a Spark JVM SparkEnv is live, so the bridge must be the
    // source of truth (it is what covers YARN's LOCAL_DIRS contract on
    // a real cluster — r18 probed env/sysprops and missed it); the env
    // convention and tmpdir are fallbacks for non-Spark JVMs only
    val bridged = org.apache.spark.GraftEnvBridge.localDir()
    assert(bridged.isDefined, "SparkEnv live but the bridge returned None")
    val d = graft.sources.StatsWrite.spillDir()
    assert(d.isDirectory, s"spill dir not a directory: $d")
    // local mode configures ONE local root — the bridge and the spill
    // resolution must agree on it (a fallback path would diverge)
    assert(d.getPath == bridged.get.getPath,
      s"spillDir bypassed SparkEnv: $d vs ${bridged.get}")
  }

  test("a misspelled tracked column fails loudly at write time") {
    val dir = mkDir("typo")
    val ex = intercept[IllegalArgumentException] {
      StatsWrite.write(spark, fixture, dir, Seq("nope"), Nil)
    }
    assert(ex.getMessage.contains("nope"))
  }
}
