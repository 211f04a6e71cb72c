package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Sinks

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("insertIfAbsent: INSERT IGNORE semantics — existing keys untouched") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/t"
    val first = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Sinks.insertIfAbsent(spark, first, dir, Seq("k"))
    // second batch: existing key 2 with NEW value must be ignored
    val second = Seq((2L, "CHANGED"), (3L, "c"), (3L, "dup-in-batch")).toDF("k", "v")
    Sinks.insertIfAbsent(spark, second, dir, Seq("k"))
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(2L) == "b", "INSERT IGNORE must keep the original row")
  }

  test("upsertParquet: ON DUPLICATE KEY UPDATE semantics — incoming wins") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/t"
    Sinks.upsertParquet(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, Seq("k"))
    Sinks.upsertParquet(spark, Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), dir, Seq("k"))
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
  }

  test("upsert is idempotent (reference re-run semantics)") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/t"
    val batch = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    Sinks.upsertParquet(spark, batch, dir, Seq("k"))
    Sinks.upsertParquet(spark, batch, dir, Seq("k"))
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("upsertBucketed: upsert semantics + only touched buckets rewritten") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/t"
    val init = (0L until 200L).map(k => (k, s"v$k")).toDF("k", "v")
    Sinks.upsertBucketed(spark, init, dir, Seq("k"), nBuckets = 16)
    assert(Sinks.readBucketed(spark, dir).count() == 200)

    // snapshot every bucket dir's file listing before the small batch
    def listing(): Map[String, Set[(String, Long)]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.getName.startsWith("_kb=")).map { d =>
        d.getName -> d.listFiles().map(f => f.getName -> f.lastModified()).toSet
      }.toMap
    }
    val before = listing()
    assert(before.size == 16, s"expected 16 bucket dirs, got ${before.size}")

    // one-key batch: exactly ONE bucket may change
    Sinks.upsertBucketed(spark, Seq((7L, "UPDATED")).toDF("k", "v"),
      dir, Seq("k"), nBuckets = 16)
    val after = listing()
    val changed = before.keySet.filter(b => before(b) != after(b))
    assert(changed.size == 1, s"one-key upsert must touch one bucket: $changed")
    val out = Sinks.readBucketed(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 200 && out(7L) == "UPDATED" && out(6L) == "v6")

    // idempotent re-run; new keys append into their buckets
    Sinks.upsertBucketed(spark, Seq((7L, "UPDATED"), (1000L, "new"))
      .toDF("k", "v"), dir, Seq("k"), nBuckets = 16)
    val out2 = Sinks.readBucketed(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2.size == 201 && out2(7L) == "UPDATED" && out2(1000L) == "new")
  }

  test("upsertPartitioned: a daily batch touches only its part_date dirs") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/charges"
    def charges(rows: Seq[(String, String, Double)]) =
      rows.toDF("id", "company_id", "amount")
        .withColumn("part_date",
          to_date(concat(lit("2019-01-0"), substring(col("id"), 1, 1))))
    // days 1..5, two charges each
    val init = (1 to 5).flatMap(d =>
      Seq((s"$d-a", "c1", d * 1.0), (s"$d-b", "c2", d * 2.0)))
    Sinks.upsertPartitioned(spark, charges(init), dir, Seq("id"), "part_date")
    def listing(): Map[String, Set[(String, Long)]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.getName.startsWith("part_date=")).map { d =>
        d.getName -> d.listFiles().map(f => f.getName -> f.lastModified()).toSet
      }.toMap
    }
    val before = listing()
    assert(before.size == 5)
    // a day-3 correction batch: update one charge, add one
    Sinks.upsertPartitioned(spark,
      charges(Seq(("3-a", "c1", 99.0), ("3-c", "c9", 7.0))),
      dir, Seq("id"), "part_date")
    val after = listing()
    val changed = before.keySet.filter(b => before(b) != after(b))
    assert(changed == Set("part_date=2019-01-03"),
      s"day-3 batch must rewrite only day 3: $changed")
    val out = spark.read.parquet(dir)
    assert(out.count() == 11)
    assert(out.filter(col("id") === "3-a").head().getDouble(2) == 99.0)
    assert(out.filter(col("id") === "1-a").head().getDouble(2) == 1.0)
  }

  test("upsertBucketed refuses a mismatched bucket count (layout pin)") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/t"
    Sinks.upsertBucketed(spark, Seq((1L, "a")).toDF("k", "v"),
      dir, Seq("k"), nBuckets = 8)
    val e = intercept[IllegalArgumentException](
      Sinks.upsertBucketed(spark, Seq((2L, "b")).toDF("k", "v"),
        dir, Seq("k"), nBuckets = 16))
    assert(e.getMessage.contains("8 buckets"))
    // same count keeps working
    Sinks.upsertBucketed(spark, Seq((2L, "b")).toDF("k", "v"),
      dir, Seq("k"), nBuckets = 8)
    assert(Sinks.readBucketed(spark, dir).count() == 2)
  }

  test("the scoped-upsert merge read prunes untouched partitions (scan proof)") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/t"
    val init = (1 to 5).flatMap(d => Seq((s"$d-a", d), (s"$d-b", d)))
      .toDF("id", "day")
    Sinks.upsertPartitioned(spark, init, dir, Seq("id"), "day")
    // exactly the read shape scopedUpsert builds for its merge job
    val pruned = spark.read.parquet(dir)
      .filter(col("day").cast("string").isin("3"))
    pruned.collect()
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a parquet scan")
    val numFiles = scans.head.metrics("numFiles").value
    val allFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("day="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(numFiles < allFiles,
      s"cast-isin filter must prune partition dirs: read $numFiles of $allFiles")
    assert(pruned.count() == 2)
  }

  test("upsertBucketed heals a bucket left mid-swap by a crashed run") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft-sink").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.upsertBucketed(spark,
      (0L until 50L).map(k => (k, s"v$k")).toDF("k", "v"),
      dir, Seq("k"), nBuckets = 4)
    // simulate a crash between the two swap renames of bucket 2: dst
    // moved aside into a committed staging's promotion
    val bucket = new Path(s"$dir/_kb=2")
    val staging = graft.sources.Lake.stagingPath(bucket)
    assert(fs.rename(bucket, staging))
    assert(fs.exists(new Path(staging, "_SUCCESS")) ||
      { fs.create(new Path(staging, "_SUCCESS")).close(); true })
    // next upsert heals on entry, then applies its batch
    Sinks.upsertBucketed(spark, Seq((0L, "X")).toDF("k", "v"),
      dir, Seq("k"), nBuckets = 4)
    val out = Sinks.readBucketed(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 50 && out(0L) == "X" && out(49L) == "v49",
      "crashed bucket's rows must survive the heal")
  }

  test("jdbc upsert statement matches the reference's MySQL shape") {
    val sql = Sinks.upsertSql("charges",
      Seq("id", "company_id", "amount"), Seq("id"))
    assert(sql ==
      "INSERT INTO charges (id, company_id, amount) VALUES (?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE company_id = VALUES(company_id), amount = VALUES(amount)")
  }

  test("jdbcUpsert end-to-end against embedded Derby: insert, update, re-run") {
    // file-backed, unique temp dir — NOT `memory:`: an in-memory db
    // once silently lost one partition's committed transaction under
    // full-suite parallel load (no SQLException anywhere in the run's
    // log, unreproducible in isolation). A disk db makes commits
    // durable, and if the executor threads ever boot a second Derby
    // engine instance, the `db.lck` double-boot guard fails LOUDLY
    // instead of letting two memory namespaces diverge silently.
    val url = "jdbc:derby:" +
      java.nio.file.Files.createTempDirectory("graft-derby").toString +
      "/sinkdb;create=true"
    val props = new java.util.Properties
    val conn = java.sql.DriverManager.getConnection(url, props)
    conn.createStatement().execute(
      "CREATE TABLE companies (company_id VARCHAR(40) PRIMARY KEY, " +
        "company_name VARCHAR(130), total DOUBLE)")
    conn.close()

    def tableRows(): Map[String, (String, Double)] = {
      val c = java.sql.DriverManager.getConnection(url, props)
      try {
        val rs = c.createStatement()
          .executeQuery("SELECT company_id, company_name, total FROM companies")
        Iterator.continually(rs)
          .takeWhile(_.next())
          .map(r => r.getString(1) -> (r.getString(2), r.getDouble(3)))
          .toMap
      } finally c.close()
    }

    // Embedded Derby's MERGE occasionally trips an internal page-latch
    // error ("attempted latched twice") when two partitions' connections
    // write the same page concurrently — a Derby-internal race, not a
    // sink bug. In cluster mode Spark's task retries absorb it (the
    // failed partition's txn rolled back; the MERGE is idempotent, so a
    // re-run converges), but local[] runs with maxFailures=1, so the
    // whole job aborts. Retry the idempotent call at the caller grain,
    // exactly as a production scheduler would.
    def upsertRetrying(df: org.apache.spark.sql.DataFrame): Unit = {
      def transientDerby(e: Throwable): Boolean =
        e != null && (e.isInstanceOf[java.sql.SQLException] ||
          transientDerby(e.getCause))
      var left = 3
      while (left > 0) {
        left -= 1
        try {
          Sinks.jdbcUpsert(df, url, "companies", Seq("company_id"), props,
            dialect = Sinks.DerbyUpsert)
          left = 0
        } catch {
          case e: org.apache.spark.SparkException
            if left > 0 && transientDerby(e) =>
        }
      }
    }

    val batch1 = Seq(("c1", "Alpha", 10.0), ("c2", "Beta", 20.0),
      ("c3", "Gamma", 30.0)).toDF("company_id", "company_name", "total")
      .repartition(2) // multiple partitions ⇒ multiple connections
    upsertRetrying(batch1)
    assert(tableRows() == Map("c1" -> ("Alpha", 10.0),
      "c2" -> ("Beta", 20.0), "c3" -> ("Gamma", 30.0)))

    // update + insert in one batch (the reference's re-run shape)
    val batch2 = Seq(("c2", "Beta2", 22.0), ("c4", "Delta", 40.0))
      .toDF("company_id", "company_name", "total")
    upsertRetrying(batch2)
    assert(tableRows() == Map("c1" -> ("Alpha", 10.0),
      "c2" -> ("Beta2", 22.0), "c3" -> ("Gamma", 30.0),
      "c4" -> ("Delta", 40.0)))

    // idempotent: replaying the same batch changes nothing
    upsertRetrying(batch2)
    assert(tableRows().size == 4)
  }

  test("Derby merge statement binds key, update, then insert params") {
    val cols = Seq("id", "name", "amt")
    assert(Sinks.DerbyUpsert.sql("t", cols, Seq("id")) ==
      "MERGE INTO t USING SYSIBM.SYSDUMMY1 ON t.id = ? " +
        "WHEN MATCHED THEN UPDATE SET name = ?, amt = ? " +
        "WHEN NOT MATCHED THEN INSERT (id, name, amt) VALUES (?, ?, ?)")
    assert(Sinks.DerbyUpsert.bindOrder(cols, Seq("id")) ==
      Seq(0, 1, 2, 0, 1, 2))
    // composite key
    assert(Sinks.DerbyUpsert.bindOrder(Seq("a", "b", "c"), Seq("b", "a")) ==
      Seq(1, 0, 2, 0, 1, 2))
  }

  test("a read failure of an existing table propagates: no upsert or insert over it") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faultyread.impl", classOf[FaultyReadFs].getName)
    val local = Files.createTempDirectory("graft-sink-fault").toString + "/t"
    val dir = s"faultyread://$local"
    val old = Map(1L -> "a", 2L -> "b")
    Sinks.upsertParquet(spark, old.toSeq.toDF("k", "v"), dir, Seq("k"))
    def rows() = spark.read.parquet(local).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows() == old)
    FaultyReadFs.failing = Some(local)
    try {
      val up = intercept[java.io.IOException](Sinks.upsertParquet(
        spark, Seq((3L, "c")).toDF("k", "v"), dir, Seq("k")))
      assert(up.getMessage.contains("injected read fault"), up.getMessage)
      intercept[java.io.IOException](Sinks.insertIfAbsent(
        spark, Seq((1L, "dup"), (3L, "c")).toDF("k", "v"), dir, Seq("k")))
    } finally FaultyReadFs.failing = None
    assert(rows() == old, "the old rows must stay the table")
  }
}

/** The local FS under the `faultyread:` scheme. While
  * [[FaultyReadFs.failing]] names a directory, listing it fails: a table
  * that exists but cannot be read. */
class FaultyReadFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("faultyread:///")
  override def getScheme: String = "faultyread"
  override def listStatus(f: Path): Array[FileStatus] =
    if (FaultyReadFs.failing.contains(f.toUri.getPath.stripSuffix("/")))
      throw new java.io.IOException(s"injected read fault: $f")
    else super.listStatus(f)
}

object FaultyReadFs {
  @volatile var failing: Option[String] = None
}
