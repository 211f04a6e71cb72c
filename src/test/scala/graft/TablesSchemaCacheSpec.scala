package graft

/** Pins the r22 footer-schema cache (`Tables.readParquetCached` — the
  * catalog seam behind `Tables`, `ArtifactStore` and the `Versioned`
  * read paths): (1) a cached read is value- and schema-identical to a
  * plain footer-inferred read; (2) the cache is METADATA only — a
  * rewrite of the files under the same path is seen immediately
  * (fingerprint = file listing, so staleness is impossible by
  * construction, the ArtifactStore discipline); (3) a schema CHANGE
  * under the same path resolves to the new schema, never the cached
  * one; (4) a first read resolves its schema from one footer on the
  * driver (`Tables.footerRead`) with no Spark job, equal to Spark's
  * own inference on every parquet shape the engine reads.
  */
class TablesSchemaCacheSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("cached read ≡ plain read: schema and values") {
    val plain = spark.read.parquet(s"$sfDir/customer.parquet")
    val cached = Tables(spark, sfDir, "customer")
    assert(cached.schema == plain.schema)
    assert(cached.count() == plain.count())
    assert(cached.exceptAll(plain).isEmpty && plain.exceptAll(cached).isEmpty)
  }

  test("a rewrite under the same path is read fresh: new values AND new schema") {
    val dir = java.nio.file.Files.createTempDirectory("tables_cache").toFile
    val p = s"${dir.getAbsolutePath}/t.parquet"
    try {
      spark.range(5).toDF("id").write.parquet(p)
      val first = Tables.readParquetCached(spark, p)
      assert(first.schema.fieldNames.toSeq == Seq("id"))
      assert(first.count() == 5)
      // rewrite with MORE rows and a DIFFERENT schema under the same path
      spark.range(7).toDF("id")
        .withColumn("extra", lit("x"))
        .write.mode("overwrite").parquet(p)
      val second = Tables.readParquetCached(spark, p)
      assert(second.count() == 7, "stale data served after rewrite")
      assert(second.schema.fieldNames.toSet == Set("id", "extra"),
        s"stale schema served after rewrite: ${second.schema.fieldNames.toSeq}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("events loader still adapts ts through the cache") {
    val ev = Tables(spark, sfDir, "events")
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(ev.limit(1).count() == 1)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Driver-side schema (uncached and through the seam) ≡ Spark's
    * inferred one. */
  private def sameAsSpark(paths: String*): Unit = {
    val inferred = spark.read.parquet(paths: _*).schema
    assert(Tables.footerRead(spark, paths).schema == inferred, paths.mkString(","))
    assert(Tables.readParquetCached(spark, paths: _*).schema == inferred)
  }

  /** The parquet files a Spark write left under `dir`, sorted by name. */
  private def parts(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  test("footer schema ≡ inferred schema: flat file, multi-part dir, bucketed and empty artifacts") {
    import graft.sources.ArtifactStore
    sameAsSpark(s"$sfDir/customer.parquet")
    val multi = s"${tmp("seam-multi")}/t"
    spark.range(30).selectExpr("id", "CAST(id AS STRING) AS s", "id * 0.5 AS d")
      .repartition(3).write.parquet(multi)
    val names = new java.io.File(multi).list().toSet
    assert(names("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    sameAsSpark(multi)
    val bucketed = s"${tmp("seam-bucketed")}/art"
    ArtifactStore.readOrPublishBucketed(spark, bucketed, "k", 4)(
      spark.range(100).selectExpr("id AS k", "id * 2 AS v"))
    sameAsSpark(bucketed)
    val empty = s"${tmp("seam-empty")}/art"
    val art = ArtifactStore.readOrPublishBucketed(spark, empty, "k", 4)(
      spark.range(100).selectExpr("id AS k", "'x' AS v").filter(col("k") < 0))
    assert(art.count() == 0 && art.columns.toSeq == Seq("k", "v"))
    sameAsSpark(empty)
  }

  test("footer schema ≡ inferred schema: date-partitioned lake dir, batch ledger, multi-path fold") {
    import graft.sources.Versioned
    val base = s"${tmp("seam-lake")}/lake"
    val t = spark.range(60).selectExpr("id",
      "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS part_date")
    Versioned.publish(spark, base,
      Seq(Versioned.TableSpec("t", t, partitionBy = Seq("part_date"))))
    val dataDirs = new java.io.File(s"$base/_data").listFiles()
      .filter(_.isDirectory).map(_.getPath).toSeq
    assert(dataDirs.size == 1, dataDirs)
    assert(spark.read.parquet(dataDirs.head).schema("part_date").dataType ==
      org.apache.spark.sql.types.DateType)
    sameAsSpark(dataDirs.head)
    val ledger = s"${tmp("seam-ledger")}/ledger"
    for (b <- 0 to 2)
      spark.range(b * 10, b * 10 + 10).selectExpr("CAST(id AS STRING) AS h")
        .write.parquet(s"$ledger/graft_batch_id=$b")
    sameAsSpark(ledger)
    assert(Tables.readParquetCached(spark, ledger).columns.toSeq ==
      Seq("h", "graft_batch_id"))
    sameAsSpark(s"$ledger/graft_batch_id=0", s"$ledger/graft_batch_id=2")
  }

  test("footer schema follows Spark's file choice: first data file by path, summary files first") {
    val src = tmp("seam-src")
    def one(name: String, df: org.apache.spark.sql.DataFrame): java.io.File = {
      df.coalesce(1).write.parquet(s"$src/$name")
      parts(s"$src/$name").head
    }
    val narrow = one("a", spark.range(3).toDF("a"))
    val wide = one("ab", spark.range(3).selectExpr("id AS a", "id AS b"))
    val dir = tmp("seam-mixed")
    def place(f: java.io.File, name: String): Unit =
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(dir, name))
    // the wide file sorts second: Spark (no mergeSchema) reads only the
    // first footer by path, so column `b` is not in the schema
    place(narrow, "part-00000.parquet")
    place(wide, "part-00001.parquet")
    sameAsSpark(dir)
    assert(Tables.footerRead(spark, Seq(dir)).schema.fieldNames.toSeq == Seq("a"))
    // a `_common_metadata` summary wins over every data file
    place(one("c", spark.range(3).toDF("c")), "_common_metadata")
    sameAsSpark(dir)
    assert(Tables.footerRead(spark, Seq(dir)).schema.fieldNames.toSeq == Seq("c"))
  }

  test("footer schema honours nanosAsLong: events and a TIMESTAMP(NANOS) file") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val nanos = s"${tmp("seam-nanos")}/ts.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); required int64 id; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(nanos))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("id", 1L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try for (v <- Seq("true", "false")) {
      spark.conf.set(key, v)
      for (p <- Seq(s"$sfDir/events.parquet", nanos))
        scala.util.Try(spark.read.parquet(p).schema) match {
          case scala.util.Success(_) => sameAsSpark(p)
          case scala.util.Failure(_) =>
            // Spark refuses the type under this setting; so must the seam,
            // never serving the schema cached under the other setting
            intercept[Exception](Tables.footerRead(spark, Seq(p)))
            intercept[Exception](Tables.readParquetCached(spark, p))
        }
      if (v == "true") assert(Tables.readParquetCached(spark, nanos)
        .schema("ts").dataType == org.apache.spark.sql.types.LongType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a cold readParquetCached runs no Spark job; a dir without data files still fails loudly") {
    val p = s"${tmp("seam-cold")}/t"
    spark.range(40).selectExpr("id", "id % 7 AS m").repartition(2)
      .write.partitionBy("m").parquet(p)
    val (df, jobs) = jobsOf(Tables.readParquetCached(spark, p))
    assert(jobs == 0, s"cold schema resolution ran $jobs Spark job(s)")
    assert(df.schema == spark.read.parquet(p).schema && df.count() == 40)
    val bare = tmp("seam-bare")
    new java.io.File(bare, "_SUCCESS").createNewFile()
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.readParquetCached(spark, bare))
    assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"), e.getMessage)
  }
}
