package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Source-format coverage beyond parquet/CSV: JSON-lines and ORC
  * round-trips preserve schema and values (the formats a lake ingests
  * besides its native parquet). */
class SourcesSpec extends SparkSpec {

  private lazy val events = Tables(spark, sfDir, "events")

  test("JSON-lines round-trip preserves rows (explicit schema read)") {
    val dir = Files.createTempDirectory("graft-json").toString + "/e"
    // default JSON timestampFormat drops sub-millisecond digits — pin
    // a microsecond format on both sides
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    events.write.mode("overwrite")
      .option("timestampFormat", tsFmt).json(dir)
    val back = spark.read.schema(events.schema)
      .option("timestampFormat", tsFmt).json(dir)
    assert(back.count() == events.count())
    assert(back.exceptAll(events).count() == 0)
  }

  test("ORC round-trip preserves rows and types") {
    val dir = Files.createTempDirectory("graft-orc").toString + "/e"
    events.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == events.schema)
    assert(back.exceptAll(events).count() == 0)
  }

  test("PERMISSIVE CSV read captures malformed rows in a corrupt-record column") {
    val dir = Files.createTempDirectory("graft-csv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad.csv"),
      // not_an_int = type-malformed (captured, kept as null);
      // extra-token row = structurally malformed (droppable; a SHORT
      // row is just null-padded, not malformed)
      "a,b\n1,x\nnot_an_int,y\n3,z\n9,w,EXTRA\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt",
        org.apache.spark.sql.types.StringType)))
    val df = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema)
      .csv(s"$dir/bad.csv")
      .cache() // corrupt-record column requires a materialized parse
    // the type-failure and the extra-token rows are both captured with
    // their raw text, parseable columns preserved — this is why the
    // engine's ETL does its own coerce-and-quarantine (full control of
    // what counts as malformed) instead of trusting parser modes
    try {
      assert(df.filter(col("_corrupt").isNotNull).count() == 2)
      assert(df.filter(col("_corrupt").isNull).count() == 2)
    } finally df.unpersist() // shared session — don't leak across suites
  }

  test("registerAll exposes every table as a SQL view") {
    Tables.registerAll(spark, sfDir)
    val n = spark.sql(
      "SELECT (SELECT COUNT(*) FROM lineitem) + (SELECT COUNT(*) FROM documents) AS n")
      .head.getLong(0)
    assert(n > 0)
  }

  test("bucketed artifact: publish once, re-register across catalogs, probe-side-only shuffle") {
    import graft.sources.ArtifactStore
    val dir = Files.createTempDirectory("graft-bart").toString + "/art"
    val df = spark.range(0, 1000).toDF("k")
      .withColumn("v", col("k") * 2)
    val art = ArtifactStore.readOrPublishBucketed(spark, dir, "k", 4)(df)
    assert(art.count() == 1000)
    assert(art.orderBy("k").collect().map(_.getLong(1)).take(3)
      .sameElements(Array(0L, 2L, 4L)))
    // second call must be a pure read — the thunk must never run
    val again = ArtifactStore.readOrPublishBucketed(spark, dir, "k", 4)(
      sys.error("readOrPublishBucketed rebuilt a published artifact"))
    assert(again.count() == 1000)
    // cold-catalog path: drop the session registration (external —
    // files stay) and re-resolve; the layout must come back from the
    // file names alone, as it would in a fresh JVM
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_art_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    val cold = ArtifactStore.readOrPublishBucketed(spark, dir, "k", 4)(
      sys.error("cold re-registration rebuilt a published artifact"))
    // the point of the layout: a join on the bucket key shuffles the
    // PROBE side only — the artifact side scans pre-partitioned
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = spark.range(0, 100).toDF("k")
      val joined = cold.join(probe, "k")
      joined.collect()
      // AQE's toString appends the pre-adaptive "Initial Plan" — judge
      // the final plan section only
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"expected exactly one exchange (the probe side):\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"artifact scan must read as bucketed:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a losing artifact publish drops its staging dir and reads the winner's table") {
    import graft.sources.ArtifactStore
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("graft-publish-race").toString
    def frame = spark.range(50).selectExpr("id AS k", "id * 3 AS v")
    def rows(df: DataFrame) = df.orderBy("k").collect().toSeq
    for (bucketed <- Seq(false, true)) {
      val out = s"$root/art-$bucketed"
      def publish(build: => DataFrame): DataFrame =
        if (bucketed) ArtifactStore.readOrPublishBucketed(spark, out, "k", 4)(build)
        else ArtifactStore.readOrPublish(spark, out)(build)
      // the loser's build runs a whole winning publish first, so the
      // loser finds `out` published when it promotes its own staging dir
      var winner: DataFrame = null
      val loser = publish { winner = publish(frame); frame }
      assert(rows(loser) == rows(winner) && rows(loser).size == 50)
      val inside = new java.io.File(out).list().toSeq
      assert(!inside.exists(_.startsWith(".staging-")),
        s"the loser's staging dir was moved into the artifact: $inside")
      assert(!new java.io.File(root).list().exists(_.startsWith(".staging-")),
        "the loser must delete its staging dir")
    }
  }
}
