package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.{Versioned, ZoneMaps}
import graft.sources.Versioned.TableSpec

/** Zone-map data skipping over the versioned lake: pruning must only
  * ever SAVE bytes — every test pairs a file-count claim with a
  * value-identity claim against the unpruned filter, and the fallback
  * paths (no sidecar, corrupt sidecar, untracked column) must serve
  * the identical answer with zero pruning. */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def mkBase() =
    Files.createTempDirectory("graft-zonemap").toString + "/lake"

  /** 4 disjoint key ranges, one file each (range-partitioned). */
  private def rangedDf = spark.range(0, 400)
    .select(col("id").as("k"),
      (col("id").cast("double") * 1.5 - 100.0).as("x"),
      concat(lit("key-"), format_string("%06d", col("id"))).as("s"))
    .repartitionByRange(4, col("k"))

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("long-range probe reads one file of four, same rows as full filter") {
    val base = mkBase()
    Versioned.publish(spark, base,
      Seq(TableSpec("t", rangedDf, statsCols = Seq("k", "x", "s"))))
    val Some((_, sel, total)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "k", 110L, 130L)
    assert(total == 4 && sel.size == 1, s"selected ${sel.size} of $total")
    assert(collectSet(Versioned.readPruned(spark, base, "t", "k", 110L, 130L))
      == collectSet(Versioned.read(spark, base, "t")
        .filter(col("k") >= 110 && col("k") <= 130)))
  }

  test("double and string bounds prune (negative doubles, UTF-8 order)") {
    val base = mkBase()
    Versioned.publish(spark, base,
      Seq(TableSpec("t", rangedDf, statsCols = Seq("x", "s"))))
    // x ∈ [-100, 498.5]; probe a negative slice → first file only
    val Some((_, selX, _)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "x", -100.0, -50.0)
    assert(selX.size == 1)
    assert(collectSet(Versioned.readPruned(spark, base, "t", "x", -100.0, -50.0))
      == collectSet(Versioned.read(spark, base, "t")
        .filter(col("x") >= -100.0 && col("x") <= -50.0)))
    val Some((_, selS, _)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "s", "key-000350", "key-000399")
    assert(selS.size == 1)
    assert(Versioned.readPruned(spark, base, "t", "s", "key-000350", "key-000399")
      .count() == 50)
  }

  test("an all-null file is skipped; null rows match no range anyway") {
    val base = mkBase()
    // nulls sort first under repartitionByRange → land in file 0
    val withNulls = spark.range(0, 300)
      .select(when(col("id") < 100, lit(null)).otherwise(col("id"))
        .cast("long").as("k"))
      .repartitionByRange(3, col("k"))
    Versioned.publish(spark, base,
      Seq(TableSpec("t", withNulls, statsCols = Seq("k"))))
    val dataDir = new Path(base).toString
    val stats = ZoneMaps.readSidecar(spark,
      Versioned.prunedFilesAt(spark, base, "t", 1L, "k", 0L, 0L).get._1).get
    assert(stats.exists(_.cols("k").flag == "N"), "expected an all-null file")
    val Some((_, sel, total)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "k", 100L, 150L)
    assert(total == 3 && sel.size == 1)
    assert(Versioned.readPruned(spark, base, "t", "k", 100L, 150L).count() == 51)
  }

  test("carry-forward keeps stats; merge re-collects them on the rewrite") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(
      TableSpec("t", rangedDf, statsCols = Seq("k")),
      TableSpec("other", Seq((1, "a")).toDF("id", "v"))))
    // merge into OTHER: t is carried by reference — sidecar rides along
    Versioned.mergePublish(spark, base, "other",
      Seq((2, "b")).toDF("id", "v"), Seq("id"))
    assert(Versioned.statsColsAt(spark, base, "t", 2L) == Seq("k"))
    val Some((_, sel2, _)) =
      Versioned.prunedFilesAt(spark, base, "t", 2L, "k", 0L, 10L)
    assert(sel2.size == 1)
    // merge into T itself: the rewritten dir re-collects the same cols
    Versioned.mergePublish(spark, base, "t",
      Seq((1000L, 0.0, "key-001000")).toDF("k", "x", "s"), Seq("k"))
    assert(Versioned.statsColsAt(spark, base, "t", 3L) == Seq("k"))
    assert(collectSet(Versioned.readPruned(spark, base, "t", "k", 990L, 1010L))
      == collectSet(Versioned.read(spark, base, "t")
        .filter(col("k").between(990, 1010))))
  }

  test("compaction turns overlapping zone maps into disjoint ones") {
    val base = mkBase()
    // interleaved layout: every file spans nearly the full key range
    val interleaved = spark.range(0, 400)
      .select(col("id").as("k")).repartitionByRange(4, col("k") % 4)
    Versioned.publish(spark, base,
      Seq(TableSpec("t", interleaved, statsCols = Seq("k"))))
    val Some((_, selBefore, totBefore)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "k", 110L, 130L)
    assert(totBefore == 4 && selBefore.size == 4,
      "interleaved files cannot prune — every file spans the range")
    Versioned.compactPublish(spark, base, "t", Seq("k"), files = 4)
    val Some((_, selAfter, totAfter)) =
      Versioned.prunedFilesAt(spark, base, "t", 2L, "k", 110L, 130L)
    assert(totAfter == 4 && selAfter.size == 1,
      s"compacted probe selected ${selAfter.size} of $totAfter")
    assert(collectSet(Versioned.readPrunedAt(spark, base, "t", 2L, "k", 110L, 130L))
      == collectSet(Versioned.readPrunedAt(spark, base, "t", 1L, "k", 110L, 130L)))
  }

  test("a stats column that is dir-encoded (partitionBy) fails the publish") {
    val base = mkBase()
    val e = intercept[Exception] {
      Versioned.publish(spark, base, Seq(TableSpec("t",
        Seq((1L, "a"), (2L, "b")).toDF("k", "p"),
        partitionBy = Seq("p"), statsCols = Seq("p"))))
    }
    assert(e.getMessage.contains("partition column"))
    // the failed publish committed nothing
    assert(Versioned.currentVersion(spark, base).isEmpty)
  }

  test("no sidecar / corrupt sidecar / untracked column fall back exactly") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", rangedDf))) // no stats
    assert(Versioned.prunedFilesAt(spark, base, "t", 1L, "k", 0L, 10L).isEmpty)
    val full = collectSet(Versioned.read(spark, base, "t")
      .filter(col("k").between(0, 10)))
    assert(collectSet(Versioned.readPruned(spark, base, "t", "k", 0L, 10L)) == full)

    val base2 = mkBase()
    Versioned.publish(spark, base2,
      Seq(TableSpec("t", rangedDf, statsCols = Seq("k"))))
    // untracked column → None → full scan
    assert(Versioned.prunedFilesAt(spark, base2, "t", 1L, "x", 0.0, 1.0).isEmpty)
    // corrupt the sidecar in place → reader degrades to full scan
    val (dataDir, _, _) =
      Versioned.prunedFilesAt(spark, base2, "t", 1L, "k", 0L, 10L).get
    val p = new Path(dataDir, ZoneMaps.SidecarName)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = f.create(p, true)
    out.write("not a zonemap".getBytes("UTF-8")); out.close()
    assert(ZoneMaps.readSidecar(spark, dataDir).isEmpty)
    assert(collectSet(Versioned.readPruned(spark, base2, "t", "k", 0L, 10L)) == full)
  }

  test("decimal bounds prune on every physical backing (incl. FLBA)") {
    val base = mkBase()
    // amt:  DECIMAL(16,2) → INT64-backed  (the reference money type)
    // amt8: DECIMAL(8,2)  → INT32-backed
    // amtB: DECIMAL(28,2) → FIXED_LEN_BYTE_ARRAY-backed (big-endian
    //       two's-complement unscaled decode — the r15 `U` gap)
    // amt spans negatives so the sign path is exercised on INT64 too
    val df = spark.range(0, 400).select(
        col("id").as("k"),
        expr("CAST(id * 1.25 - 100 AS DECIMAL(16,2))").as("amt"),
        expr("CAST(id * 1.25 AS DECIMAL(8,2))").as("amt8"),
        expr("CAST(id * 1000000000.25 AS DECIMAL(28,2))").as("amtB"))
      .repartitionByRange(4, col("k"))
    Versioned.publish(spark, base,
      Seq(TableSpec("t", df, statsCols = Seq("amt", "amt8", "amtB"))))
    def bd(s: String) = new java.math.BigDecimal(s)
    // negative slice → first file only (ids 0..99 → amt -100.00..23.75)
    val Some((_, selNeg, total)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "amt", bd("-100.00"), bd("-50.00"))
    assert(total == 4 && selNeg.size == 1, s"selected ${selNeg.size} of $total")
    assert(collectSet(Versioned.readPruned(spark, base, "t", "amt",
        bd("-100.00"), bd("-50.00")))
      == collectSet(Versioned.read(spark, base, "t")
        .filter(col("amt") >= bd("-100.00") && col("amt") <= bd("-50.00"))))
    // INT32 backing: ids 112..136 land mid-file-1 only
    val Some((_, sel8, _)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "amt8", bd("140.00"), bd("170.00"))
    assert(sel8.size == 1, s"amt8 selected ${sel8.size}")
    // FLBA backing: unscaled values far beyond long-from-double range
    val Some((_, selB, _)) = Versioned.prunedFilesAt(spark, base, "t", 1L,
      "amtB", bd("140000000035.00"), bd("170000000042.50"))
    assert(selB.size == 1, s"amtB selected ${selB.size}")
    assert(collectSet(Versioned.readPruned(spark, base, "t", "amtB",
        bd("140000000035.00"), bd("170000000042.50")))
      == collectSet(Versioned.read(spark, base, "t")
        .filter(col("amtB") >= bd("140000000035.00") &&
          col("amtB") <= bd("170000000042.50"))))
  }

  test("date and timestamp bounds prune with calendar probe values") {
    val base = mkBase()
    // d: DATE (INT32 epoch days); ts: TIMESTAMP (INT64 UTC micros)
    val df = spark.range(0, 400).select(
        col("id").as("k"),
        expr("date_add(DATE '2020-01-01', CAST(id AS INT))").as("d"),
        expr("timestamp_seconds(1577836800 + id * 3600)").as("ts"))
      .repartitionByRange(4, col("k"))
    Versioned.publish(spark, base,
      Seq(TableSpec("t", df, statsCols = Seq("d", "ts"))))
    // DATE probe with LocalDate values: ids 130..160 → file 1 only
    val dLo = java.time.LocalDate.parse("2020-05-10")
    val dHi = java.time.LocalDate.parse("2020-06-09")
    val Some((_, selD, total)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "d", dLo, dHi)
    assert(total == 4 && selD.size == 1, s"date selected ${selD.size}")
    assert(collectSet(Versioned.readPruned(spark, base, "t", "d", dLo, dHi))
      == collectSet(Versioned.read(spark, base, "t")
        .filter(col("d") >= lit(dLo) && col("d") <= lit(dHi))))
    // TIMESTAMP probe with Instants (zone-independent): hours 130..160
    val tLo = java.time.Instant.parse("2020-01-06T10:00:00Z")
    val tHi = java.time.Instant.parse("2020-01-07T16:00:00Z")
    val Some((_, selT, _)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "ts", tLo, tHi)
    assert(selT.size == 1, s"ts selected ${selT.size}")
    assert(collectSet(Versioned.readPruned(spark, base, "t", "ts", tLo, tHi))
      == collectSet(Versioned.read(spark, base, "t")
        .filter(col("ts") >= lit(tLo) && col("ts") <= lit(tHi))))
    // ISO strings are accepted probe values too (ops ergonomics)
    val Some((_, selS, _)) = Versioned.prunedFilesAt(spark, base, "t", 1L,
      "d", "2020-05-10", "2020-06-09")
    assert(selS == selD, "string date probe must select like LocalDate")
  }

  test("a 20-file write-time sidecar prunes correctly") {
    val base = mkBase()
    // 20 files, one per write task: the sidecar must describe every
    // file, in path order
    val df = spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(20, col("k"))
    Versioned.publish(spark, base,
      Seq(TableSpec("t", df, statsCols = Seq("k"))))
    val Some((_, sel, total)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "k", 100L, 199L)
    assert(total == 20, s"sidecar covers $total of 20 files")
    assert(sel.size <= 2, s"selected ${sel.size} of $total")
    assert(collectSet(Versioned.readPruned(spark, base, "t", "k", 100L, 199L))
      == collectSet(Versioned.read(spark, base, "t")
        .filter(col("k") >= 100 && col("k") <= 199)))
  }

  test("a copied lake prunes into its own files after the original is deleted") {
    val base = mkBase()
    Versioned.publish(spark, base,
      Seq(TableSpec("t", rangedDf, statsCols = Seq("k"))))
    val moved = Files.createTempDirectory("graft-zonemap-moved").toString + "/lake"
    val conf = spark.sessionState.newHadoopConf()
    val f = new Path(base).getFileSystem(conf)
    assert(org.apache.hadoop.fs.FileUtil.copy(f, new Path(base), f,
      new Path(moved), true, conf))
    assert(!f.exists(new Path(base)))
    val Some((_, sel, total)) =
      Versioned.prunedFilesAt(spark, moved, "t", 1L, "k", 110L, 130L)
    assert(total == 4 && sel.size == 1, s"selected ${sel.size} of $total")
    assert(collectSet(Versioned.readPruned(spark, moved, "t", "k", 110L, 130L))
      == collectSet(Versioned.read(spark, moved, "t")
        .filter(col("k") >= 110 && col("k") <= 130)))
  }

  test("a provably-empty range returns an empty frame with the table schema") {
    val base = mkBase()
    Versioned.publish(spark, base,
      Seq(TableSpec("t", rangedDf, statsCols = Seq("k"))))
    val empty = Versioned.readPruned(spark, base, "t", "k", 5000L, 6000L)
    assert(empty.columns.toSeq == Seq("k", "x", "s"))
    assert(empty.count() == 0)
    val Some((_, sel, _)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "k", 5000L, 6000L)
    assert(sel.isEmpty)
  }
}
