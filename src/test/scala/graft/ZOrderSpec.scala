package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Versioned
import graft.sources.Versioned.TableSpec

/** Z-order compaction: the multi-dimension clustering must (a) change
  * no value, (b) let zone maps prune probes on EITHER dimension —
  * including the one a lexicographic sort abandons — and (c) prune a
  * 2-D rectangle multiplicatively. Every pruning claim is paired with
  * a value-identity claim against the unpruned filter. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def mkBase() =
    Files.createTempDirectory("graft-zorder").toString + "/lake"

  /** A 32×32 grid in shuffled (hash) row order — no accidental
    * clustering for either layout to inherit. */
  private def grid = spark.range(0, 1024)
    .select((col("id") % 32).as("x"),
      (col("id") / 32).cast("long").as("y"),
      col("id").as("payload"))
    .repartition(8) // round-robin: writer-arrival order

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("zorderPublish is value-identical and prunes BOTH dimensions") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", grid)))
    Versioned.zorderPublish(spark, base, "t", Seq("x", "y"),
      files = 16, bits = 5)
    assert(collectSet(Versioned.read(spark, base, "t"))
      == collectSet(grid))

    // probe each dimension alone: both must prune (select < half)
    for (c <- Seq("x", "y")) {
      val Some((_, sel, total)) =
        Versioned.prunedFilesAt(spark, base, "t", 2L, c, 4L, 7L)
      assert(total == 16 && sel.size <= 10, // ≤ half + boundary slack
        s"$c-probe selected ${sel.size} of $total")
      assert(collectSet(Versioned.readPruned(spark, base, "t", c, 4L, 7L))
        == collectSet(Versioned.read(spark, base, "t")
          .filter(col(c).between(4, 7))))
    }
  }

  test("zorderPublish prunes a heavy-tailed column by its quantiles") {
    // the bulk of `a` lives in [0, 1000) but a 1e12 outlier every
    // 10,000 rows stretches its min/max a billion-fold; equi-depth
    // boundaries follow the quantiles, which the outliers barely move,
    // so a 1% slice of the bulk still lands in a few curve cells
    val n = 100000L
    val skewed = spark.range(n).select(
      when(col("id") % 10000 === 0, lit(1.0e12))
        .otherwise((col("id") % 1000).cast("double")).as("a"),
      ((col("id") * 7919) % 10000).cast("double").as("b"))
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", skewed)))
    Versioned.zorderPublish(spark, base, "t", Seq("a", "b"), files = 32)
    // a ∈ [100, 110): the pruned read's bounds are inclusive
    val (lo, hi) = (100.0, Math.nextDown(110.0))
    val Some((_, sel, total)) =
      Versioned.prunedFilesAt(spark, base, "t", 2L, "a", lo, hi)
    assert(total > 1 && sel.size * 2 <= total,
      s"a-probe selected ${sel.size} of $total files")
    val pruned = Versioned.readPruned(spark, base, "t", "a", lo, hi)
    val plain = skewed.filter(col("a") >= 100 && col("a") < 110)
    assert(pruned.count() == plain.count())
    assert(collectSet(pruned) == collectSet(plain))
  }

  test("zorderPublish of an empty table refuses loudly and commits nothing") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", grid.limit(0))))
    val e = intercept[IllegalArgumentException] {
      Versioned.zorderPublish(spark, base, "t", Seq("x", "y"), files = 4)
    }
    assert(e.getMessage.contains("no non-null values"), e.getMessage)
    assert(Versioned.currentVersion(spark, base).contains(1L))
    assert(Versioned.read(spark, base, "t").count() == 0)
  }

  test("a lexicographic sort cannot prune its second column; z-order can") {
    val lex = mkBase(); val zed = mkBase()
    Versioned.publish(spark, lex, Seq(TableSpec("t", grid)))
    Versioned.publish(spark, zed, Seq(TableSpec("t", grid)))
    Versioned.compactPublish(spark, lex, "t", Seq("x", "y"), files = 16)
    Versioned.zorderPublish(spark, zed, "t", Seq("x", "y"),
      files = 16, bits = 5)

    val Some((_, selLex, _)) =
      Versioned.prunedFilesAt(spark, lex, "t", 2L, "y", 4L, 7L)
    val Some((_, selZ, _)) =
      Versioned.prunedFilesAt(spark, zed, "t", 2L, "y", 4L, 7L)
    assert(selLex.size == 16,
      s"every x-sorted file spans all y — expected 16, got ${selLex.size}")
    assert(selZ.size < selLex.size,
      s"z-order must beat lexicographic on the second column " +
        s"(${selZ.size} vs ${selLex.size})")
    // identical answers from both layouts
    assert(collectSet(Versioned.readPruned(spark, lex, "t", "y", 4L, 7L))
      == collectSet(Versioned.readPruned(spark, zed, "t", "y", 4L, 7L)))
  }

  test("a 2-D rectangle prunes multiplicatively and matches the filter") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", grid)))
    Versioned.zorderPublish(spark, base, "t", Seq("x", "y"),
      files = 16, bits = 5)
    val ranges = Seq(("x", 4L: Any, 7L: Any), ("y", 4L: Any, 7L: Any))
    val sel = Versioned.prunedSelectionAt(spark, base, "t", 2L, "x", 4L, 7L)
    val rect = Versioned.readPrunedMulti(spark, base, "t", ranges)
    val expect = Versioned.read(spark, base, "t")
      .filter(col("x").between(4, 7) && col("y").between(4, 7))
    assert(collectSet(rect) == collectSet(expect))
    assert(rect.count() == 16) // the 4×4 block, payload-distinct rows
    // the rectangle's file selection is no larger than either single
    // dimension's (conjunction can only shrink)
    val Some((_, selX, _)) =
      Versioned.prunedFilesAt(spark, base, "t", 2L, "x", 4L, 7L)
    val Some((_, selY, _)) =
      Versioned.prunedFilesAt(spark, base, "t", 2L, "y", 4L, 7L)
    val rectSel = graft.sources.ZoneMaps.selectFilesMulti(
      graft.sources.ZoneMaps.readSidecar(spark, sel.head._1).get, ranges).get
    assert(rectSel.toSet.subsetOf(selX.toSet))
    assert(rectSel.toSet.subsetOf(selY.toSet))
    assert(rectSel.size <= math.min(selX.size, selY.size))
  }

  test("nulls cluster at the curve origin and never match a range") {
    val base = mkBase()
    val withNulls = spark.range(0, 300)
      .select(when(col("id") < 50, lit(null)).otherwise(col("id") % 20)
        .cast("long").as("x"), (col("id") / 20).cast("long").as("y"))
    Versioned.publish(spark, base, Seq(TableSpec("t", withNulls)))
    Versioned.zorderPublish(spark, base, "t", Seq("x", "y"),
      files = 4, bits = 4)
    val t = Versioned.read(spark, base, "t")
    assert(t.filter(col("x").isNull).count() == 50)
    assert(collectSet(Versioned.readPruned(spark, base, "t", "x", 5L, 9L))
      == collectSet(t.filter(col("x").between(5, 9))))
  }

  test("zorderTail clusters only the appended tail onto the persisted curve") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", grid)))
    Versioned.zorderPublish(spark, base, "t", Seq("x", "y"),
      files = 16, bits = 5)
    // two small appends land unclustered (bytes ∝ delta)
    val d1 = spark.range(1024, 1200).select((col("id") % 32).as("x"),
      ((col("id") / 32) % 32).cast("long").as("y"), col("id").as("payload"))
    val d2 = spark.range(1200, 1400).select((col("id") % 32).as("x"),
      ((col("id") / 32) % 32).cast("long").as("y"), col("id").as("payload"))
    Versioned.appendPublish(spark, base, "t", d1)
    Versioned.appendPublish(spark, base, "t", d2)
    val before = collectSet(Versioned.read(spark, base, "t"))
    val baseFiles = Versioned.tableFiles(spark, base, "t", 4L)
      .filter(_.contains("/t-00000002/")).toSet
    assert(baseFiles.nonEmpty)

    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(
      s"$base/_data/t-00000002")).getLength
    val v = Versioned.zorderTailPublish(spark, base, "t", files = 4,
      smallBytes = baseBytes)
    assert(v == 5L)
    // value identity; the z-ordered base's files never move
    assert(collectSet(Versioned.read(spark, base, "t")) == before)
    val after = Versioned.tableFiles(spark, base, "t", v)
    assert(baseFiles.subsetOf(after.toSet), "z-ordered base was rewritten")
    // the merged tail serves from ONE new dir...
    val dirs = after.map(p => p.substring(0, p.lastIndexOf('/'))).distinct
    assert(dirs.size == 2, s"expected base + one clustered tail dir: $dirs")
    // ...whose files prune on BOTH dimensions (same curve as the base):
    // a y-probe must skip tail files even though appends arrived
    // y-ordered-ish; check via the pruned read's value identity plus a
    // strictly-smaller multi-dim selection on the tail's own sidecar
    // tail y-values span 0..11, so probe the upper half of that range
    val tailDir = dirs.find(!_.contains("/t-00000002")).get
    val st = graft.sources.ZoneMaps.readSidecar(spark, tailDir).get
    val selY = graft.sources.ZoneMaps.selectFiles(st, "y", 8L, 11L).get
    assert(st.size == 4 && selY.size < 4,
      s"tail files must carry pruning y-bounds: ${selY.size} of ${st.size}")
    assert(collectSet(Versioned.readPruned(spark, base, "t", "y", 8L, 11L))
      == before.filter(_(1).asInstanceOf[Long] >= 8L)
        .filter(_(1).asInstanceOf[Long] <= 11L))
    // a second maintenance pass finds its curve on the TAIL dir too
    Versioned.appendPublish(spark, base, "t",
      spark.range(1400, 1450).select((col("id") % 32).as("x"),
        ((col("id") / 32) % 32).cast("long").as("y"), col("id").as("payload")))
    val v2 = Versioned.zorderTailPublish(spark, base, "t", files = 2,
      smallBytes = baseBytes)
    assert(v2 == 7L)
    assert(Versioned.read(spark, base, "t").count() == 1450)

    // IDEMPOTENT: a maintenance tick with nothing new to do must be a
    // no-op — the tail is exactly the previous pass's (curve-carrying)
    // output, and re-clustering it would commit a spurious version per
    // tick, advancing GC over real time-travel history
    val v3 = Versioned.zorderTailPublish(spark, base, "t", files = 2,
      smallBytes = baseBytes)
    assert(v3 == v2, s"no-op maintenance must not publish: $v2 -> $v3")
    assert(Versioned.currentVersion(spark, base).contains(v2))
  }

  test("zcol refuses interleaves wider than a long; all-null columns refuse a curve") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.ZOrder.zcol(
        (1 to 9).map(i => s"c$i"),
        (1 to 9).map(i => s"c$i" -> Array(0.5)).toMap, 8)
    }
    assert(e.getMessage.contains("64"), e.getMessage)
    // an all-null column has no quantiles: the curve must refuse at
    // WRITE time (a boundary-less persisted line would be unreadable)
    val df = spark.range(10).select(col("id").cast("double").as("x"),
      org.apache.spark.sql.functions.lit(null).cast("double").as("y"))
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.ZOrder.boundaries(df, Seq("x", "y"), 4)
    }
    assert(e2.getMessage.contains("no non-null values"), e2.getMessage)
  }

  test("zorderTail without an established curve fails loudly") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", grid)))
    Versioned.appendPublish(spark, base, "t",
      spark.range(1024, 1100).select((col("id") % 32).as("x"),
        ((col("id") / 32) % 32).cast("long").as("y"), col("id").as("payload")))
    val e = intercept[RuntimeException] {
      Versioned.zorderTailPublish(spark, base, "t")
    }
    assert(e.getMessage.contains("zorderPublish"), e.getMessage)
    assert(Versioned.currentVersion(spark, base).contains(2L),
      "a failed maintenance pass must not commit")
  }

  test("zorder refuses one column and a missing table") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", grid)))
    intercept[IllegalArgumentException] {
      Versioned.zorderPublish(spark, base, "t", Seq("x"), files = 4)
    }
    intercept[Exception] {
      Versioned.zorderPublish(spark, base, "nope", Seq("x", "y"), files = 4)
    }
    assert(Versioned.currentVersion(spark, base).contains(1L))
  }
}
