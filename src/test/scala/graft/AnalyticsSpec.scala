package graft

import org.apache.spark.sql.functions._
import graft.queries.Analytics

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("rollup emits nation, region-subtotal, and grand-total levels") {
    val rows = Analytics.q35Rollup(spark, sfDir).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    val regionSub = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    assert(regionSub.length == 5) // 5 regions
    val total = grand.head.getAs[Double]("revenue")
    val sumOfRegions = regionSub.map(_.getAs[Double]("revenue")).sum
    assert(math.abs(total - sumOfRegions) < 1e-6)
  }

  test("pivot columns partition the per-user event counts") {
    val df = Analytics.q36Pivot(spark, sfDir)
    val row = df.filter($"user_id" === 0L).head()
    val pivotSum = Seq("click", "error", "purchase", "signup", "view")
      .map(c => row.getAs[Long](c)).sum
    val direct = Tables(spark, sfDir, "events")
      .filter($"user_id" === 0L).count()
    assert(pivotSum == direct)
  }

  test("sketches: HLL within 5% of exact; median within price range") {
    Analytics.q37Sketches(spark, sfDir).collect().foreach { r =>
      val approx = r.getAs[Long]("approx_orders").toDouble
      val exact = r.getAs[Long]("exact_orders").toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"HLL error too large: $approx vs $exact")
      assert(r.getAs[Double]("approx_median_price") > 0)
    }
  }

  test("sketch median tracks the exact discrete median per group") {
    // q37a is the oracle-checked exact companion — the approx sketch
    // must land within 5% of the true order statistic, not just "be
    // positive" (rank error at accuracy=1000 is ≤ n/1000 rows)
    val exact = Analytics.q37aSketchExact(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("median_price")).toMap
    Analytics.q37Sketches(spark, sfDir).collect().foreach { r =>
      val m = exact(r.getString(0))
      val a = r.getAs[Double]("approx_median_price")
      assert(math.abs(a - m) / m < 0.05,
        s"approx median $a too far from exact $m for ${r.getString(0)}")
    }
  }

  test("range join assigns every January event to exactly one bucket") {
    val total = Analytics.q34RangeJoin(spark, sfDir)
      .agg(sum($"n_events")).head.getLong(0)
    val jan = Tables(spark, sfDir, "events")
      .filter($"ts" >= lit("2024-01-01").cast("timestamp") &&
        $"ts" < lit("2024-02-01").cast("timestamp")).count()
    assert(total == jan)
  }

  test("q70: source matching the corpus distribution drifts exactly zero") {
    def write(dir: String, rows: Seq[(Long, String, String, String, Long)]): Unit =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ab = Seq(
      (1L, "t", "en", "A", 50L), (2L, "t", "en", "A", 150L),
      (3L, "t", "en", "A", 250L),
      (4L, "t", "en", "B", 50L), (5L, "t", "en", "B", 150L),
      (6L, "t", "en", "B", 250L))

    // A and B have identical length histograms ⇒ each equals the
    // corpus distribution ⇒ TVD is EXACTLY 0.0 (the integer-rescaled
    // arithmetic cancels bit-for-bit, not approximately)
    val d1 = java.nio.file.Files.createTempDirectory("q70a").toString
    write(d1, ab)
    val even = Analytics.q70SourceDrift(spark, d1).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("tvd")).toMap
    assert(even == Map("A" -> 0.0, "B" -> 0.0), s"expected zero drift: $even")

    // C concentrated in one bucket drifts strictly positive; missing
    // (source, bucket) cells must materialize as 0 for A/B too
    val d2 = java.nio.file.Files.createTempDirectory("q70b").toString
    write(d2, ab ++ Seq(
      (7L, "t", "en", "C", 50L), (8L, "t", "en", "C", 50L),
      (9L, "t", "en", "C", 55L)))
    val skew = Analytics.q70SourceDrift(spark, d2).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("tvd")).toMap
    assert(skew("C") > skew("A") && skew("C") > 0.0)
    assert(skew.values.forall(t => t >= 0.0 && t <= 1.0))

    // real corpus: one row per source, all bounded
    val sf = Analytics.q70SourceDrift(spark, sfDir).collect()
    val srcs = Tables(spark, sfDir, "documents")
      .select("source").distinct().count()
    assert(sf.length == srcs)
    assert(sf.forall { r =>
      val t = r.getAs[Double]("tvd"); t >= 0.0 && t <= 1.0 })
  }

  test("q89: cuts, clamp counts and winsorized sum match a driver-side replay") {
    val data = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val expected = data.groupBy(_._1).map { case (g, xs) =>
      val sorted = xs.map(_._2).sorted
      val n = sorted.length
      // k-th smallest at k = ceil(n/20) and ceil(19n/20), 1-based
      val vLow = sorted((n + 19) / 20 - 1)
      val vHigh = sorted((19 * n + 19) / 20 - 1)
      val clamped = sorted.map(x => math.max(math.min(x, vHigh), vLow))
      val sum = clamped.map(BigDecimal.valueOf).sum.toDouble
      g -> ((n.toLong, vLow, vHigh,
        sorted.count(_ < vLow).toLong, sorted.count(_ > vHigh).toLong, sum))
    }
    val got = Analytics.q89Winsorize(spark, sfDir).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(got == expected, s"winsorize replay diverged:\n$got\n$expected")
    // the clamp conserves row count and clamps ~5% each side (± the
    // ceil granularity at small n)
    got.values.foreach { case (n, vLow, vHigh, nLo, nHi, _) =>
      assert(vLow <= vHigh)
      assert(nLo <= (n + 19) / 20 && nHi <= n - (19 * n + 19) / 20 + 1)
    }
  }

  test("q98: exact lower-median MAD gate, incl. the MAD=0 degenerate source") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mad").toString
    // A: lengths 10,10,10,10,100 → med 10 (rank 3 of 5), deviations
    // 0,0,0,0,90 → MAD 0 → ANY deviation flags (degenerate contract)
    // B: 5,6,7,8,9 → med 7, deviations sorted 0,1,1,2,2 → MAD 1,
    // outliers need ad > 3 → none
    // C: 1,2,3,4,100 → med 3, ads 2,1,0,1,97 → MAD 1, outlier: 97 only
    val rows =
      Seq(10, 10, 10, 10, 100).map(("A", _)) ++
      Seq(5, 6, 7, 8, 9).map(("B", _)) ++
      Seq(1, 2, 3, 4, 100).map(("C", _))
    rows.zipWithIndex
      .map { case ((s, len), i) => (i.toLong, "x" * len, s) }
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Analytics.q98MadGate(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      "A" -> ((5L, 10L, 0L, 1L)),
      "B" -> ((5L, 7L, 1L, 0L)),
      "C" -> ((5L, 3L, 1L, 1L))), s"got $got")
  }

  test("kmv_sketch aggregate: k smallest distinct, partition-invariant merge") {
    import graft.functions.KmvSketch
    val k = 8
    val values = Seq(50L, 10L, 30L, 10L, 20L, 90L, 40L, 30L, 70L, 60L,
      80L, 20L, 5L, 95L, 15L)
    val expected = values.distinct.sorted.take(k)
    // merge correctness: the result must not depend on how the input
    // is partitioned (1 partition = no merge; 7 = heavy merging)
    for (parts <- Seq(1, 3, 7)) {
      val got = values.toDF("hk").repartition(parts)
        .agg(KmvSketch.kmvSketch(col("hk"), k).as("mins"))
        .as[Seq[Long]].head()
      assert(got == expected, s"parts=$parts: $got != $expected")
    }
    // fewer distinct values than k → all of them, sorted
    val small = Seq(3L, 1L, 3L, 2L).toDF("hk")
      .agg(KmvSketch.kmvSketch(col("hk"), k).as("mins"))
      .as[Seq[Long]].head()
    assert(small == Seq(1L, 2L, 3L))
    // SQL registration reaches the same aggregate
    GraftSession.registerFunctions(spark)
    values.toDF("hk").createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql(s"SELECT kmv_sketch(hk, $k) FROM kmv_in")
      .as[Seq[Long]].head()
    assert(viaSql == expected)
  }

  test("q109: estimate within KMV error bounds; exact path for small sources") {
    val rows = Analytics.q109KmvDistinct(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, exact, est) =>
      assert(exact <= nDocs)
      if (exact < Analytics.KmvK)
        assert(est == exact.toDouble, s"$src: small source must be exact")
      else {
        // KMV standard error ≈ 1/√(k−2); 6σ ≈ 160% at k=16 — a loose
        // bound, but it catches a broken estimator (off by orders of
        // magnitude) without flaking on an unlucky hash draw
        val relErr = math.abs(est - exact) / exact
        assert(relErr < 1.6, s"$src: est $est vs exact $exact (err $relErr)")
      }
    }
    assert(rows.exists(_._3 >= Analytics.KmvK),
      "no source exercised the estimator path — k too large for fixture")
  }

  test("q112: rollup total is the merge of per-source sketches") {
    val rows = Analytics.q112KmvRollup(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val (all, per) = rows.partition(_._1 == "(all)")
    assert(all.length == 1 && per.nonEmpty)
    val total = all.head
    // conservation: totals are sums/merges of the per-source rows
    assert(total._2 == per.map(_._2).sum, "n_docs must sum")
    assert(total._3 <= per.map(_._3).sum,
      "corpus distinct cannot exceed the per-source sum")
    // the per-source slice must agree with q109 (same sketch, same
    // groups — the rollup adds the total level, changes nothing else)
    val q109 = Analytics.q109KmvDistinct(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(per.toSet == q109, "rollup per-source level diverged from q109")
    // the corpus total exercises the estimator against real duplication
    assert(total._3 >= Analytics.KmvK, "total should use the estimator path")
    assert(math.abs(total._4 - total._3) / total._3 < 1.6,
      s"total est ${total._4} vs exact ${total._3}")
  }

  test("q118: overlap algebra — exact branch exact, disjoint zero, estimator ≡ driver replay") {
    // first 8 md5 hex chars as a long — the engine-neutral hash the
    // whole KMV family keys on, replicated independently here
    def md5hk(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map(x => f"$x%02x").mkString, 16)
    }
    val shared = (0 until 20).map(i => s"shared document body number $i")
    val lOnly = (0 until 20).map(i => s"l-only document body number $i")
    val mOnly = (0 until 20).map(i => s"m-only document body number $i")
    val xTexts = (0 until 6).map(i => s"x equal-set doc $i")
    val zTexts = (0 until 6).map(i => s"z disjoint doc $i")
    def rows(src: String, texts: Seq[String], base: Long) =
      texts.zipWithIndex.map { case (t, i) =>
        (base + i, t, "en", src, t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("q118").toString
    (rows("L", shared ++ lOnly, 1000L) ++ rows("M", shared ++ mOnly, 2000L) ++
      rows("X", xTexts, 3000L) ++ rows("W", xTexts, 4000L) ++
      rows("Z", zTexts, 5000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Analytics.q118KmvOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 10, "5 sources must yield C(5,2) pairs")
    // W ≡ X (identical 6-text sets): the union sketch is not full, so
    // every column is EXACT — not approximately, bit-for-bit
    val wx = out(("W", "X"))
    assert(wx.getLong(2) == 6 && wx.getLong(3) == 6)
    assert(wx.getDouble(4) == 6.0 && wx.getDouble(5) == 1.0 &&
      wx.getDouble(6) == 6.0)
    // X ∩ Z = ∅: zero overlap through the same exact branch
    val xz = out(("X", "Z"))
    assert(xz.getLong(2) == 0 && xz.getLong(3) == 12)
    assert(xz.getDouble(5) == 0.0 && xz.getDouble(6) == 0.0)
    // L vs M (40 distinct each, 20 shared ⇒ union 60 > k): the
    // estimator branch, replayed driver-side from the raw hashes —
    // sketches, union bottom-k, and all three estimates must agree
    // EXACTLY (same single-division arithmetic)
    val skL = (shared ++ lOnly).map(md5hk).distinct.sorted.take(16)
    val skM = (shared ++ mOnly).map(md5hk).distinct.sorted.take(16)
    val u = (skL ++ skM).distinct.sorted.take(16)
    val common = u.count(h => skL.contains(h) && skM.contains(h))
    val lm = out(("L", "M"))
    assert(lm.getLong(3) == 16, "union sketch must be full")
    assert(lm.getLong(2) == common.toLong, "common_k diverged from replay")
    assert(lm.getDouble(4) == 64424509440.0 / u(15).toDouble)
    assert(lm.getDouble(5) == common.toDouble / 16.0)
    assert(lm.getDouble(6) ==
      (common * 64424509440L).toDouble / (16L * u(15)).toDouble)
    // and the estimate is in the right decade (true union = 60)
    assert(lm.getDouble(4) > 15 && lm.getDouble(4) < 600,
      s"union_est ${lm.getDouble(4)} implausible for a 60-element union")
  }

  test("q120: incremental sketch merge ≡ from-scratch; reads sketches+delta only") {
    val base = graft.queries.Dedup.versionedCorpus(spark, sfDir)
    Analytics.kmvAt(spark, base, 1L) // v1 first, as q120 does
    val incr = Analytics.kmvAt(spark, base, 2L)
    val full = Analytics.kmvSketchOf(
      graft.sources.Versioned.readAt(spark, base, "documents", 2L))
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(snap(incr) == snap(full),
      "incremental bottom-k merge diverged from the from-scratch sketches")
    // file-exact: the maintenance frame reads the previous sketch
    // artifact and the change table only — never the corpus
    val frame = Analytics.incrementalKmvFrame(spark, base, 2L)
    val prevArt = Analytics.kmvArtifact(base, 1L)
    val stray = frame.inputFiles.filterNot(f =>
      f.contains(prevArt) || changeTableFile("documents_delta", 2L)(f))
    assert(frame.inputFiles.nonEmpty && stray.isEmpty,
      s"kmv maintenance reads beyond sketches+delta: " +
        s"${stray.take(3).mkString(", ")}")
    assert(!frame.inputFiles.exists((f => f.contains("/documents/") || f.contains("_data/documents-"))),
      "kmv maintenance re-scans the corpus")
  }

  test("q120 merge law: new sources appear, untouched sources carry through exactly") {
    import graft.sources.Versioned
    val base = java.nio.file.Files
      .createTempDirectory("graft-kmvchain").toString + "/lake"
    def df(rows: (String, String)*) = rows.toDF("text", "source")
    val v1 = df(("alpha one", "S1"), ("alpha two", "S1"), ("beta one", "S2"))
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", v1),
      Versioned.TableSpec("documents_delta", v1)))
    Analytics.kmvAt(spark, base, 1L)
    val delta = df(("gamma fresh", "S3"), ("alpha three", "S1"))
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", v1.unionByName(delta)),
      Versioned.TableSpec("documents_delta", delta)))
    val got = Analytics.kmvAt(spark, base, 2L).collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    // brand-new source from the delta exists (the full-outer branch)
    assert(got.contains("S3") && got("S3")._2 == 1L)
    // untouched source carries through bit-identically
    val v1Sk = Analytics.kmvSketchOf(v1).collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(got("S2") == v1Sk("S2"), "untouched source must carry through")
    // grown source = merge of its v1 sketch with its delta sketch
    val fromScratch = Analytics.kmvSketchOf(v1.unionByName(delta)).collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(got == fromScratch, "chain diverged from from-scratch")
  }

  test("q127: CMS tombstone subtract ≡ rebuild over survivors; reads sketch+tombstones only") {
    import graft.queries.TextOps
    import graft.sources.Versioned
    val base = TextOps.versionedCorpusWithRemoval(spark, sfDir)
    Analytics.cmsAt(spark, base, 1L)
    Analytics.cmsAt(spark, base, 2L)
    import spark.implicits._
    val sub = Analytics.cmsAt(spark, base, 3L).as[Seq[Long]].head()
    // value identity with the from-scratch sketch of the survivors —
    // removal through the chain ≡ never ingested
    val survivors = Versioned.readAt(spark, base, "documents", 3L)
    val rebuilt = Analytics.cmsOf(survivors).as[Seq[Long]].head()
    assert(sub == rebuilt, "subtract diverged from rebuild-over-survivors")
    // the removal contract held: no counter went negative (a tombstone
    // for a never-ingested doc would show up here)
    assert(sub.forall(_ >= 0L), "negative counter — tombstone not ingested?")
    assert(sub.sum > 0, "fixture vacuous — empty sketch")
    // file-exact: the subtract branch reads the previous sketch
    // artifact and the tombstone table only — never the corpus
    val frame = Analytics.incrementalCmsFrame(spark, base, 3L)
    val prevArt = Analytics.cmsArtifact(base, 2L)
    val stray = frame.inputFiles.filterNot(f =>
      f.contains(prevArt) || changeTableFile("documents_removed", 3L)(f))
    assert(frame.inputFiles.nonEmpty && stray.isEmpty,
      s"cms subtract reads beyond sketch+tombstones: " +
        s"${stray.take(3).mkString(", ")}")
    // a tombstone table WITHOUT text still forces the loud rebuild —
    // the guard that can never silently over-count
    val idOnly = java.nio.file.Files
      .createTempDirectory("graft-cms-idrm").toString + "/lake"
    val docs = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    Versioned.publish(spark, idOnly, Seq(
      Versioned.TableSpec("documents", docs),
      Versioned.TableSpec("documents_delta", docs)))
    Analytics.cmsAt(spark, idOnly, 1L)
    Versioned.publish(spark, idOnly, Seq(
      Versioned.TableSpec("documents", docs.filter($"doc_id" =!= 2L)),
      Versioned.TableSpec("documents_removed", Seq(2L).toDF("doc_id"))))
    val fb = Analytics.incrementalCmsFrame(spark, idOnly, 2L)
    assert(fb.inputFiles.exists(f =>
      f.contains("/documents/") || f.contains("_data/documents-")),
      "id-only tombstones must fall back to the corpus rebuild")
    assert(Analytics.cmsAt(spark, idOnly, 2L).as[Seq[Long]].head() ==
      Analytics.cmsOf(docs.filter($"doc_id" =!= 2L)).as[Seq[Long]].head())
  }

  test("q125: drift estimates respect chain monotonicity and the CM guarantee") {
    val rows = Analytics.q125VersionDrift(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == 10)
    rows.foreach { case (tok, exact, e1, e2, d) =>
      // elementwise-add maintenance ⇒ every counter is monotone ⇒ so
      // is the MIN-over-rows estimate
      assert(e2 >= e1, s"$tok: est_v2 $e2 < est_v1 $e1 breaks monotonicity")
      // CM one-sided guarantee on the full-corpus sketch
      assert(e2 >= exact, s"$tok: est_v2 $e2 under-counts exact $exact")
      assert(d == e2 - e1 && d >= 0)
    }
    // the ingest added tokens, so SOME heavy token must show growth
    assert(rows.exists(_._5 > 0), "no token grew across the ingest")
  }

  test("cms_sketch aggregate: counters are bucket counts, partition-invariant merge") {
    import graft.functions.CmsSketch
    val depth = 2
    val width = 4
    // hand-laid bucket arrays: row 0 sees buckets (0,0,1,3,3), row 1
    // sees (1,2,2,2,0) — the counter matrix is just their histograms
    val in = Seq(
      Seq(0L, 1L), Seq(0L, 2L), Seq(1L, 2L), Seq(3L, 2L), Seq(3L, 0L))
    val expected = Seq(
      2L, 1L, 0L, 2L, // row 0: bucket counts of (0,0,1,3,3)
      1L, 1L, 3L, 0L) // row 1: bucket counts of (1,2,2,2,0)
    for (parts <- Seq(1, 3, 7)) {
      val got = in.toDF("bkts").repartition(parts)
        .agg(CmsSketch.cmsSketch(col("bkts"), depth, width).as("cms"))
        .as[Seq[Long]].head()
      assert(got == expected, s"parts=$parts: $got != $expected")
    }
    // SQL registration reaches the same aggregate
    GraftSession.registerFunctions(spark)
    in.toDF("bkts").createOrReplaceTempView("cms_in")
    val viaSql = spark.sql(s"SELECT cms_sketch(bkts, $depth, $width) FROM cms_in")
      .as[Seq[Long]].head()
    assert(viaSql == expected)
  }

  test("q116: sketch estimates dominate exact counts and total mass is conserved") {
    val rows = Analytics.q116CmsTopk(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 10)
    // deterministic order: exact desc, token asc
    assert(rows.sortBy(t => (-t._2, t._1)).toSeq == rows.toSeq)
    val total = rows.head._4
    rows.foreach { case (tok, exact, est, tot) =>
      assert(tot == total)
      // the CM one-sided guarantee: collisions only ever over-count
      assert(est >= exact, s"$tok: est $est < exact $exact")
      // and an estimate can never exceed the stream length
      assert(est <= total, s"$tok: est $est > stream length $total")
    }
    // heavy hitters over a real vocabulary: with width 512 and ~1e4+
    // token occurrences the min-row for the TOP tokens is rarely
    // collision-free, but the estimate must stay within the additive
    // eN/width CM bound with huge margin (factor 8 here — a broken
    // bucket computation blows straight past it)
    rows.foreach { case (tok, exact, est, tot) =>
      assert(est - exact <= 8L * tot / Analytics.CmsWidth,
        s"$tok: overcount ${est - exact} beyond the CM bound")
    }
  }

  test("q117: incremental sketch add equals the from-scratch build, delta bytes only") {
    import graft.queries.Dedup
    val base = Dedup.versionedCorpus(spark, sfDir)
    // value-identity of the CHAIN: v2's incrementally-maintained matrix
    // is elementwise-equal to a from-scratch sketch of the full corpus
    Analytics.cmsAt(spark, base, 1L)
    val incr = Analytics.cmsAt(spark, base, 2L).as[Seq[Long]].head()
    val full = Analytics.cmsOf(Tables(spark, sfDir, "documents"))
      .as[Seq[Long]].head()
    assert(incr == full, "incremental chain diverged from the full build")
    // total mass conservation per row: every depth row sums to the
    // token-stream length
    val n = Tables(spark, sfDir, "documents")
      .select(explode(split(col("text"), "\\s+"))).count()
    (0 until Analytics.CmsDepth).foreach { r =>
      val row = incr.slice(r * Analytics.CmsWidth, (r + 1) * Analytics.CmsWidth)
      assert(row.sum == n, s"row $r mass ${row.sum} != stream length $n")
    }
    // ... and the merge branch was really taken: v1's artifact existed
    // before v2's frame was built
    assert(graft.sources.ArtifactStore
      .readIfPresent(spark, Analytics.cmsArtifact(base, 1L)).nonEmpty)
    // file-exact: the maintenance frame reads ONLY the previous
    // artifact and the v2 change table — never v2's corpus
    val files = Analytics.incrementalCmsFrame(spark, base, 2L).inputFiles
    val prevArt = Analytics.cmsArtifact(base, 1L)
    assert(files.nonEmpty)
    val stray = files.filterNot(f =>
      f.contains(prevArt) || changeTableFile("documents_delta", 2L)(f))
    assert(stray.isEmpty, s"incremental path reads beyond sketch+delta: " +
      s"${stray.take(3).mkString(", ")}")
    assert(!files.exists((f => f.contains("/documents/") || f.contains("_data/documents-"))),
      "incremental path re-scans the corpus")
  }

  test("custom functions are SQL-registered") {
    GraftSession.registerFunctions(spark)
    val row = spark.sql(
      """SELECT simhash64(array('a','b','c')) AS h,
        |  dot_long(vector_quantize(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT))),
        |           vector_quantize(array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT)))) AS d
        |""".stripMargin).head()
    assert(row.getLong(1) == 4L * 1000000000000L) // 1.5*2 + 2*0.5 = 4.0 at scale 12
    assert(row.getLong(0) != 0L)
  }
}
