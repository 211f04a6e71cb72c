package graft.probe

import java.nio.file.Files

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Probe, SparkEntry, Tables}
import graft.Probe.{Cell, Ctx}
import graft.obs.Meter
import graft.queries.{Dedup, TextOps}
import graft.sources.{StatsWrite, Versioned, ZoneMaps}
import graft.sources.Versioned.TableSpec
import graft.streaming.{StreamingLakeAppend, StreamingLakeTakedown}

/** Cells over the lake, its artifacts and its write path. Each prints
  * one JSON line; a measured phase is a `label: {secs, input_mb,
  * shuffle_write_mb, output_mb, tasks, …}` fragment. `tasks` is the
  * scheduling-cost axis: for a scan it is ∝ the files the planner
  * actually handed out — the number zone-map pruning cuts even when
  * parquet's own row-group pushdown already bounds the bytes. Run on
  * an otherwise-idle box. */
object LakeCells {

  val cells: Seq[Cell] = Seq(
    Cell("incr", "", Probe.Adaptive, incr),
    // broadcast disabled: the 100 TB posture, where the index does not
    // fit in one executor
    Cell("bucket", "", Probe.Adaptive, bucket,
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Cell("zone", "", Probe.Adaptive, zone),
    Cell("mor", "", Probe.Adaptive, mor),
    Cell("zorder", "", Probe.Adaptive, zorder),
    Cell("tail-compact", "", Probe.Adaptive, tailCompact),
    Cell("lake", "", Probe.Adaptive, lake),
    Cell("manifest", "", Probe.Plain, manifest),
    Cell("stream-lake", "", Probe.Plain, streamLake),
    Cell("stats-write", "", Probe.Plain, statsWrite))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString
  private def dirBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f == null || !f.exists()) 0L
      else if (f.isDirectory) f.listFiles().map(walk).sum
      else f.length()
    walk(new java.io.File(p))
  }
  private def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }
  /** (rows, Σ l_orderkey): the value identity the lineitem cells pin. */
  private def keyDigest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("l_orderkey"))).head()
    (r.getLong(0), r.getLong(1))
  }
  /** A measured read of `base`'s lineitem and its (rows, Σ l_quantity)
    * at decimal precision. */
  private def read(c: Ctx, label: String, base: String) =
    c.measured(label) {
      val r = Versioned.read(c.spark, base, "lineitem").agg(count(lit(1)),
        sum(col("l_quantity").cast("decimal(28,2)")).cast("double")).head()
      (r.getLong(0), r.getDouble(1))
    }

  /** Marginal-cost evidence for the incremental index chains
    * (q113/q114/q115): measures ONE version bump's maintenance —
    * `merge(index(v−1), derive(delta))` — against the from-scratch
    * rebuild of the same version, on whatever corpus
    * `SPARK_GRAFT_SF_DIR` points at (pair with [[graft.SynthCorpus]]
    * for beyond-sf0.1 scale). The v2 window-index artifact is deleted
    * first so the maintenance step itself is timed, not a cache read;
    * the chain origin (v1) is kept, exactly the state a daily ingest is
    * in when a new version lands. */
  private def incr(c: Ctx): Unit = {
    val spark = c.spark
    val base = Dedup.versionedCorpus(spark, c.sfDir)
    Dedup.windowIndexAt(spark, base, 1L) // chain origin stays cached
    // maintenance step in isolation: v2 artifact absent, v1 present —
    // the daily-ingest state; windowIndexAt publishes the merge
    delete(spark, Dedup.windowIndexArtifact(base, 2L))
    val incr = c.measure("incremental_maintenance") {
      Dedup.windowIndexAt(spark, base, 2L).count()
    }
    // comparator: the same artifact from scratch (prior chain deleted
    // so the fallback branch runs — the pre-r14 economics)
    delete(spark, Dedup.windowIndexArtifact(base, 2L))
    delete(spark, Dedup.windowIndexArtifact(base, 1L))
    val full = c.measure("full_rebuild") {
      Dedup.windowIndexAt(spark, base, 2L).count()
    }
    // restore the chain for whoever runs next
    Dedup.windowIndexAt(spark, base, 1L)

    // the CLUSTER chain (r14): same daily-ingest framing. The
    // incremental step is star-contraction + a delta-restricted band
    // probe; the comparator is the fallback full build — whole-corpus
    // band self-join + closure. Both read the same signature index
    // artifact, so the measured difference is exactly the maintenance
    // law's value, not I/O noise.
    Dedup.signatureIndexAt(spark, base, 1L)
    Dedup.signatureIndexAt(spark, base, 2L)
    Dedup.clusterAssignmentAt(spark, base, 1L)
    delete(spark, Dedup.clusterArtifact(base, 2L))
    val ccIncr = c.measure("cc_incremental") {
      Dedup.clusterAssignmentAt(spark, base, 2L).count()
    }
    delete(spark, Dedup.clusterArtifact(base, 2L))
    delete(spark, Dedup.clusterArtifact(base, 1L))
    val ccFull = c.measure("cc_full_rebuild") {
      Dedup.clusterAssignmentAt(spark, base, 2L).count()
    }
    Dedup.clusterAssignmentAt(spark, base, 1L) // restore
    c.emit("sf" -> c.sfDir, "cpus" -> c.cpus, incr, full, ccIncr, ccFull)
  }

  /** Measured evidence for the bucketed index artifacts: the SAME
    * published window-index files are probed twice by the q107 delta
    * scorer — once read through the catalog table that declares the
    * bucket layout, once read as plain parquet — so the only variable
    * is whether the engine KNOWS the layout. The declared layout should
    * delete the index side's exchange, i.e. the shuffle-write bytes
    * drop by roughly the index's keyed size while input bytes stay
    * equal. */
  private def bucket(c: Ctx): Unit = {
    val spark = c.spark
    // the delta batch q107 scores, and the published bucketed artifact
    val batch = Tables(spark, c.sfDir, "documents")
      .filter(TextOps.uniformKeyOf(col("doc_id")) < Dedup.DeltaFracLit)
      .localCheckpoint() // identical input to both postures, built once
    val bucketed = Dedup.windowIndex(spark, c.sfDir) // ensures it exists
    // the same files, layout undeclared: plain parquet read
    val plainIdx =
      Tables.readParquetCached(spark, Dedup.windowIndexPath(spark, c.sfDir))
    // materialize through sum(dup_windows): a bare count() lets the
    // optimizer ELIMINATE the probe join entirely (left join with a
    // unique-keyed aggregate side, no columns consumed)
    def probe(idx: DataFrame): Unit =
      Dedup.massAgainstWindowIndex(batch, idx).agg(sum(col("dup_windows"))).collect()
    // warm both paths first (JIT, page cache, codegen) so the measured
    // pair differs only in the declared layout
    probe(bucketed); probe(plainIdx)
    c.emit("sf" -> c.sfDir, "cpus" -> c.cpus,
      c.measure("probe_bucketed")(probe(bucketed)),
      c.measure("probe_plain")(probe(plainIdx)))
  }

  /** Zone-map pruning, measured: bytes actually read for q134's range
    * probe (~10% of the key space) under three postures on the SAME
    * lake —
    *   1. full scan + filter at the compacted version (no pruning),
    *   2. pruned read at v1 (writer layout: interleaved key ranges, so
    *      stats can barely prune),
    *   3. pruned read at v2 (compacted on the key: disjoint per-file
    *      ranges, so the manifest skips all but the matching files).
    * The claim under test: pruned input bytes ∝ selectivity once the
    * layout is sorted, while the ANSWER is identical in all three
    * postures (asserted here, not just in the spec). */
  private def zone(c: Ctx): Unit = {
    val spark = c.spark
    val base = graft.queries.Relational.zonemapLake(spark, c.sfDir)
    val maxK = Versioned.read(spark, base, "lineitem")
      .agg(max(col("l_orderkey"))).head().getLong(0)
    val (lo, hi) = (maxK * 2 / 10, maxK * 3 / 10)
    val pred = col("l_orderkey") >= lo && col("l_orderkey") <= hi
    // selection evidence straight from the manifest layer
    val Some((_, selV1, totV1)) =
      Versioned.prunedFilesAt(spark, base, "lineitem", 1L, "l_orderkey", lo, hi)
    val Some((_, selV2, totV2)) =
      Versioned.prunedFilesAt(spark, base, "lineitem", 2L, "l_orderkey", lo, hi)
    def probe(label: String, df: => DataFrame) = c.measured(label)(keyDigest(df))
    val (full1, fullV1) = probe("full_scan_filter_v1",
      Versioned.readAt(spark, base, "lineitem", 1L).filter(pred))
    val (full2, fullV2) = probe("full_scan_filter_v2",
      Versioned.readAt(spark, base, "lineitem", 2L).filter(pred))
    val (pruned1, prunedV1) = probe("pruned_v1_writer_layout",
      Versioned.readPrunedAt(spark, base, "lineitem", 1L, "l_orderkey", lo, hi))
    val (pruned2, prunedV2) = probe("pruned_v2_compacted",
      Versioned.readPrunedAt(spark, base, "lineitem", 2L, "l_orderkey", lo, hi))
    require(fullV1 == fullV2 && fullV1 == prunedV1 && fullV1 == prunedV2,
      s"value identity broken: fullV1=$fullV1 fullV2=$fullV2 " +
        s"v1=$prunedV1 v2=$prunedV2")
    c.emit("sf" -> c.sfDir, "range" -> Seq(lo, hi),
      "files_v1" -> Seq(selV1.size, totV1), "files_v2" -> Seq(selV2.size, totV2),
      full1, full2, pruned1, pruned2)
  }

  /** Merge-on-read write amplification, measured: the SAME ~1% upsert
    * delta lands in twin sf lakes, once copy-on-write
    * ([[Versioned.mergePublish]] default) and once merge-on-read
    * (`rewrite = false`), then a ~1% tombstone removal and a compaction
    * land on the MOR lake. Claims under test:
    *   1. COW write bytes ≈ the whole table; MOR write bytes ≈ the
    *      delta — the ratio is the table/delta ratio, which at 100 TB
    *      is the difference between a feasible daily merge and not.
    *   2. The MOR read-path debt is real but bounded: reading through
    *      the 2-entry chain + tombstone costs measurably more tasks than
    *      the COW read, and compaction retires it (post-compaction read
    *      ≡ COW read shape).
    *   3. Value identity everywhere: COW and MOR serve bit-identical
    *      digests after the merge, and compaction changes nothing. */
  private def mor(c: Ctx): Unit = {
    val spark = c.spark
    val scratch = tmp("graft-scalemor")
    val cow = s"$scratch/cow"; val mor = s"$scratch/mor"
    val lineitem = Tables(spark, c.sfDir, "lineitem")
    // ~1% of orders' lineitems, amounts bumped — a plausible daily
    // correction batch; key = (orderkey, linenumber). The synthetic
    // corpus repeats line numbers within an order, so the delta is
    // deduped to one row per key (MERGE requires unique source keys);
    // both postures then replace each matched GROUP with that one row
    // — same semantics, compared below by digest.
    val keys = Seq("l_orderkey", "l_linenumber")
    val delta = lineitem.filter(col("l_orderkey") % 100 === 42)
      .withColumn("l_quantity", col("l_quantity") + 1)
      .dropDuplicates(keys)
    val tombs = lineitem.filter(col("l_orderkey") % 100 === 43)
      .select(keys.map(col): _*)
    val publish = c.measure("publish_v1_twice") {
      Versioned.publish(spark, cow, Seq(TableSpec("lineitem", lineitem)))
      Versioned.publish(spark, mor, Seq(TableSpec("lineitem", lineitem)))
    }
    val cowMerge = c.measure("cow_merge") {
      Versioned.mergePublish(spark, cow, "lineitem", delta, keys)
    }
    val morMerge = c.measure("mor_merge") {
      Versioned.mergePublish(spark, mor, "lineitem", delta, keys, rewrite = false)
    }
    val (readCow, dCow) = read(c, "read_cow", cow)
    val (readMor, dMor) = read(c, "read_mor_chain", mor)
    require(dCow == dMor, s"COW/MOR divergence: $dCow vs $dMor")
    val remove = c.measure("mor_remove") {
      Versioned.removePublish(spark, mor, "lineitem", tombs)
    }
    val (readPre, dPre) = read(c, "read_mor_chain3", mor)
    val compact = c.measure("mor_compact") {
      Versioned.compactPublish(spark, mor, "lineitem", keys, files = 16)
    }
    val (readPost, dPost) = read(c, "read_compacted", mor)
    require(dPre == dPost, s"compaction changed values: $dPre vs $dPost")
    c.emit("sf" -> c.sfDir, "delta_rows" -> delta.count(), "tomb_rows" -> tombs.count(),
      publish, cowMerge, morMerge, readCow, readMor, remove, readPre, compact, readPost)
  }

  /** Z-order vs lexicographic clustering, measured on the SAME data
    * (sf lineitem) with the SAME per-file zone maps over
    * (l_orderkey, l_partkey). Twin lakes — lex = compactPublish on
    * l_orderkey (stats on both columns), zed = zorderPublish on both —
    * probed three ways: the leading column, the SECOND column (the one
    * lexicographic clustering abandons), and the 2-D rectangle. The
    * claim: z-order buys second-column and rectangle pruning at a
    * bounded cost in leading-column pruning (the Morton locality
    * trade). Value identity asserted per probe across the twins.
    * SPARK_GRAFT_ZONE_FILES sets the file count (default 64). */
  private def zorder(c: Ctx): Unit = {
    val spark = c.spark
    val files = sys.env.get("SPARK_GRAFT_ZONE_FILES").flatMap(_.toIntOption).getOrElse(64)
    val scratch = tmp("graft-scalezorder")
    val lex = s"$scratch/lex"; val zed = s"$scratch/zed"
    val cols = Seq("l_orderkey", "l_partkey")
    val lineitem = Tables(spark, c.sfDir, "lineitem").repartition(files)
    for (b <- Seq(lex, zed))
      Versioned.publish(spark, b, Seq(TableSpec("lineitem", lineitem, statsCols = cols)))
    Versioned.compactPublish(spark, lex, "lineitem", Seq("l_orderkey"), files)
    Versioned.zorderPublish(spark, zed, "lineitem", cols, files)

    val m = Versioned.read(spark, zed, "lineitem")
      .agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
    val (maxK, maxP) = (m.getLong(0), m.getLong(1))
    val kR = (maxK * 2 / 10, maxK * 3 / 10) // ~10% of the key space
    val pR = (maxP * 3 / 10, maxP * 4 / 10)
    def nsel(base: String, ranges: Seq[(String, Any, Any)]): Int = {
      val st = ZoneMaps.readSidecar(spark,
        Versioned.prunedSelectionAt(spark, base, "lineitem", 2L,
          ranges.head._1, ranges.head._2, ranges.head._3).head._1).get
      ZoneMaps.selectFilesMulti(st, ranges).map(_.size).getOrElse(-1)
    }
    val probes = Seq(
      "orderkey" -> Seq(("l_orderkey", kR._1: Any, kR._2: Any)),
      "partkey"  -> Seq(("l_partkey", pR._1: Any, pR._2: Any)),
      "rect"     -> Seq(("l_orderkey", kR._1: Any, kR._2: Any),
                        ("l_partkey", pR._1: Any, pR._2: Any)))
    val sels = probes.map { case (nm, rs) =>
      s"sel_$nm" -> Probe.obj("lex" -> nsel(lex, rs), "zed" -> nsel(zed, rs), "files" -> files)
    }
    val frags = probes.flatMap { case (nm, rs) =>
      val (a, dLex) = c.measured(s"lex_$nm")(
        keyDigest(Versioned.readPrunedMulti(spark, lex, "lineitem", rs)))
      val (b, dZed) = c.measured(s"zed_$nm")(
        keyDigest(Versioned.readPrunedMulti(spark, zed, "lineitem", rs)))
      require(dLex == dZed, s"twin divergence on $nm: $dLex vs $dZed")
      Seq(a, b)
    }
    c.emit(("sf" -> c.sfDir) +: (sels ++ frags): _*)
  }

  /** Partial vs full OPTIMIZE, measured: twin sf lakes take the SAME
    * history — one clustered base publish + five ~0.5% appends — then
    * one runs [[Versioned.compactPublish]] (full rewrite) and the other
    * [[Versioned.compactTailPublish]] (tail only, threshold below the
    * base dir's bytes). Claims under test:
    *   1. Full OPTIMIZE writes ≈ the whole table; tail OPTIMIZE writes
    *      ≈ the appended tail — the ratio is table/tail, which at 100 TB
    *      decides whether nightly maintenance is feasible at all.
    *   2. Both retire the read-path debt the same way where it matters:
    *      the post-compaction fold is 1 dir (full) vs 2 dirs (tail) and
    *      the task counts show it.
    *   3. Value identity: both lakes serve bit-identical digests after
    *      their compactions. */
  private def tailCompact(c: Ctx): Unit = {
    val spark = c.spark
    val scratch = tmp("graft-scaletail")
    val full = s"$scratch/full"; val tail = s"$scratch/tail"
    val keys = Seq("l_orderkey", "l_linenumber")
    val lineitem = Tables(spark, c.sfDir, "lineitem")
    val base = lineitem.filter(col("l_orderkey") % 200 >= 5)
      .repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
    def slice(i: Int) = lineitem.filter(col("l_orderkey") % 200 === i)
      .dropDuplicates(keys)
    val publish = c.measure("publish_v1_twice") {
      for (b <- Seq(full, tail))
        Versioned.publish(spark, b,
          Seq(TableSpec("lineitem", base, statsCols = Seq("l_orderkey"))))
    }
    val append = c.measure("append_5_twice") {
      for (b <- Seq(full, tail); i <- 0 until 5)
        Versioned.appendPublish(spark, b, "lineitem", slice(i))
    }
    val baseBytes = new Path(tail).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new Path(s"$tail/_data/lineitem-00000001")).getLength
    val optimizeFull = c.measure("optimize_full") {
      Versioned.compactPublish(spark, full, "lineitem", Seq("l_orderkey"), files = 16)
    }
    val optimizeTail = c.measure("optimize_tail") {
      val v = Versioned.compactTailPublish(spark, tail, "lineitem",
        sortBy = Seq("l_orderkey"), files = 2, smallBytes = baseBytes)
      require(v == 7L, s"tail compaction expected v7, got $v")
    }
    val (readFull, dFull) = read(c, "read_full", full)
    val (readTail, dTail) = read(c, "read_tail", tail)
    require(dFull == dTail, s"twin divergence: $dFull vs $dTail")
    val nDirsTail = Versioned
      .tableFiles(spark, tail, "lineitem", Versioned.currentVersion(spark, tail).get)
      .map(p => p.substring(0, p.lastIndexOf('/'))).distinct.size
    c.emit("sf" -> c.sfDir, "tail_dirs_after" -> nDirsTail, publish, append,
      optimizeFull, optimizeTail, readFull, readTail)
  }

  /** 10× row-count probe of the lake lifecycle family (q134–q140 +
    * q149/q150, q154 streamed-lifecycle, q156 partitioned
    * rolling-writer). [[graft.SynthCorpus]] scales the TEXT corpus and
    * carries the relational tables through unscaled (dims stay dims),
    * so this cell builds its own SPARK_GRAFT_LAKE_FACTOR× (default 10)
    * lineitem/orders: each row replicated with the join/cluster keys
    * offset by a per-replica stride (key ranges grow ∝ rows, value
    * distributions unchanged — the q134/q136 probes derive their ranges
    * from max(key), so they stay a fixed ~10% fraction at both scales
    * by construction).
    *
    * Each query runs COLD (bootstraps its fingerprint-keyed lake: the
    * full publish → maintain → probe lifecycle, bytes ∝ the table) and
    * WARM (lake committed: the serving read path only). The claims
    * under test at 10×: warm task counts track FILES × selectivity, not
    * rows (zone maps/z-order plan from the sidecar; the lake file count
    * is fixed at [[graft.queries.Relational]]'s ZonemapFiles); warm
    * input bytes track selectivity × rows (the honest axis that must
    * grow); CDC window diffs and MoR folds stay ∝ the change. */
  private def lake(c: Ctx): Unit = {
    val spark = c.spark
    val factor = sys.env.getOrElse("SPARK_GRAFT_LAKE_FACTOR", "10").toInt
    val queries = Seq(
      "q134_zonemap_scan", "q135_mor_scan", "q136_zorder_rect",
      "q138_tail_compact_scan", "q139_cdc_scan", "q140_zorder_tail_rect",
      "q149_zonemap_decimal", "q150_autocompact_scan", "q152_zonemap_date",
      "q153_bloom_point", "q154_takedown_stream", "q156_part_prune")
    // cold bootstraps the lake, warm re-reads it
    def runAll(dir: String, tag: String): Seq[(String, Any)] =
      for (q <- queries; phase <- Seq("cold", "warm"))
        yield c.measure(s"$q.$tag.$phase")(Probe.noop(SparkEntry.queries(q)(spark, dir)))

    val frags1 = runAll(c.sfDir, "x1")
    val big = tmp("graft-lake-synth")
    val li = Tables(spark, c.sfDir, "lineitem")
    val ord = Tables(spark, c.sfDir, "orders")
    val okStride = math.max(
      li.agg(max(col("l_orderkey"))).head().getLong(0),
      ord.agg(max(col("o_orderkey"))).head().getLong(0)) + 1
    val pkStride = li.agg(max(col("l_partkey"))).head().getLong(0) + 1
    def replicate(df: DataFrame) =
      df.withColumn("r", explode(expr(s"sequence(0, ${factor - 1})")))
    replicate(li)
      .withColumn("l_orderkey", col("l_orderkey") + col("r") * okStride)
      .withColumn("l_partkey", col("l_partkey") + col("r") * pkStride)
      .drop("r").write.parquet(s"$big/lineitem.parquet")
    replicate(ord)
      .withColumn("o_orderkey", col("o_orderkey") + col("r") * okStride)
      .drop("r").write.parquet(s"$big/orders.parquet")
    c.emit(Seq("sf" -> c.sfDir, "factor" -> factor) ++ frags1 ++
      runAll(big, s"x$factor"): _*)
  }

  /** Metadata-plane scaling of the versioned lake. `/lake/status`,
    * `/lake/history`, and version GC are walks over version markers,
    * ref files, and data dirs — O(surviving versions × tables) metadata
    * reads, entirely independent of data bytes. The scale question is
    * whether a lake that has absorbed 10× the PUBLISHES (many small
    * streaming appends — the file-count explosion case) still answers
    * its ops endpoints and commits its next publish in flat time, or
    * whether history accretes into every call.
    *
    * The design answer is retention + auto-compaction: GC keeps only
    * `retention` version manifests (and the dirs they reference), and
    * the compaction policy folds the MoR chain, so BOTH the history
    * walk and the standing dir count are bounded by policy knobs, not
    * by lifetime publish count. Two lakes, same knobs (retention 10,
    * auto-compact 5), 30 vs 300 tiny appends; cells are the status walk
    * (current version's chain depths), the history walk (every
    * surviving version's chains — exactly what `GET /lake/history`
    * runs), the tail publish latency (includes GC), and the standing
    * data-dir count. Flat ⇒ bounded. */
  private def manifest(c: Ctx): Unit = {
    val spark = c.spark
    val root = tmp("graft-scale-manifest")
    def ms[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, math.round((System.nanoTime() - t0) / 1e3) / 1e3)
    }
    def build(nPub: Int): (String, Double) = {
      val base = s"$root/lake$nPub"
      Versioned.publish(spark, base, Seq(TableSpec("t",
        spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("v")))))
      Versioned.setRetention(spark, base, 10)
      Versioned.setAutoCompact(spark, base, 5)
      val tail = (1 to nPub).map { i =>
        ms(Versioned.appendPublish(spark, base, "t",
          spark.range(i * 10000L, i * 10000L + 50)
            .select(col("id").as("k"), (col("id") * 2).as("v"))))._2
      }.takeRight(5)
      (base, math.round(tail.sum / tail.size * 1000) / 1000.0)
    }
    // chain entries of version v's tables (pure ref metadata)
    def chains(base: String, v: Long): Int = Versioned.listTables(spark, base, v)
      .map(t => Versioned.entryChainAt(spark, base, t, v).size).sum
    def cells(nPub: Int): ObjectNode = {
      val (base, tailPubMs) = build(nPub)
      // the `/lake/status` walk: the current version only
      val (chainNow, statusMs) =
        ms(chains(base, Versioned.currentVersion(spark, base).get))
      // the `/lake/history` walk: every surviving version
      val (chainAll, historyMs) =
        ms(Versioned.listVersions(spark, base).sorted.map(chains(base, _)).sum)
      val dataDirs = Option(new java.io.File(s"$base/_data").list()).map(_.length).getOrElse(0)
      Probe.obj("publishes" -> nPub,
        "surviving_versions" -> Versioned.listVersions(spark, base).size,
        "status_ms" -> statusMs, "history_ms" -> historyMs,
        "tail_publish_ms" -> tailPubMs, "chain_entries_current" -> chainNow,
        "chain_entries_all_versions" -> chainAll, "data_dirs" -> dataDirs,
        "rows" -> Versioned.read(spark, base, "t").count())
    }
    c.emit("x1" -> cells(30), "x10" -> cells(300))
  }

  /** Streamed lake ingest + takedown at 1× and 10× standing rows. The
    * claims under test, per standing-corpus size N ∈ {1×, 10×}:
    *  - per-batch publish cost is ∝ the BATCH, not N: wall time and
    *    bytes written per streamed append stay flat as N grows 10×;
    *  - the auto-compact policy bounds fold depth throughout the run
    *    (trajectory recorded per batch), and only its crossings pay
    *    more than batch-sized I/O;
    *  - the replay probe (one membership probe of the cumulative
    *    marker) stays milliseconds and FLAT in N — it reads the marker
    *    table, never the data;
    *  - a streamed takedown batch writes tombstone-sized bytes
    *    regardless of N. */
  private def streamLake(c: Ctx): Unit = {
    val spark = c.spark
    def facts(lo: Long, hi: Long) = spark.range(lo, hi, 1, 16).select(
      col("id").as("k"),
      concat(lit("payload-"), lpad(col("id") % 99991, 12, "0")).as("v"))
    val batchRows = 50000L
    val batches = 8
    def cell(scaleTag: String, standing: Long): (String, Any) = {
      val lake = tmp(s"graft-ssl-$scaleTag") + "/lake"
      Versioned.publish(spark, lake, Seq(TableSpec("t", facts(0, standing))))
      Versioned.setAutoCompact(spark, lake, 6)
      val baseBytes = dirBytes(lake)
      var prev = baseBytes
      val appends = (0 until batches).map { i =>
        val lo = standing + i * batchRows
        val s = Probe.timed(StreamingLakeAppend.ingestBatch(spark,
          facts(lo, lo + batchRows), i.toLong, lake, "t", Seq("k")))._2
        val now = dirBytes(lake)
        val delta = now - prev
        prev = now
        val cur = Versioned.currentVersion(spark, lake).get
        (s, delta, Versioned.entryChainAt(spark, lake, "t", cur).size)
      }
      // replay probe: the already-ingested batch 0 — one marker probe
      val replaySecs = Probe.timed(StreamingLakeAppend.ingestBatch(spark,
        facts(standing, standing + 1), 0L, lake, "t", Seq("k")))._2
      // streamed takedown batch: 1000 tombstone keys against N+appends
      val tombs = spark.range(0, 1000, 1, 4)
        .select((col("id") * (standing / 1000)).as("k"))
      val beforeTd = dirBytes(lake)
      val tdSecs = Probe.timed(
        StreamingLakeTakedown.takedownBatch(spark, tombs, 0L, lake, "t"))._2
      val tdBytes = dirBytes(lake) - beforeTd
      // takedown audit: the whole 1000-key batch in ONE read
      // (readPointIn) vs a per-key probe loop (8 sample keys) —
      // the reason the batch probe exists
      val keys = (0 until 1000).map(i => i.toLong * (standing / 1000))
      val (residue, auditBatchSecs) =
        Probe.timed(Versioned.readPointIn(spark, lake, "t", "k", keys).count())
      val auditLoop8Secs = Probe.timed(
        keys.take(8).foreach(k => Versioned.readPoint(spark, lake, "t", "k", k).count()))._2
      scaleTag -> Probe.obj("standing_rows" -> standing,
        "standing_bytes" -> baseBytes,
        "append_secs" -> appends.map(_._1), "append_delta_bytes" -> appends.map(_._2),
        "depth_trajectory" -> appends.map(_._3),
        "replay_probe_secs" -> replaySecs,
        "takedown_secs" -> tdSecs, "takedown_delta_bytes" -> tdBytes,
        "audit_batch1000_secs" -> auditBatchSecs, "audit_residue" -> residue,
        "audit_loop8_secs" -> auditLoop8Secs)
    }
    c.emit("batch_rows" -> batchRows, "batches" -> batches,
      cell("1x", 1000000L), cell("10x", 10000000L))
  }

  /** Publish-time I/O of stats/bloom-tracked writes. [[StatsWrite]]
    * emits both sidecars from the write tasks, so input bytes for a
    * publish should be ~zero beyond the source itself.
    *
    * Measured as the phase's task input bytes on a generated
    * (zero-input) frame, so every byte READ is attributable to sidecar
    * construction. Cells: flat and partitioned writes at 2M rows, a
    * hot-keyed partitioned write and its compaction fold. The sidecars'
    * byte identity with a footer walk and column re-scan is
    * [[graft.StatsWriteSpec]]'s to pin. */
  private def statsWrite(c: Ctx): Unit = {
    val spark = c.spark
    val statsCols = Seq("k", "amount")
    val bloomCols = Seq("k", "name")
    val n = 2000000L
    val out = Seq.newBuilder[(String, Any)]
    /** `<p>_read_bytes`, `<p>_read_records` and `<p>_secs` of one phase. */
    def readPhase(p: String)(f: => Unit): Unit = {
      val (_, u) = Meter.measure(spark)(f)
      out ++= Seq(s"${p}_read_bytes" -> u.inputBytes,
        s"${p}_read_records" -> u.recordsRead, s"${p}_secs" -> Probe.secs(u.wallMs))
    }
    /** The hot date's file count, its concurrent write tasks (each
      * final file carries its writing task's index) and largest file. */
    def hotLayout(p: String, dir: String): Unit = {
      val files = new java.io.File(dir, "part_date=2024-01-01").listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq
      out ++= Seq(s"${p}_files" -> files.size,
        s"${p}_write_tasks" -> files.map(_.getName.split("-")(1)).distinct.size,
        s"${p}_max_file_rows" ->
          files.map(f => Tables.readParquetCached(spark, f.toString).count()).max)
    }
    def frame(ids: DataFrame) = ids.select(
      col("id").as("k"),
      concat(lit("name-"), lpad(col("id") % 99991, 8, "0")).as("name"),
      (col("id").cast("decimal(16,2)") / 100).as("amount"))
    val df = frame(spark.range(0, n, 1, 16).toDF())
    val root = tmp("graft-scale-sw")

    readPhase("writetask") {
      StatsWrite.write(spark, df, s"$root/new", statsCols, bloomCols)
    }
    out += "table_bytes" -> dirBytes(s"$root/new")
    // partitioned cells (the rolling writer — the ETL charges shape):
    // same frame + a 16-value date partition column
    val dp = df.withColumn("part_date",
      expr("date_add(date'2024-01-01', cast(k % 16 as int))"))
    readPhase("part_writetask") {
      StatsWrite.writePartitioned(spark, dp, s"$root/newp",
        Seq("part_date"), statsCols, bloomCols)
    }

    // skew cells: a deliberately HOT-keyed partitioned publish — 90% of
    // rows in ONE date (the reference's charges shape). An unsalted
    // writer serializes the hot value into one task/one file with an
    // O(rows) bloom hash buffer; the salted writer must spread it over
    // >1 concurrent write task and multiple target-bounded files.
    val hot = df.withColumn("part_date",
      when(col("k") % 10 < 9, lit("2024-01-01").cast("date"))
        .otherwise(expr("date_add(date'2024-02-01', cast(k % 7 as int))")))
    out += "hot_rows" -> n * 9 / 10
    readPhase("hot") {
      StatsWrite.writePartitioned(spark, hot, s"$root/hot",
        Seq("part_date"), statsCols, bloomCols, targetRowsPerFile = 200000L)
    }
    hotLayout("hot", s"$root/hot")

    // compaction-fold cell: the HOT frame lives in a versioned lake —
    // partition-published, a flat MoR append and a tombstone accrete
    // chain debt, then compactPartitioned re-materializes the fold
    // through the salted writer. The salt discipline must survive the
    // composition: the hot value still writes from >1 task into
    // target-bounded files.
    val lake = s"$root/lake"
    Versioned.publish(spark, lake, Seq(TableSpec("t", hot,
      partitionBy = Seq("part_date"), statsCols = statsCols,
      bloomCols = Seq("name"), targetRowsPerFile = 200000L)))
    Versioned.appendPublish(spark, lake, "t", frame(spark.range(n, n + 100000L).toDF())
      .withColumn("part_date", lit("2024-01-01").cast("date")))
    Versioned.removePublish(spark, lake, "t", spark.range(0, 50000L).select(col("id").as("k")))
    readPhase("fold") {
      Versioned.compactPartitioned(spark, lake, "t", Seq("part_date"),
        targetRowsPerFile = 200000L)
    }
    // minus the tombstoned hot rows
    out += "fold_hot_rows" -> (n * 9 / 10 + 100000L - 45000L)
    hotLayout("fold_hot",
      s"$lake/${Versioned.entryChainAt(spark, lake, "t", 4L).head._2}")
    c.emit(("rows" -> n) +: out.result(): _*)
  }
}
