package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.{Versioned, ZoneBlooms}
import graft.sources.Versioned.TableSpec

/** Per-file Bloom point-probe skipping: selection must only ever SAVE
  * bytes (a skipped file provably lacks the key; every fallback path
  * serves identical rows with zero pruning), it must engage on the
  * writer-arrival layouts zone maps cannot prune, and it must survive
  * merge-on-read appends, tombstones, and compaction. */
class ZoneBloomSpec extends SparkSpec {
  import spark.implicits._

  private def mkBase() =
    Files.createTempDirectory("graft-bloom").toString + "/lake"

  /** Round-robin layout: every file spans the key range — min/max
    * stats can prove nothing, blooms must still pinpoint a key. */
  private def arrival = spark.range(0, 4000)
    .select(col("id").as("k"), (col("id") % 97).as("v"),
      concat(lit("s"), col("id") % 13).as("s"))
    .repartition(8)

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("point probe opens ~1 file of 8 on a layout zone maps cannot prune") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", arrival,
      statsCols = Seq("k"), bloomCols = Seq("k", "s"))))
    // zone maps CANNOT prune this point probe (every file spans k)
    val Some((_, zmSel, zmTot)) =
      Versioned.prunedFilesAt(spark, base, "t", 1L, "k", 1234L, 1234L)
    assert(zmTot == 8 && zmSel.size == 8, "arrival layout should defeat min/max")
    // blooms do: the key lives in exactly one file; fpp may add a
    // couple more, never all
    val sel = Versioned.pointSelectionAt(spark, base, "t", 1L, "k", 1234L)
    val (s, n) = sel.head._2.get
    assert(n == 8 && s.size <= 3, s"bloom selected ${s.size} of $n")
    assert(collectSet(Versioned.readPoint(spark, base, "t", "k", 1234L))
      == collectSet(Versioned.read(spark, base, "t").filter(col("k") === 1234L)))
    // an ABSENT key: no false negatives means any selection is fpp
    // noise; the read must still be exactly empty
    assert(Versioned.readPoint(spark, base, "t", "k", 999999L).isEmpty)
    // string bloom column
    val selS = Versioned.pointSelectionAt(spark, base, "t", 1L, "s", "s5")
    assert(selS.head._2.isDefined, "string bloom sidecar missing")
    assert(collectSet(Versioned.readPoint(spark, base, "t", "s", "s5"))
      == collectSet(Versioned.read(spark, base, "t").filter(col("s") === "s5")))
  }

  test("batch point probe (readPointIn): exact rows, union of per-key selections") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", arrival,
      bloomCols = Seq("k", "s"))))
    val keys = Seq(7L, 1234L, 3999L)
    val got = collectSet(Versioned.readPointIn(spark, base, "t", "k", keys))
    assert(got == collectSet(Versioned.read(spark, base, "t")
      .filter(col("k").isin(keys: _*))))
    assert(got.size == 3)
    // the batch selection stays far under the full file set (three
    // keys → at most ~3 + fpp files on the 8-file arrival layout)
    val files = Versioned.read(spark, base, "t").inputFiles.length
    assert(files == 8, s"fixture drifted: $files files")
    val probe = Versioned.readPointIn(spark, base, "t", "k", keys)
    assert(probe.inputFiles.length <= 6,
      s"batch probe opened ${probe.inputFiles.length} of $files")
    // absent keys contribute nothing; a mixed batch returns only hits
    assert(Versioned.readPointIn(spark, base, "t", "k",
      Seq(999999L, 888888L)).isEmpty)
    assert(collectSet(Versioned.readPointIn(spark, base, "t", "k",
      Seq(999999L, 1234L))) == collectSet(
      Versioned.read(spark, base, "t").filter(col("k") === 1234L)))
    // untracked column degrades to a full scan with identical rows
    assert(collectSet(Versioned.readPointIn(spark, base, "t", "v",
        Seq(42L, 43L))) ==
      collectSet(Versioned.read(spark, base, "t")
        .filter(col("v").isin(42L, 43L))))
  }

  test("fallbacks serve identical rows: untracked column, no sidecar, corrupt sidecar") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", arrival,
      bloomCols = Seq("k"))))
    val full = collectSet(Versioned.read(spark, base, "t")
      .filter(col("v") === 42L))
    // untracked column → None → full scan, same rows
    assert(Versioned.pointSelectionAt(spark, base, "t", 1L, "v", 42L)
      .head._2.isEmpty)
    assert(collectSet(Versioned.readPoint(spark, base, "t", "v", 42L)) == full)
    // corrupt the sidecar in place → degrade to full scan
    val dir = new Path(s"$base/_data/t-00000001")
    val f = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val out = f.create(new Path(dir, ZoneBlooms.sidecarName("k")), true)
    out.write("not a bloom".getBytes("UTF-8")); out.close()
    // the read memo may hold the good blooms — a fresh dir string
    // defeats it the way a fresh JVM would
    assert(ZoneBlooms.readSidecar(spark,
      s"$base/_data/../_data/t-00000001", "k").isEmpty)
    assert(collectSet(Versioned.readPoint(spark, base, "t", "k", 1234L))
      == collectSet(Versioned.read(spark, base, "t").filter(col("k") === 1234L)))
  }

  test("blooms survive MoR append, tombstone fold, and tail compaction") {
    val base = mkBase()
    Versioned.publish(spark, base, Seq(TableSpec("t", arrival,
      bloomCols = Seq("k"))))
    Versioned.setAutoCompact(spark, base, 0)
    // append re-collects the tracked bloom on its own dir
    Versioned.appendPublish(spark, base, "t",
      spark.range(4000, 4100).select(col("id").as("k"),
        (col("id") % 97).as("v"), concat(lit("s"), col("id") % 13).as("s")),
      Seq("k"))
    val v2 = Versioned.currentVersion(spark, base).get
    val sel2 = Versioned.pointSelectionAt(spark, base, "t", v2, "k", 4050L)
    assert(sel2.size == 2 && sel2.forall(_._2.isDefined),
      s"appended dir lost its bloom: $sel2")
    assert(Versioned.readPoint(spark, base, "t", "k", 4050L).count() == 1)
    // tombstone: the point read must NOT resurrect a removed key even
    // though its bloom still claims it (blooms are inclusion-only)
    Versioned.removePublish(spark, base, "t", Seq(1234L).toDF("k"))
    assert(Versioned.readPoint(spark, base, "t", "k", 1234L).isEmpty,
      "bloom point read resurrected a tombstoned key")
    // compaction folds the chain and re-collects blooms on the new dir
    val v = Versioned.compactMorTailPublish(spark, base, "t",
      smallBytes = Long.MaxValue)
    assert(v == Versioned.currentVersion(spark, base).get)
    val selC = Versioned.pointSelectionAt(spark, base, "t", v, "k", 4050L)
    assert(selC.forall(_._2.isDefined), s"compacted dir lost blooms: $selC")
    assert(Versioned.readPoint(spark, base, "t", "k", 4050L).count() == 1)
    assert(Versioned.readPoint(spark, base, "t", "k", 1234L).isEmpty)
  }

  test("probe coercion: mistyped probes prune correctly or widen — never lose rows") {
    val base = mkBase()
    val d = spark.range(0, 4000).select(col("id").as("k"),
      ((col("id") * 7 - 1400).cast("decimal(18,4)") / 100)
        .cast("decimal(16,2)").as("amt"),
      concat(lit("s"), col("id") % 13).as("s")).repartition(8)
    Versioned.publish(spark, base, Seq(TableSpec("t", d,
      bloomCols = Seq("k", "amt", "s"))))
    val t = Versioned.read(spark, base, "t")
    // a STRING probe of a long column: pre-r18 it hashed as a string,
    // wrongly pruned the key's file, and returned [] for a live key —
    // now it coerces to the stored long and both prunes AND hits
    val selStr = Versioned.pointSelectionAt(spark, base, "t", 1L, "k", "1234")
    val (sS, nS) = selStr.head._2.get
    assert(nS == 8 && sS.size <= 3, s"string-probe coercion didn't prune: $sS")
    assert(collectSet(Versioned.readPoint(spark, base, "t", "k", "1234"))
      == collectSet(t.filter(col("k") === 1234L)))
    assert(collectSet(t.filter(col("k") === 1234L)).nonEmpty)
    // decimal probe at the WRONG scale: stored "10.50" vs probe 10.5 —
    // toPlainString differs, so pre-r18 this false-pruned; coercion
    // setScales to the column's 2
    val key = new java.math.BigDecimal("10.5") // k=300 → (300*7-1400)/100
    val selDec = Versioned.pointSelectionAt(spark, base, "t", 1L, "amt", key)
    assert(selDec.head._2.isDefined &&
      selDec.head._2.get._1.size <= 3, s"decimal coercion didn't prune: $selDec")
    assert(collectSet(Versioned.readPoint(spark, base, "t", "amt", key))
      == collectSet(t.filter(col("amt") === lit(key))))
    // string probe of a decimal column coerces too
    assert(collectSet(Versioned.readPointIn(spark, base, "t", "amt",
        Seq("10.5", "-14")))
      == collectSet(t.filter(col("amt").isin(
        new java.math.BigDecimal("10.50"), new java.math.BigDecimal("-14.00")))))
    // UNCOERCIBLE probes degrade to a full scan (None), never prune:
    // a double against a long column, an unparseable string, a decimal
    // needing rounding, a non-string against a string column
    assert(Versioned.pointSelectionAt(spark, base, "t", 1L, "k", 3.14)
      .head._2.isEmpty)
    assert(Versioned.pointSelectionAt(spark, base, "t", 1L, "k", "not-a-long")
      .head._2.isEmpty)
    assert(Versioned.pointSelectionAt(spark, base, "t", 1L, "amt",
      new java.math.BigDecimal("10.555")).head._2.isEmpty)
    // a non-string probe of a string column cannot know the stored
    // spelling — selection must widen to the full set (the equality
    // filter itself then follows ANSI comparison semantics, as any
    // spark.sql filter would)
    assert(Versioned.pointSelectionAt(spark, base, "t", 1L, "s", 5L)
      .head._2.isEmpty)
  }

  test("date bloom columns: write-time ≡ re-scan bytes, every date spelling probes") {
    // r19 (advice-low): DateType was write-rejectable and probe-blind;
    // now it blooms as epoch-day longs end to end
    val base = mkBase()
    // one row per date (unique key) on a round-robin layout: min/max
    // can't prune, the bloom must pinpoint the single carrying file
    val d = spark.range(0, 2000).select(col("id").as("k"),
      expr("date_add(date'2020-01-01', cast(id as int))").as("dt"))
      .repartition(8)
    Versioned.publish(spark, base, Seq(TableSpec("t", d,
      bloomCols = Seq("dt"))))
    val t = Versioned.read(spark, base, "t")
    val want = collectSet(t.filter(col("dt") === lit("2024-03-11").cast("date")))
    assert(want.nonEmpty)
    // the three external spellings prune AND hit identically
    val probes: Seq[Any] = Seq(
      java.sql.Date.valueOf("2024-03-11"),
      java.time.LocalDate.parse("2024-03-11"),
      "2024-03-11")
    probes.foreach { p =>
      val sel = Versioned.pointSelectionAt(spark, base, "t", 1L, "dt", p)
      val (s, n) = sel.head._2.getOrElse(
        fail(s"date probe ${p.getClass.getSimpleName} didn't consult blooms"))
      assert(n == 8 && s.size <= 3, s"date probe $p didn't prune: $s of $n")
      assert(collectSet(Versioned.readPoint(spark, base, "t", "dt", p)) == want,
        s"probe $p lost rows")
    }
    // unparseable / foreign probes widen to a full scan, never prune
    assert(Versioned.pointSelectionAt(spark, base, "t", 1L, "dt", "11/03/2024")
      .head._2.isEmpty)
    assert(Versioned.pointSelectionAt(spark, base, "t", 1L, "dt", 19793L)
      .head._2.isEmpty)
    // write-time sidecar stays byte-identical to the legacy re-scan
    // (the re-scan hashes java.sql.Date, the write task catalyst days)
    val entries = Versioned.entryChainAt(spark, base, "t", 1L)
    val dataDir = new Path(base, entries.head._2).toString
    val sidecar = s"$dataDir/${graft.sources.ZoneBlooms.sidecarName("dt")}"
    val b1 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sidecar)).toSeq
    graft.sources.SidecarRescan.blooms(spark, dataDir, Seq("dt"))
    val b2 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sidecar)).toSeq
    assert(b1 == b2, "date bloom sidecar diverged between write paths")
  }

  test("property: every coercible probe representation hashes to the stored value's hash") {
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(77L + i)))
    def coercedHash(dt: DataType, probe: Any): Option[Long] =
      graft.sources.ZoneBlooms.coerceProbe(dt, probe)
        .map(graft.sources.ZoneBlooms.hashValue)
    // LONG columns: every integer width, the decimal spelling, and an
    // integral BigDecimal must reach the stored hash; foreign
    // representations must be None (full scan), never a wrong hash
    samples(Gen.choose(Long.MinValue / 4, Long.MaxValue / 4), 200).foreach { v =>
      val stored = graft.sources.ZoneBlooms.hashValue(v)
      assert(coercedHash(LongType, v).contains(stored))
      assert(coercedHash(LongType, v.toString).contains(stored))
      assert(coercedHash(LongType, s"  $v ").contains(stored), "trimmed")
      assert(coercedHash(LongType, new java.math.BigDecimal(v)).contains(stored))
      if (v.isValidInt) {
        assert(coercedHash(IntegerType, v.toInt).contains(stored))
        assert(coercedHash(IntegerType, v).contains(stored))
        assert(coercedHash(LongType, v.toInt).contains(stored))
      }
    }
    assert(coercedHash(LongType, "12x").isEmpty)
    assert(coercedHash(LongType, 3.5d).isEmpty)
    assert(coercedHash(LongType, new java.math.BigDecimal("3.50")).isEmpty)
    // DECIMAL(16,2) columns: the stored hash is toPlainString AT SCALE
    // 2; probes at any exact-representable scale (stripped zeros, wider
    // scale, string spelling, bare integer) must re-scale to it
    samples(Gen.choose(-10000000L, 10000000L), 200).foreach { unscaled =>
      val stored = new java.math.BigDecimal(java.math.BigInteger.valueOf(unscaled), 2)
      val dt = DecimalType(16, 2)
      val want = graft.sources.ZoneBlooms.hashValue(stored)
      assert(coercedHash(dt, stored).contains(want))
      assert(coercedHash(dt, stored.stripTrailingZeros).contains(want))
      assert(coercedHash(dt, stored.setScale(5)).contains(want))
      assert(coercedHash(dt, stored.toPlainString).contains(want))
      assert(coercedHash(dt, BigDecimal(stored)).contains(want))
      if (unscaled % 100 == 0)
        assert(coercedHash(dt, unscaled / 100).contains(want), "bare long")
    }
    assert(coercedHash(DecimalType(16, 2),
      new java.math.BigDecimal("1.555")).isEmpty, "needs rounding → None")
    assert(coercedHash(DecimalType(16, 2), "not-a-number").isEmpty)
    // STRING columns: only a string probe can know the stored spelling
    assert(coercedHash(StringType, "s5").contains(
      graft.sources.ZoneBlooms.hashValue("s5")))
    assert(coercedHash(StringType, 5L).isEmpty)
    // nulls hash to the stored null sentinel under any column type
    Seq(LongType, StringType, DecimalType(16, 2)).foreach(dt =>
      assert(coercedHash(dt, null).contains(
        graft.sources.ZoneBlooms.hashValue(null))))
  }

  test("bloom kernel: no false negatives ever; fpp in the designed band") {
    val rnd = new scala.util.Random(11)
    val b = new ZoneBlooms.SimpleBloom(7, new Array[Long](
      ((4000L * 10 + 63) / 64).toInt))
    val keys = (0 until 4000).map(_ => rnd.nextLong())
    keys.foreach(k => b.put(ZoneBlooms.hashValue(k)))
    assert(keys.forall(k => b.mightContain(ZoneBlooms.hashValue(k))),
      "false negative — structurally impossible unless put/probe drift")
    val probes = (0 until 20000).map(_ => rnd.nextLong())
      .filterNot(keys.toSet)
    val fp = probes.count(k => b.mightContain(ZoneBlooms.hashValue(k)))
    assert(fp.toDouble / probes.size < 0.03,
      s"fpp ${fp.toDouble / probes.size} far above the 1% design point")
  }
}
