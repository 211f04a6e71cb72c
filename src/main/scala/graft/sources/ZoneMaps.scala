package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** File-level zone maps for versioned-lake tables — Iceberg/Delta-style
  * data skipping on top of the manifest layout.
  *
  * Parquet already stores row-group min/max statistics, and a sorted
  * layout ([[Versioned.compactPublish]]) makes them selective — but at
  * 100 TB the scanner still has to OPEN every file's footer to learn
  * that 99% of them are irrelevant: one metadata round-trip per file,
  * serialized through the driver's split planning. A zone map distills
  * the same bounds into ONE driver-readable sidecar per data dir, which
  * the write tasks emit at publish time ([[StatsWrite]]), so a range
  * predicate prunes the file list before Spark ever lists, opens, or
  * schedules anything: planning cost ∝ matching files, not table
  * files. This is exactly the role of Iceberg's manifest column bounds
  * / Delta's per-file stats.
  *
  * Placement: the sidecar lives INSIDE the immutable data dir
  * (`_zonemap.tsv` — the `_` prefix hides it from Spark's file index,
  * like `_SUCCESS`). Stats thereby share the data's lifecycle by
  * construction: a manifest carry-forward carries them, GC refcounting
  * protects them, and they can never describe any bytes other than the
  * dir they sit in. Written before the data dir's `_SUCCESS` and the
  * version's manifest/marker, so a crash mid-publish leaves
  * only an uncommitted dir — readers never see data without its
  * declared stats or vice versa.
  *
  * Correctness posture (no silent wrong answers):
  *  - Pruning is an OPTIMIZATION over an always-applied filter — the
  *    predicate is evaluated on every surviving row, so a stats bug
  *    could only ever cost bytes, never rows, IF selection errs on the
  *    side of inclusion. It does: a column chunk with no usable
  *    statistics marks the file UNKNOWN (always read); only statistics
  *    that PROVE disjointness skip a file. All-null chunks are skipped
  *    for range predicates (NULL matches no range) — the one exactness
  *    claim [[ZoneMapSpec]] pins with a planted all-null file.
  *  - Tracking a column the written files do not carry (a typo, or a
  *    partition column — dir-encoded, so files never carry it), or a
  *    zone map over an empty frame, fails the PUBLISH loudly rather
  *    than producing a sidecar that can never prune.
  *  - String bounds compare as unsigned UTF-8 bytes — parquet's
  *    UNSIGNED sort order for UTF8 — not `String.compareTo` (UTF-16
  *    code units), which disagrees beyond the BMP.
  *  - A missing/corrupt sidecar downgrades to a full scan + filter
  *    (identical answer, no pruning), because a lake that predates
  *    zone maps must stay readable — same legacy discipline as the
  *    pre-manifest fallback.
  *  - Timestamp columns prune only when written as INT64
  *    (`spark.sql.parquet.outputTimestampType = TIMESTAMP_MICROS` —
  *    set by [[graft.GraftSession]] and every engine entry point);
  *    Spark's default INT96 encoding carries no usable statistics, so
  *    those chunks mark `U` — correct answers, no skipping. */
object ZoneMaps {

  val SidecarName = "_zonemap.tsv"

  /** Per-file, per-column bound: `tpe` ∈ long | double | string |
    * decimal | date | tsmillis/tsmicros/tsnanos; `flag` K (known
    * bounds) | N (all values null) | U (no usable statistics — never
    * prune). For K: `min`/`max` are decimal text (long and the
    * date/timestamp kinds — epoch days / the stored epoch unit),
    * raw-bit decimal text (double — exact round-trip, no decimal-repr
    * drift), base64 UTF-8 (string), or plain decimal text at the
    * column's declared scale (decimal — exact, `BigDecimal`
    * round-trip). */
  final case class ColStats(tpe: String, flag: String, min: String, max: String)
  final case class FileStats(relPath: String, cols: Map[String, ColStats])

  private[sources] def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** Write `dataDir`'s sidecar from per-file bounds, in the order
    * given: the one writer of the format [[readSidecar]] reads. Entry
    * paths are relative to `dataDir`, as the bloom sidecars' are, so a
    * lake copied or moved to another root prunes into its own files. */
  private[sources] def writeSidecarFromParts(f: FileSystem, dataDir: Path,
      cols: Seq[String], files: Seq[FileStats]): Unit = {
    val sb = new StringBuilder("graft-zonemap\tv1\n")
    files.foreach { fst =>
      require(!new Path(fst.relPath).isAbsolute,
        s"zone map entry ${fst.relPath} is not relative to $dataDir")
      cols.foreach { c =>
        val cs = fst.cols.getOrElse(c, ColStats("long", "U", "", ""))
        sb.append(fst.relPath).append('\t').append(c).append('\t')
          .append(cs.tpe).append('\t').append(cs.flag).append('\t')
          .append(cs.min).append('\t').append(cs.max).append('\n')
      }
    }
    val out = f.create(new Path(dataDir, SidecarName), true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Sidecar for a data dir, if present and well-formed. */
  def readSidecar(spark: SparkSession, dataDir: String): Option[Seq[FileStats]] = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(dataDir)
    val f = dir.getFileSystem(conf)
    val p = new Path(dir, SidecarName)
    if (!f.exists(p)) return None
    try {
      val in = f.open(p)
      val text = try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toString("UTF-8")
      } finally in.close()
      val lines = text.split('\n').filter(_.nonEmpty)
      if (lines.isEmpty || lines.head != "graft-zonemap\tv1") return None
      val rows = lines.tail.map { l =>
        val a = l.split('\t') // min/max may be empty → pad
        (a(0), a(1), ColStats(a(2), a(3),
          if (a.length > 4) a(4) else "", if (a.length > 5) a(5) else ""))
      }
      Some(rows.groupBy(_._1).toSeq.map { case (rel, cs) =>
        FileStats(rel, cs.map(r => r._2 -> r._3).toMap)
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Which columns a data dir's sidecar covers (for re-collection
    * after maintenance rewrites). Empty if no sidecar. */
  def sidecarCols(spark: SparkSession, dataDir: String): Seq[String] =
    readSidecar(spark, dataDir)
      .map(_.flatMap(_.cols.keys).distinct.sorted)
      .getOrElse(Nil)

  // --------------------------------------------------------- selection

  private def asLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case other => sys.error(s"zone map: expected an integer bound, got $other")
  }
  private def asDouble(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case other => sys.error(s"zone map: expected a numeric bound, got $other")
  }
  private def asBigDec(v: Any): java.math.BigDecimal = v match {
    case d: java.math.BigDecimal => d
    case d: BigDecimal => d.bigDecimal
    case i: Int => java.math.BigDecimal.valueOf(i.toLong)
    case l: Long => java.math.BigDecimal.valueOf(l)
    case d: Double => java.math.BigDecimal.valueOf(d)
    case s: String => new java.math.BigDecimal(s)
    case other => sys.error(s"zone map: expected a decimal bound, got $other")
  }
  private def asDateDays(v: Any): Long = v match {
    case d: java.time.LocalDate => d.toEpochDay
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case s: String => java.time.LocalDate.parse(s).toEpochDay
    case i: Int => i.toLong
    case l: Long => l
    case other => sys.error(s"zone map: expected a date bound, got $other")
  }
  /** Probe value → the column's stored epoch unit. Timestamp columns
    * store UTC-normalized units, so the natural probe types are the
    * zone-independent ones (Instant / java.sql.Timestamp / a UTC ISO
    * string); a raw Long passes through in the stored unit. */
  private def asEpochUnits(v: Any, tpe: String): Long = {
    val inst: java.time.Instant = v match {
      case i: java.time.Instant => i
      case t: java.sql.Timestamp => t.toInstant
      case l: Long => return l
      case s: String =>
        if (s.contains("T")) java.time.Instant.parse(s)
        else java.time.LocalDate.parse(s)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      case other => sys.error(s"zone map: expected a timestamp bound, got $other")
    }
    tpe match {
      case "tsmillis" => inst.toEpochMilli
      case "tsnanos" =>
        Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000000L),
          inst.getNano.toLong)
      case _ =>
        Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000L),
          (inst.getNano / 1000).toLong)
    }
  }

  /** Files that may hold rows satisfying EVERY range in `ranges`
    * (conjunction): a file survives only if, for each range on a
    * column this sidecar tracks, its bounds intersect. Ranges on
    * untracked columns cannot prune (the caller's filter still applies
    * them row-wise); if NO range is tracked, returns None — caller
    * must full-scan. The 2-D rectangle probe over a z-ordered layout
    * ([[ZOrder]]) is the motivating case: each file carries a tight
    * bounding rectangle, so the intersection of per-column selections
    * is small. */
  def selectFilesMulti(stats: Seq[FileStats],
      ranges: Seq[(String, Any, Any)]): Option[Seq[String]] = {
    val tracked = ranges.filter(r => stats.exists(_.cols.contains(r._1)))
    if (tracked.isEmpty) return None
    val perCol = tracked.map { case (c, lo, hi) =>
      selectFiles(stats, c, lo, hi).get.toSet
    }
    Some(stats.map(_.relPath).filter(p => perCol.forall(_.contains(p))))
  }

  /** Files that may hold rows with `col ∈ [lo, hi]`: K-files whose
    * bounds intersect the range, plus every U-file (unknown never
    * prunes). N-files (all null) match no range. Returns None when the
    * column is untracked by this sidecar — caller must full-scan. */
  def selectFiles(stats: Seq[FileStats], colName: String,
      lo: Any, hi: Any): Option[Seq[String]] = {
    if (!stats.exists(_.cols.contains(colName))) return None
    Some(stats.filter { fst =>
      fst.cols.get(colName) match {
        case None => true // file unknown to this column → keep
        case Some(cs) => cs.flag match {
          case "U" => true
          case "N" => false
          case _ => cs.tpe match {
            case "long" =>
              !(cs.max.toLong < asLong(lo) || cs.min.toLong > asLong(hi))
            case "double" =>
              val mn = java.lang.Double.longBitsToDouble(cs.min.toLong)
              val mx = java.lang.Double.longBitsToDouble(cs.max.toLong)
              !(mx < asDouble(lo) || mn > asDouble(hi))
            case "string" =>
              val dec = java.util.Base64.getDecoder
              val mn = dec.decode(cs.min); val mx = dec.decode(cs.max)
              val l = lo.toString.getBytes("UTF-8")
              val h = hi.toString.getBytes("UTF-8")
              !(unsignedLt(mx, l) || unsignedLt(h, mn))
            case "decimal" =>
              val mn = new java.math.BigDecimal(cs.min)
              val mx = new java.math.BigDecimal(cs.max)
              !(mx.compareTo(asBigDec(lo)) < 0 || mn.compareTo(asBigDec(hi)) > 0)
            case "date" =>
              !(cs.max.toLong < asDateDays(lo) || cs.min.toLong > asDateDays(hi))
            case "tsmillis" | "tsmicros" | "tsnanos" =>
              !(cs.max.toLong < asEpochUnits(lo, cs.tpe) ||
                cs.min.toLong > asEpochUnits(hi, cs.tpe))
            case _ => true
          }
        }
      }
    }.map(_.relPath))
  }
}
