package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Per-file Bloom filters for versioned-lake tables — the POINT-probe
  * sibling of [[ZoneMaps]] (r16).
  *
  * Zone maps prune RANGE probes, and only earn selectivity on a
  * clustered layout: on a writer-arrival dir every file spans the key
  * range and min/max can prove nothing. But the takedown path — "does
  * key k live in this table, and where" — is a point probe over
  * exactly that kind of layout (ingest order, no helpful sort), and
  * it is membership, not order, that answers it. A per-file Bloom
  * filter gives each file a compact "definitely not here" certificate
  * that works on ANY layout: a point read opens only the files whose
  * filters claim the key, ~1 + fpp·files instead of all of them.
  * Iceberg/Delta ship the same idea (puffin blobs / bloom indexes).
  *
  * Correctness posture is [[ZoneMaps]]'s, verbatim: selection is an
  * OPTIMIZATION under an always-applied equality filter, and it errs
  * toward inclusion — a file absent from the sidecar, a missing or
  * corrupt sidecar, or an untracked column all degrade to reading
  * everything (same rows, no skipping). A Bloom filter has no false
  * negatives by construction, so a skipped file provably lacks the
  * key.
  *
  * Build cost, stated honestly: unlike min/max stats (footer-only),
  * blooms need the COLUMN DATA — one distributed scan of the dir per
  * sidecar write (the price Delta pays computing stats at write
  * time). The scan emits per-partition partial blooms that OR-merge
  * per file (a parquet file may span Spark partitions), sized from a
  * footer row-count pass at `bitsPerRow` bits (default 10 ≈ 1% fpp
  * with the 7-hash double-hashing scheme below). The sidecar is
  * streamed to disk one file-entry at a time — driver memory holds
  * one bloom, not the dir's worth.
  *
  * Probe cost: a point probe must consult EVERY file's bloom, so a
  * read costs Σ bloom bytes of the dir (~0.15% of table bytes at 10
  * bits/row) — paid once per immutable dir and memoized in-JVM for
  * the serving case. The knob a 100 TB deployment turns is
  * `bitsPerRow` (fpp vs sidecar bytes), not the design. */
object ZoneBlooms {

  def sidecarName(col: String): String = s"_bloom-$col.bin"
  private val Magic = "graft-bloom1"

  /** Fixed-size Bloom filter over 64-bit hashes: double hashing
    * (Kirsch–Mitzenmacher) with `k` probes into a `Long`-word bit
    * array. Merge across partitions is bitwise OR — sizes agree per
    * file by construction. */
  final class SimpleBloom(val k: Int, val words: Array[Long])
      extends Serializable {
    private def nBits = words.length.toLong * 64
    private def set(bit: Long): Unit = {
      val b = ((bit % nBits) + nBits) % nBits
      words((b >>> 6).toInt) |= 1L << (b & 63)
    }
    private def get(bit: Long): Boolean = {
      val b = ((bit % nBits) + nBits) % nBits
      (words((b >>> 6).toInt) & (1L << (b & 63))) != 0
    }
    def put(h: Long): Unit = {
      val h1 = h
      val h2 = mix(h)
      var i = 0
      while (i < k) { set(h1 + i.toLong * h2); i += 1 }
    }
    def mightContain(h: Long): Boolean = {
      val h1 = h
      val h2 = mix(h)
      var i = 0
      while (i < k) { if (!get(h1 + i.toLong * h2)) return false; i += 1 }
      true
    }
    def orInPlace(o: SimpleBloom): SimpleBloom = {
      require(o.words.length == words.length && o.k == k,
        "bloom size mismatch — partials of one file must agree")
      var i = 0
      while (i < words.length) { words(i) |= o.words(i); i += 1 }
      this
    }
  }

  /** splitmix64 finalizer — the avalanche both `put` and probe share;
    * value→hash for the supported column types below. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0x517cc1b727220a95L
    var i = 0
    while (i < bytes.length) { h = mix(h ^ (bytes(i) & 0xffL)); i += 1 }
    h
  }
  private[graft] def hashValue(v: Any): Long = v match {
    case null => mix(0x6e756c6cL) // "null"
    case l: Long => mix(l)
    case i: Int => mix(i.toLong)
    case s: Short => mix(s.toLong)
    case b: Byte => mix(b.toLong)
    case s: String =>
      hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case d: java.math.BigDecimal => hashValue(d.toPlainString)
    case d: BigDecimal => hashValue(d.bigDecimal.toPlainString)
    // dates hash as epoch DAYS — the catalyst-internal Int the write
    // task sees ([[hashInternal]] routes it through the Int arm), so
    // the external java.sql.Date/LocalDate spellings must land on the
    // same long for write/probe agreement (advice-low, r19)
    case d: java.sql.Date => mix(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => mix(d.toEpochDay)
    case other => sys.error(
      s"bloom sidecar: unsupported probe type ${other.getClass.getName}")
  }

  /** [[hashValue]] over CATALYST-internal values — the write-task
    * emission path ([[StatsWrite]]) sees `UTF8String`/`Decimal`, and
    * the hash must agree bit-for-bit with the external-value probe
    * side or every write-time bloom silently false-negatives. */
  private[sources] def hashInternal(v: Any): Long = v match {
    case null => mix(0x6e756c6cL)
    case u: org.apache.spark.unsafe.types.UTF8String => hashBytes(u.getBytes)
    case d: org.apache.spark.sql.types.Decimal => hashValue(d.toJavaBigDecimal)
    case other => hashValue(other)
  }

  /** Probe-side hash: None for a type the sidecar scheme does not
    * cover. The WRITE path keeps [[hashValue]]'s loud error (building
    * a sidecar over an unsupported column is a configuration bug to
    * surface immediately); the READ path must instead degrade to a
    * full scan — "errs toward inclusion" is the documented contract,
    * and a probe value whose runtime type differs from the stored one
    * (Double vs Long, Date vs String) must widen the read, never fail
    * it (review finding, r16). */
  private[graft] def hashValueOpt(v: Any): Option[Long] =
    try Some(hashValue(v))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Coerce an external probe value to the STORED representation of a
    * column of type `dt`, so the probe hash agrees bit-for-bit with
    * the hashes the sidecar was built from. [[hashValue]] hashes by
    * RUNTIME representation — a string `"123"` probed against a long
    * column, or a decimal probe whose scale differs from the column's
    * (`10.5` vs stored `10.50`; `toPlainString` is scale-sensitive),
    * hashes differently and would WRONGLY prune the file holding the
    * key, breaking the "a bloom miss is a proof of absence" contract
    * (advice-high, r17). Returns None when the probe cannot exactly
    * represent a stored value of this type — the caller must degrade
    * to a full scan (inclusion-safe), never prune. */
  private[graft] def coerceProbe(
      dt: org.apache.spark.sql.types.DataType, v: Any): Option[Any] = {
    import org.apache.spark.sql.types._
    if (v == null) return Some(null)
    dt match {
      case ByteType | ShortType | IntegerType | LongType => v match {
        // integer widths all hash via toLong — identity across widths
        case l: Long => Some(l)
        case i: Int => Some(i.toLong)
        case s: Short => Some(s.toLong)
        case b: Byte => Some(b.toLong)
        case s: String =>
          try Some(s.trim.toLong)
          catch { case _: NumberFormatException => None }
        case d: java.math.BigDecimal =>
          try Some(d.longValueExact())
          catch { case _: ArithmeticException => None }
        case d: BigDecimal => coerceProbe(dt, d.bigDecimal)
        case _ => None
      }
      case StringType => v match {
        // a non-string probe of a string column cannot know the stored
        // spelling ("010" vs "10") — only a full scan is safe
        case s: String => Some(s)
        case _ => None
      }
      case d: DecimalType =>
        val bd: Option[java.math.BigDecimal] = v match {
          case x: java.math.BigDecimal => Some(x)
          case x: BigDecimal => Some(x.bigDecimal)
          case l: Long => Some(java.math.BigDecimal.valueOf(l))
          case i: Int => Some(java.math.BigDecimal.valueOf(i.toLong))
          case s: Short => Some(java.math.BigDecimal.valueOf(s.toLong))
          case b: Byte => Some(java.math.BigDecimal.valueOf(b.toLong))
          case s: String =>
            try Some(new java.math.BigDecimal(s.trim))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
        // stored hashes use toPlainString AT THE COLUMN SCALE; a probe
        // needing rounding to reach that scale can't equal any stored
        // value exactly — degrade rather than guess
        bd.flatMap(x =>
          try Some(x.setScale(d.scale, java.math.RoundingMode.UNNECESSARY))
          catch { case _: ArithmeticException => None })
      case DateType => v match {
        // stored hashes are epoch-day longs (catalyst Int days on the
        // write task) — coerce every external date spelling to that;
        // an unparseable probe degrades to a full scan (advice-low,
        // r19: this arm was missing, so date probes never pruned)
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case s: String =>
          try Some(java.time.LocalDate.parse(s.trim).toEpochDay)
          catch { case _: java.time.format.DateTimeParseException => None }
        case _ => None
      }
      case _ => None // not a bloomable column type — full scan
    }
  }

  private[sources] def bloomFor(rows: Long, bitsPerRow: Int): SimpleBloom = {
    val bits = math.max(1024L, rows * bitsPerRow)
    new SimpleBloom(7, new Array[Long](((bits + 63) / 64).toInt))
  }

  /** Build and write per-file blooms for `cols` over every parquet
    * file under `dataDir`: one footer pass for row counts (sizing),
    * one distributed data scan emitting per-partition partials,
    * OR-merged per file and streamed into the sidecars. */
  def writeSidecar(spark: SparkSession, dataDir: String,
      cols: Seq[String], bitsPerRow: Int = 10): Unit = {
    require(cols.nonEmpty, "bloom sidecar needs at least one column")
    import org.apache.spark.sql.functions.{col, input_file_name}
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(dataDir)
    val f = dir.getFileSystem(conf)
    val df0 = graft.Tables.readParquetCached(spark, dataDir)
    cols.foreach(c => require(df0.columns.contains(c),
      s"bloom column '$c' not in $dataDir (has ${df0.columns.mkString(",")})"))
    // footer row counts → per-file bloom sizes (broadcast; tiny)
    val rowCounts: Map[String, Long] = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      def files(p: Path): Seq[Path] = f.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) files(st.getPath)
        else if (n.endsWith(".parquet")) Seq(st.getPath)
        else Nil
      }
      files(dir).map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        // scheme-free absolute path: input_file_name() URIs and
        // Hadoop Path strings disagree on slashes/scheme, the bare
        // path is the common denominator
        try p.toUri.getPath -> r.getRecordCount finally r.close()
      }.toMap
    }
    require(rowCounts.nonEmpty, s"bloom sidecar over empty data dir $dataDir")
    val bcCounts = spark.sparkContext.broadcast(rowCounts)
    val bpr = bitsPerRow
    val colsV = cols.toVector
    // one scan: per-partition partial blooms keyed by (file, col)
    val partials = df0
      .select(input_file_name().as("__f") +: colsV.map(col): _*)
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap
          .empty[(String, String), SimpleBloom]
        it.foreach { row =>
          // input_file_name is a (possibly percent-encoded) URI;
          // normalize to the scheme-free path the row counts key by
          val file = new Path(java.net.URLDecoder.decode(
            row.getString(0), "UTF-8")).toUri.getPath
          var i = 0
          while (i < colsV.length) {
            val b = acc.getOrElseUpdate((file, colsV(i)),
              bloomFor(bcCounts.value.getOrElse(file,
                bcCounts.value.values.max), bpr))
            b.put(hashValue(row.get(i + 1)))
            i += 1
          }
        }
        acc.iterator
      }
      .reduceByKey(_ orInPlace _)
      // deterministic (file, col) order: sidecar bytes must not depend
      // on shuffle-read order, so a write-time-emitted sidecar
      // ([[StatsWrite]]) can be byte-compared against this path
      .sortBy(_._1)
    // stream the sidecars: one bloom in driver memory at a time
    val byCol = colsV.map(c => c -> f.create(
      new Path(dir, sidecarName(c)), true)).toMap
    try {
      byCol.values.foreach { out =>
        out.writeUTF(Magic)
      }
      val dirPath = dir.toUri.getPath
      partials.toLocalIterator.foreach { case ((file, c), bloom) =>
        val rel = file.stripPrefix(dirPath).stripPrefix("/")
        writeEntry(byCol(c), rel, bloom)
      }
    } finally byCol.values.foreach(_.close())
  }

  private def writeEntry(out: org.apache.hadoop.fs.FSDataOutputStream,
      rel: String, bloom: SimpleBloom): Unit = {
    out.writeUTF(rel)
    out.writeInt(bloom.k)
    out.writeInt(bloom.words.length)
    bloom.words.foreach(out.writeLong)
  }

  /** Write one column's sidecar from already-computed per-file blooms
    * — the WRITE-TIME emission path ([[StatsWrite]]): the blooms were
    * built by the tasks that wrote the files, so no second data scan
    * happens here. Entries must arrive in deterministic (sorted-file)
    * order for byte-identity with [[writeSidecar]]. */
  private[sources] def writeSidecarFromParts(f: FileSystem, dataDir: Path,
      col: String, entries: Seq[(String, SimpleBloom)]): Unit = {
    val out = f.create(new Path(dataDir, sidecarName(col)), true)
    try {
      out.writeUTF(Magic)
      entries.foreach { case (rel, b) => writeEntry(out, rel, b) }
    } finally out.close()
  }

  /** Blooms of a data dir for `col`, if present and well-formed —
    * memoized per (immutable) dir+col, bounded. */
  def readSidecar(spark: SparkSession, dataDir: String,
      col: String): Option[Map[String, SimpleBloom]] = {
    val key = s"$dataDir#$col"
    val hit = cache.get(key)
    if (hit != null) return hit
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(dataDir)
    val f = dir.getFileSystem(conf)
    val p = new Path(dir, sidecarName(col))
    val loaded: Option[Map[String, SimpleBloom]] =
      if (!f.exists(p)) None
      else try {
        val in = f.open(p)
        try {
          if (in.readUTF() != Magic) None
          else {
            val m = Map.newBuilder[String, SimpleBloom]
            var eof = false
            while (!eof) {
              val rel =
                try in.readUTF()
                catch { case _: java.io.EOFException => eof = true; null }
              if (!eof) {
                val k = in.readInt()
                val n = in.readInt()
                if (k <= 0 || k > 64 || n <= 0 || n > (1 << 28))
                  sys.error("corrupt bloom entry")
                val words = new Array[Long](n)
                var i = 0
                while (i < n) { words(i) = in.readLong(); i += 1 }
                m += rel -> new SimpleBloom(k, words)
              }
            }
            Some(m.result())
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    if (cache.size >= 64) cache.clear()
    cache.putIfAbsent(key, loaded)
    loaded
  }
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[Map[String, SimpleBloom]]]()

  /** Which columns a data dir carries bloom sidecars for. */
  def sidecarCols(spark: SparkSession, dataDir: String): Seq[String] = {
    val dir = new Path(dataDir)
    val f = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("_bloom-") && n.endsWith(".bin"))
      .map(n => n.stripPrefix("_bloom-").stripSuffix(".bin")).sorted
  }

  /** Files that may hold `col = value`: bloom-positive files plus any
    * file the sidecar does not cover (inclusion-safe). None when no
    * sidecar tracks the column OR the probe value's runtime type is
    * one the scheme cannot hash — both degrade the caller to a full
    * scan (same rows, no skipping), never to an error. */
  def selectFiles(spark: SparkSession, dataDir: String, col: String,
      value: Any, allFiles: Seq[String]): Option[Seq[String]] =
    selectFilesAny(spark, dataDir, col, Seq(value), allFiles)

  /** Files that may hold `col = v` for ANY of `values` — the batch
    * point probe (auditing a whole takedown batch in one read). A
    * file survives if its bloom claims at least one of the probe
    * hashes; any unhashable value degrades the whole probe to a full
    * scan (inclusion-safe, like [[selectFiles]]). */
  def selectFilesAny(spark: SparkSession, dataDir: String, col: String,
      values: Seq[Any], allFiles: Seq[String]): Option[Seq[String]] =
    for {
      blooms <- readSidecar(spark, dataDir, col)
      hs <- {
        val opts = values.map(hashValueOpt)
        if (opts.exists(_.isEmpty)) None else Some(opts.flatten)
      }
    } yield allFiles.filter(rel =>
      blooms.get(rel).forall(b => hs.exists(b.mightContain)))
}
