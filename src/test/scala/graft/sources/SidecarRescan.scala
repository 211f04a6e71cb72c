package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

import ZoneMaps.{ColStats, FileStats, unsignedLt}

/** The sidecar builders [[StatsWrite]] replaced, kept as the reference
  * its write-time sidecars must equal byte for byte: zone-map bounds
  * from a serial walk over the written files' parquet footers, Bloom
  * filters from a re-scan of the written column values (hashed as
  * external values, sized from footer row counts). Both re-read the
  * dir they describe, which is why no publish uses them. */
object SidecarRescan {

  private def parquetFiles(f: FileSystem, dir: Path): Seq[Path] = {
    def walk(p: Path): Seq[Path] = f.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) walk(st.getPath)
      else if (n.endsWith(".parquet")) Seq(st.getPath)
      else Nil
    }
    // sorted: listStatus order is filesystem-dependent; the write
    // tasks' sidecars list files in sorted-path order too
    walk(dir).sortBy(_.toString)
  }

  /** Read ONE file's footer and fold its row-group statistics into
    * per-column bounds. Metadata-only I/O — no data pages touched. */
  private def fileStats(conf: org.apache.hadoop.conf.Configuration,
      dir: Path, file: Path, cols: Seq[String]): FileStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val chunks = reader.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString)
      val out = cols.flatMap { c =>
        chunks.get(c).map { cc =>
          val prim = cc.head.getPrimitiveType
          // DECIMAL rides three physical encodings (Spark: INT32 for
          // p≤9, INT64 for p≤18, FIXED_LEN_BYTE_ARRAY beyond or in
          // legacy mode) — all carry exact unscaled stats; decode to
          // BigDecimal bounds rather than (a) never pruning FLBA or
          // (b) comparing UNSCALED ints against the caller's scaled
          // probe, which would prune files that match (the one way a
          // zone map can lose rows).
          val decScale: Option[Int] = prim.getLogicalTypeAnnotation match {
            case d: org.apache.parquet.schema.LogicalTypeAnnotation
                  .DecimalLogicalTypeAnnotation => Some(d.getScale)
            case _ => None
          }
          // DATE/TIMESTAMP annotations get their own tpe so selection
          // can convert calendar probe values (LocalDate / Instant /
          // Timestamp) to the column's stored unit — the stats
          // themselves are plain longs (epoch days / millis / micros /
          // nanos) and fold through the long accumulator
          val timeTpe: Option[String] = prim.getLogicalTypeAnnotation match {
            case _: org.apache.parquet.schema.LogicalTypeAnnotation
                  .DateLogicalTypeAnnotation => Some("date")
            case t: org.apache.parquet.schema.LogicalTypeAnnotation
                  .TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimeUnit.MILLIS => Some("tsmillis")
                case org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimeUnit.MICROS => Some("tsmicros")
                case org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimeUnit.NANOS => Some("tsnanos")
                case _ => None
              }
            case _ => None
          }
          val tpe = prim.getPrimitiveTypeName match {
            case _ if decScale.isDefined => "decimal"
            case INT32 | INT64 if timeTpe.isDefined => timeTpe.get
            case INT32 | INT64 => "long"
            case FLOAT | DOUBLE => "double"
            case BINARY => "string"
            case _ => "opaque" // e.g. FLBA UUIDs / INT96
          }
          if (tpe == "opaque") c -> ColStats(tpe, "U", "", "")
          else {
            // fold row groups: every group must contribute usable
            // stats or the file is UNKNOWN; a group that is entirely
            // null contributes "no rows in range"
            var minL = Long.MaxValue; var maxL = Long.MinValue
            var minD = Double.PositiveInfinity; var maxD = Double.NegativeInfinity
            var minB: Array[Byte] = null; var maxB: Array[Byte] = null
            var minU: java.math.BigInteger = null // decimal, unscaled
            var maxU: java.math.BigInteger = null
            var sawValues = false
            var unknown = false
            cc.foreach { chunk =>
              val st: org.apache.parquet.column.statistics.Statistics[_] =
                chunk.getStatistics
              val allNull = st != null && st.isNumNullsSet &&
                st.getNumNulls == chunk.getValueCount
              if (st == null || (!st.hasNonNullValue && !allNull)) unknown = true
              else if (!allNull) {
                sawValues = true
                tpe match {
                  case "long" | "date" | "tsmillis" | "tsmicros" | "tsnanos" =>
                    val lo = st.genericGetMin.asInstanceOf[Number].longValue
                    val hi = st.genericGetMax.asInstanceOf[Number].longValue
                    if (lo < minL) minL = lo
                    if (hi > maxL) maxL = hi
                  case "double" =>
                    val lo = st.genericGetMin.asInstanceOf[Number].doubleValue
                    val hi = st.genericGetMax.asInstanceOf[Number].doubleValue
                    if (lo < minD) minD = lo
                    if (hi > maxD) maxD = hi
                  case "string" =>
                    val lo = st.genericGetMin
                      .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                    val hi = st.genericGetMax
                      .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                    if (minB == null || unsignedLt(lo, minB)) minB = lo
                    if (maxB == null || unsignedLt(maxB, hi)) maxB = hi
                  case "decimal" =>
                    // INT32/INT64 backings carry the unscaled value as
                    // a plain number; BINARY/FLBA as big-endian two's
                    // complement — exactly BigInteger's byte form
                    def unscaled(v: Any): java.math.BigInteger = v match {
                      case n: Number =>
                        java.math.BigInteger.valueOf(n.longValue)
                      case b: org.apache.parquet.io.api.Binary =>
                        new java.math.BigInteger(b.getBytes)
                    }
                    val lo = unscaled(st.genericGetMin)
                    val hi = unscaled(st.genericGetMax)
                    if (minU == null || lo.compareTo(minU) < 0) minU = lo
                    if (maxU == null || maxU.compareTo(hi) < 0) maxU = hi
                }
              }
            }
            val stats =
              if (unknown) ColStats(tpe, "U", "", "")
              else if (!sawValues) ColStats(tpe, "N", "", "")
              else tpe match {
                case "long" | "date" | "tsmillis" | "tsmicros" | "tsnanos" =>
                  ColStats(tpe, "K", minL.toString, maxL.toString)
                case "double" => ColStats(tpe, "K",
                  java.lang.Double.doubleToRawLongBits(minD).toString,
                  java.lang.Double.doubleToRawLongBits(maxD).toString)
                case "string" =>
                  val enc = java.util.Base64.getEncoder
                  ColStats(tpe, "K", enc.encodeToString(minB), enc.encodeToString(maxB))
                case "decimal" =>
                  val s = decScale.get
                  ColStats(tpe, "K",
                    new java.math.BigDecimal(minU, s).toPlainString,
                    new java.math.BigDecimal(maxU, s).toPlainString)
              }
            c -> stats
          }
        }
      }.toMap
      val rel = file.toUri.getPath.stripPrefix(dir.toUri.getPath).stripPrefix("/")
      FileStats(rel, out)
    } finally reader.close()
  }

  /** Zone-map sidecar of `dataDir` from its footers. Fails loudly if
    * a column appears in NO footer (typo / partition column). */
  def zoneMap(spark: SparkSession, dataDir: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "zone map needs at least one column")
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(dataDir)
    val f = dir.getFileSystem(conf)
    val files = parquetFiles(f, dir)
    require(files.nonEmpty, s"zone map over empty data dir $dataDir")
    val stats = files.map(fileStats(conf, dir, _, cols))
    cols.foreach { c =>
      require(stats.exists(_.cols.contains(c)),
        s"zone map column '$c' appears in no parquet footer under " +
          s"$dataDir — misspelled, or a partition column (dir-encoded, " +
          "use partition pruning instead)")
    }
    ZoneMaps.writeSidecarFromParts(f, dir, cols, stats)
  }

  /** Bloom sidecars of `dataDir` for `cols` from one scan of its rows,
    * each file's filter sized from its footer row count. A file with no
    * rows gets no entry. */
  def blooms(spark: SparkSession, dataDir: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "bloom sidecar needs at least one column")
    import org.apache.spark.sql.functions.{col, input_file_name}
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(dataDir)
    val f = dir.getFileSystem(conf)
    // scheme-free absolute paths: input_file_name() URIs and Hadoop
    // Path strings disagree on slashes/scheme, the bare path is the
    // common denominator
    val rowCounts = parquetFiles(f, dir).map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try p.toUri.getPath -> r.getRecordCount finally r.close()
    }.toMap
    require(rowCounts.nonEmpty, s"bloom sidecar over empty data dir $dataDir")
    val rows = spark.read.parquet(dataDir)
      .select(input_file_name() +: cols.map(col): _*).collect()
      .groupBy(r => new Path(java.net.URLDecoder.decode(
        r.getString(0), "UTF-8")).toUri.getPath)
      .toSeq.sortBy(_._1)
    val dirPath = dir.toUri.getPath
    cols.zipWithIndex.foreach { case (c, i) =>
      ZoneBlooms.writeSidecarFromParts(f, dir, c, rows.map { case (file, rs) =>
        val b = ZoneBlooms.bloomFor(rowCounts(file))
        rs.foreach(r => b.put(ZoneBlooms.hashValue(r.get(i + 1))))
        file.stripPrefix(dirPath).stripPrefix("/") -> b
      })
    }
  }
}
