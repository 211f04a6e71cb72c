package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Always parquet + explicit path; schema comes from the files'
  * footers (columnar, self-describing) so scans get column pruning
  * and predicate pushdown for free. At 100 TB these would be
  * catalog tables partitioned on their date keys — the loader is the
  * single seam where that swap happens.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else readParquetCached(spark, s"$dir/$name.parquet")

  /** Footer-schema cache — the catalog seam the scaladoc above names,
    * applied to schema resolution. A bare-path `spark.read.parquet`
    * resolves its schema with a one-task Spark job
    * (`mergeSchemasInParallel`) on EVERY plan; at bench grain the job
    * floor, not the scan, is the cost (guide §1.2 "per-task work").
    * Here no read pays that job: a first read resolves the schema
    * from one footer on the driver ([[footerRead]]), and later reads
    * hit this cache. It holds METADATA ONLY (a StructType), keyed by
    * the paths' file listings (path:length:mtime — [[fileFingerprint]],
    * the ArtifactStore staleness discipline) and by the session's
    * footer-conversion settings: a regenerated table misses the key
    * and re-reads its footer. Every action still scans the parquet
    * files; results and file listings are never cached here. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, StructType]

  /** The one parquet reader of bare paths — tables, artifacts, lake
    * data dirs, streaming ledgers and sinks: one fingerprint-guarded
    * schema per path set per JVM, fresh reader every call. Several
    * paths read as one frame, as `spark.read.parquet(paths: _*)`. */
  private[graft] def readParquetCached(spark: SparkSession, paths: String*)
      : DataFrame = {
    val c = spark.sessionState.conf
    val settings = Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong)
    val key = paths.map(p => s"$p@${fileFingerprint(spark, p)}")
      .mkString("|") + settings.mkString("|", ",", "")
    Option(schemaCache.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None =>
        val df = footerRead(spark, paths)
        schemaCache.put(key, df.schema)
        df
    }
  }

  /** `spark.read.parquet(paths: _*)` without its schema-inference job.
    * Spark's inference (no `mergeSchema`) reads ONE footer: of the file
    * index's leaf files sorted by path, `_common_metadata` if present,
    * else `_metadata`, else the first data file. Here the same file
    * index lists on the driver, the same footer is read on the driver
    * and converted by the same converter under the session's settings
    * (`nanosAsLong`, binary/int96 handling); the reader given that
    * data schema adds the partition columns, whose discovery is a
    * driver-side listing. Paths with no data file fall through to
    * Spark's own inference, which fails loudly
    * (`UNABLE_TO_INFER_SCHEMA`). */
  private[graft] def footerRead(spark: SparkSession, paths: Seq[String])
      : DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val files = new InMemoryFileIndex(spark, paths.map(new Path(_)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries(f.getPath.getName))) match {
      case None => spark.read.parquet(paths: _*)
      case Some(st) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, spark.sessionState.newHadoopConf()),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val data = ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(data).parquet(paths: _*)
    }
  }

  /** `events.ts` has shipped in two generations of the testdata:
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — µs is
    * its max precision — so the legacy conf reads it as a raw nanos
    * long) and plain timestamp[us]. Branch on the type the footer
    * actually resolves to, not on an assumption: a long is nanos and
    * gets truncated to µs (matching DuckDB's µs semantics), a
    * timestamp passes through. Either way callers see one contract:
    * `ts: TimestampType` at µs precision. */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    // the legacy conf must be live BEFORE schema resolution (it decides
    // whether a nanos ts resolves to long), and stays set for the scan
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(readParquetCached(spark, s"$dir/events.parquet"))
  }

  /** ts-layout adaptation shared by the batch and streaming loaders. */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not `/`: ns epochs (~1.7e18) overflow double precision
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ =>
        // TIMESTAMP_NTZ: same µs instants; every session here runs UTC,
        // so the cast is a re-tag, not a clock shift
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Streaming twin of `events`: `readStream` needs an explicit schema,
    * so borrow the batch seam's footer-resolved one, then apply the
    * same ts adaptation. `path` may be the parquet file itself (file
    * streams list a directory, so a file streams its parent under a
    * glob) or a directory of arriving files. */
  def eventsStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val f = new java.io.File(path)
    val (base, glob) =
      if (f.isFile) (f.getParent, Some(f.getName)) else (path, None)
    val schema = readParquetCached(spark, path).schema
    val reader = spark.readStream.schema(schema)
    normalizeEventsTs(
      glob.fold(reader)(g => reader.option("pathGlobFilter", g)).parquet(base))
  }

  /** Register every table as a temp view so `spark.sql` queries and the
    * DuckDB oracle share one set of table names. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Metadata fingerprint of a table path — md5 over every file's
    * (path, length, mtime). The content-address key for derived
    * artifacts (signature index, subword vocabulary): a changed table
    * produces a new key, so staleness is impossible by construction
    * and the check costs one listing, never a scan. */
  def fileFingerprint(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val statuses =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).sortBy(_.getPath.toString)
      else Array(fs.getFileStatus(p))
    val s = statuses
      .map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
      .mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
