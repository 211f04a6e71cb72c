package graft.sources

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Write-once publication of content-addressed derived tables — the
  * seam behind the persisted signature index
  * ([[graft.queries.Dedup.signatureIndex]]) and PQ code table
  * ([[graft.queries.Similarity.pqCodesIndex]]).
  *
  * Contract: the caller keys the output path by a fingerprint of the
  * SOURCE data ([[graft.Tables.fileFingerprint]] — file metadata, one
  * listing, never a scan), so a changed source produces a new path and
  * staleness is impossible by construction; the builder must be
  * deterministic, so a republish or a lost publish race yields a
  * value-identical table. Publish is write-to-staging + atomic rename
  * (the [[Lake]] swap discipline); an `out` directory without its
  * `_SUCCESS` marker is a crashed publish and is cleared before
  * retrying.
  */
object ArtifactStore {

  /** Read-through memo of a driver-side value derived from a published
    * artifact: get → compute OUTSIDE any lock → putIfAbsent.
    * `computeIfAbsent` would run a full Spark job while holding the
    * map's bin lock, so an unrelated request hashing to the same bin
    * blocks behind a histogram scan or a BPE training (review finding,
    * r15). The loser of a compute race discards its (deterministic,
    * artifact-backed) value — strictly cheaper than serializing every
    * miss. Callers key by content-addressed artifact path (one entry
    * per corpus / lake version), so a hit can never be stale; a
    * long-lived server accretes entries, and the size cap bounds that
    * by resetting the map — entries are re-readable from their
    * artifacts, so eviction costs a memo miss, never a retrain. */
  def memo[K, V <: AnyRef](
      cache: java.util.concurrent.ConcurrentHashMap[K, V], key: K)(
      f: => V): V = {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val v = f
      if (cache.size >= 64) cache.clear()
      val prev = cache.putIfAbsent(key, v)
      if (prev != null) prev else v
    }
  }

  /** The artifact at `out`, if a completed publish exists there —
    * never builds. The probe incremental maintenance runs against its
    * previous version ([[graft.queries.Dedup.windowIndexAt]]): a
    * present predecessor means merge-the-delta, an absent one means
    * full build. */
  def readIfPresent(spark: SparkSession, out: String): Option[DataFrame] = {
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new Path(outPath, "_SUCCESS")))
      // fingerprint-guarded schema cache (graft.Tables): a published
      // artifact path is immutable (content-addressed), so its footer
      // schema never changes — skip the per-plan inference job
      Some(graft.Tables.readParquetCached(spark, out))
    else None
  }

  /** Whether a completed publish exists at `out` — the `_SUCCESS`
    * probe alone, no reader construction: the cheap existence check a
    * resume-from-newest walk wants (one FS call per probe, never a
    * parquet footer read). */
  def exists(spark: SparkSession, out: String): Boolean = {
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new Path(outPath, "_SUCCESS"))
  }

  /** [[readIfPresent]] through the bucketed-catalog registration: the
    * returned frame ADVERTISES its hash-partitioned layout, so a
    * downstream join or aggregate on `bucketCol` plans without an
    * exchange on this side. The plain [[readIfPresent]] over the same
    * files would read fine but re-shuffle — which is exactly the
    * standing-side exchange incremental maintenance exists to avoid. */
  def readIfPresentBucketed(spark: SparkSession, out: String,
      bucketCol: String, buckets: Int): Option[DataFrame] = {
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new Path(outPath, "_SUCCESS")))
      Some(bucketedTable(spark, out, bucketCol, buckets))
    else None
  }

  /** Read the table at `out`, building and atomically publishing it
    * first when absent. `build` is evaluated only on a miss. */
  def readOrPublish(spark: SparkSession, out: String)
      (build: => DataFrame): DataFrame = {
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(outPath, "_SUCCESS"))) {
      val staging = new Path(outPath.getParent,
        s".staging-${outPath.getName}-${java.util.UUID.randomUUID}")
      build.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      promote(spark, staging, outPath)
    }
    graft.Tables.readParquetCached(spark, out)
  }

  /** [[readOrPublish]] with a BUCKETED layout: the artifact is written
    * hash-partitioned (and sorted) by `bucketCol` into `buckets`
    * files, and read back through a catalog table that declares that
    * layout — so every consumer joining or aggregating on `bucketCol`
    * gets the index side WITHOUT an Exchange: only the probe (delta)
    * side shuffles. That is the asymmetry that matters at 100 TB: the
    * standing index is the big side, the daily batch the small one,
    * and a plain-parquet artifact forces the big side through a
    * corpus-sized exchange on every probe.
    *
    * Mechanics, since path-based writes cannot carry bucket metadata:
    * the frame is written via a throwaway EXTERNAL catalog table at a
    * staging path (Spark's `bucketBy` encodes the bucket id in each
    * file name), the table entry is dropped (external ⇒ files stay),
    * and the staging dir promotes by the same atomic rename as
    * [[readOrPublish]]. Readers re-register a session-local external
    * table over the published path declaring the same CLUSTERED BY
    * spec — file names carry the bucket assignment, so the layout
    * survives JVMs while the catalog entry (in-memory) does not.
    * Callers must fold the bucket parameters into the artifact path:
    * a layout change must be a new artifact, never a reinterpreted
    * one. */
  def readOrPublishBucketed(spark: SparkSession, out: String,
      bucketCol: String, buckets: Int, prealigned: Boolean = false)
      (build: => DataFrame): DataFrame = {
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(outPath, "_SUCCESS"))) {
      val staging = new Path(outPath.getParent,
        s".staging-${outPath.getName}-${java.util.UUID.randomUUID}")
      val stageTable =
        s"graft_stage_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      // repartition on the bucket key first: bucketBy splits each
      // WRITE TASK's rows across its buckets, so an unaligned upstream
      // partitioning writes tasks×buckets small files; pre-hashing on
      // the same key (same Murmur3 HashPartitioning) collapses that to
      // one file per bucket. A PREALIGNED builder promises every input
      // partition already holds exactly one bucket's rows (e.g. a
      // bucketed previous artifact unioned with a bucket-repartitioned
      // delta) — skipping the repartition here is what lets an
      // incremental maintenance write O(|delta|) shuffle instead of
      // re-exchanging the standing index; the cost is one file per
      // CONTRIBUTING PARTITION per bucket (bucket ids ride in file
      // names, so multi-file buckets stay valid bucketed reads).
      val frame = if (prealigned) build
        else build.repartition(buckets,
          org.apache.spark.sql.functions.col(bucketCol))
      frame
        .write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, bucketCol).sortBy(bucketCol)
        .option("path", staging.toString)
        .saveAsTable(stageTable)
      spark.sql(s"DROP TABLE IF EXISTS $stageTable") // external: files stay
      // an empty frame writes no bucket file at all, so no reader could
      // infer the schema: publish one empty, schema-bearing bucket-0 file
      if (!fs.listStatus(staging).exists(_.getPath.getName.endsWith(".parquet"))) {
        val empty = new Path(outPath.getParent,
          s".empty-${outPath.getName}-${java.util.UUID.randomUUID}")
        spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            frame.schema)
          .write.parquet(empty.toString)
        fs.listStatus(empty).filter(_.getPath.getName.endsWith(".parquet"))
          .foreach(f => fs.rename(f.getPath,
            new Path(staging, "part-00000-empty_00000.c000.parquet")))
        fs.delete(empty, true)
      }
      promote(spark, staging, outPath)
    }
    bucketedTable(spark, out, bucketCol, buckets)
  }

  /** Promote a finished staging dir to `out`. An `out` without
    * `_SUCCESS` is a crashed publish and is cleared first. The rename
    * refuses an existing `out` (`Rename.NONE`): `FileSystem.rename`
    * onto an existing directory would move the staging dir INTO it on
    * the local FS and HDFS. A refused rename means a concurrent winner
    * published a value-identical table — drop ours and read theirs. */
  private def promote(spark: SparkSession, staging: Path, out: Path): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = out.getFileSystem(conf)
    fs.mkdirs(out.getParent)
    if (fs.exists(out) && !fs.exists(new Path(out, "_SUCCESS")))
      fs.delete(out, true)
    try FileContext.getFileContext(out.toUri, conf)
      .rename(staging, out, Options.Rename.NONE)
    catch { case _: FileAlreadyExistsException => fs.delete(staging, true) }
  }

  /** Session-local registration of a published bucketed artifact (see
    * [[readOrPublishBucketed]]). Idempotent per session; the table
    * name is derived from the path, so distinct artifacts never
    * collide and a re-read is a catalog hit.
    *
    * HARD INVARIANT: a published artifact path is immutable — the
    * content-addressing contract (path = fingerprint of the source +
    * layout parameters) makes in-place replacement a caller bug, never
    * a supported operation. The catalog entry is still guarded against
    * it: the `_SUCCESS` mtime at registration is recorded in the table
    * properties, and a registration that finds a DIFFERENT mtime under
    * the same path (a deleted-and-republished artifact in one session)
    * drops and recreates the entry from the current parquet footers
    * (the [[graft.Tables.readParquetCached]] seam, so no schema job)
    * instead of serving stale schema/layout metadata. */
  private def bucketedTable(spark: SparkSession, out: String,
      bucketCol: String, buckets: Int): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(out.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
    val name = s"graft_art_$digest"
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    val mtime = fs.getFileStatus(new Path(outPath, "_SUCCESS"))
      .getModificationTime.toString
    if (spark.catalog.tableExists(name)) {
      // direct catalog metadata read (r22): the previous
      // `SHOW TBLPROPERTIES` was a full SQL command execution
      // (parse + analyze + collect) costing ~60–90 ms per artifact
      // read — measured as a visible slice of the per-query fixed
      // floor, since every artifact-backed query re-registers its
      // artifacts on every invocation. Same mtime guard, same drop
      // semantics, one in-process catalog lookup instead.
      val recorded = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier(name))
        .properties.get("graft.success.mtime")
      if (!recorded.contains(mtime))
        spark.sql(s"DROP TABLE $name")
    }
    if (!spark.catalog.tableExists(name)) {
      val schemaDdl = graft.Tables.readParquetCached(spark, out).schema.toDDL
      spark.sql(
        s"""CREATE TABLE $name ($schemaDdl) USING PARQUET
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
           |INTO $buckets BUCKETS
           |LOCATION '$out'
           |TBLPROPERTIES ('graft.success.mtime' = '$mtime')""".stripMargin)
    }
    spark.table(name)
  }
}
