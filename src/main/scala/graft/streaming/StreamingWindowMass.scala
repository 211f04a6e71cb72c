package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.queries.Dedup

/** Streaming verbatim-overlap scoring: q107's batch-vs-corpus window
  * mass ([[Dedup.massAgainstWindowIndex]] — one definition, both
  * execution modes) applied AT INGEST. Each arriving document is
  * scored for how much of it already exists verbatim in the standing
  * corpus — the ExactSubstr ingest gate: a score, not a binary
  * verdict, so downstream policy (drop, trim, keep-with-weight)
  * stays a policy choice, which is why this seam writes a LEDGER
  * rather than routing into kept/dup like [[StreamingDeltaDedup]].
  *
  * Stateless per-batch scoring against a static index (no state
  * store, no watermark); `foreachBatch` + idempotent Overwrite into
  * per-`graft_batch_id` directories so a crash-replayed batch
  * overwrites its earlier attempt.
  *
  * Scale shape: the distinct-window set is derived once at [[start]]
  * and cached — in production it is the persisted `win-` artifact the
  * batch pipeline already maintains ([[Dedup.windowIndex]]), so each
  * micro-batch costs |batch windows| × join, never a corpus re-scan.
  */
object StreamingWindowMass {

  /** Score one micro-batch, idempotently on `batchId`. Package-visible
    * seam so the spec can prove replay does not duplicate rows and
    * that stream ≡ batch q107. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      idx: DataFrame, outDir: String): Unit = {
    Dedup.massAgainstWindowIndex(batch, idx)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/scored/graft_batch_id=$batchId")
    ()
  }

  /** Read the scored ledger back as one frame. */
  def readSink(spark: SparkSession, outDir: String): DataFrame =
    graft.Tables.readParquetCached(spark, s"$outDir/scored")
      .drop("graft_batch_id")

  /** Start the scoring ingest against a VERSIONED corpus lake: every
    * micro-batch first re-resolves the lake's current version (one
    * marker-dir listing — cheap enough per batch) and scores against
    * THAT version's window index, so a corpus publish that lands
    * mid-stream changes scoring for subsequent batches — a
    * long-running ingest is never pinned to the corpus it happened to
    * start under (the r13 gap: [[start]] caches once, forever). The
    * index per version comes from [[Dedup.windowIndexAt]], the
    * incrementally-maintained artifact — so the mid-stream refresh
    * costs a delta merge (or a cache read, if the batch pipeline
    * already built it), never a corpus re-scan. The resolved index is
    * cached until the version actually changes. */
  def startVersioned(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, lakeBase: String): StreamingQuery = {
    import graft.sources.Versioned
    // driver-side (version → cached index) slot; foreachBatch runs on
    // the driver, one batch at a time, so plain mutation is safe
    var cached: Option[(Long, DataFrame)] = None
    def indexForCurrentVersion(): DataFrame = {
      val v = Versioned.currentVersion(spark, lakeBase).getOrElse(
        sys.error(s"streaming scorer: no committed version at $lakeBase"))
      cached match {
        case Some((have, idx)) if have == v => idx
        case stale =>
          stale.foreach(_._2.unpersist())
          val idx = Dedup.windowIndexAt(spark, lakeBase, v).persist()
          idx.count()
          cached = Some((v, idx))
          idx
      }
    }
    val query = spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, indexForCurrentVersion(), outDir)
      }
      .start()
    val qid = query.id
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            cached.foreach(_._2.unpersist()); cached = None
            spark.streams.removeListener(this)
          }
      }
    spark.streams.addListener(listener)
    if (!query.isActive) {
      cached.foreach(_._2.unpersist()); cached = None
      spark.streams.removeListener(listener)
    }
    query
  }

  /** Start the scoring ingest over a directory of parquet document
    * files, scoring each batch against the distinct windows of
    * `corpus` (any frame with doc_id + text). */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, corpus: DataFrame): StreamingQuery = {
    val idx = Dedup.distinctWindowsOf(corpus).persist()
    idx.count()

    val query = spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, idx, outDir)
      }
      .start()
    // index cache released when the query ends (same lifecycle + race
    // guard as StreamingDeltaDedup)
    val qid = query.id
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            idx.unpersist()
            spark.streams.removeListener(this)
          }
      }
    spark.streams.addListener(listener)
    if (!query.isActive) {
      idx.unpersist()
      spark.streams.removeListener(listener)
    }
    query
  }
}
