package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.queries.Similarity

/** Streaming embedding dedup: q103's batch-vs-corpus semantic check
  * ([[Similarity.flagAgainstCells]] — one definition, both execution
  * modes) applied AT INGEST. Incoming vectors are assigned to cells
  * with the FROZEN coarse-quantizer artifact (map-side, broadcast
  * codebook), compared only against the standing corpus index in
  * their cell, and verified near-dups are quarantined with their
  * `dup_of` evidence before they ever reach the vector store — the
  * embedding member of the ingest-time family (quality gate,
  * decontamination, mixing, LSH text dedup, entity canon).
  *
  * Same seam as [[StreamingDeltaDedup]]: stateless per-batch routing
  * against a static index (no state store, no watermark),
  * `foreachBatch` forking into kept/dup sinks, idempotent Overwrite
  * into per-`graft_batch_id` directories so a crash-replayed batch
  * overwrites its earlier attempt.
  *
  * Scale shape: the corpus index (assignment + quantized codes, no
  * raw floats) is derived ONCE at [[start]] and cached — at
  * production scale it is the persisted IVF index the batch pipeline
  * already maintains; each micro-batch costs |batch| × cell
  * occupancy, never corpus × corpus.
  */
object StreamingEmbedDedup {

  /** Route one micro-batch into kept/dup sinks, idempotently on
    * `batchId`. Package-visible seam so the spec can prove replay
    * does not duplicate rows and that stream ≡ batch q103. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      corpusIdx: DataFrame, cb: graft.functions.CentroidCodebook,
      outDir: String): Unit = {
    val flags = Similarity.flagAgainstCells(
      Similarity.assignCells(batch, cb), corpusIdx, threshold = 0.35)
    val b = batch.join(flags.select(col("vec_id"), col("is_dup"),
      col("dup_of")), "vec_id").persist()
    b.filter(col("is_dup") === 0L).drop("is_dup", "dup_of")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/kept/graft_batch_id=$batchId")
    // quarantined near-dups keep their dup_of evidence — dedup audits
    // need to see what was dropped and which corpus vector it matches
    b.filter(col("is_dup") === 1L).drop("is_dup")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/dup/graft_batch_id=$batchId")
    b.unpersist()
    ()
  }

  /** Read a kept/dup sink back as one frame, hiding the per-batch
    * idempotency directories. */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    graft.Tables.readParquetCached(spark, sinkDir).drop("graft_batch_id")

  /** Start the embedding-dedup ingest against a VERSIONED embeddings
    * lake — [[StreamingWindowMass.startVersioned]]'s contract for the
    * vector family: every micro-batch re-resolves the lake's current
    * version (one marker listing) and routes against THAT version's
    * incrementally-maintained IVF artifact
    * ([[Similarity.ivfIndexAt]]), so a corpus publish landing
    * mid-stream changes routing for subsequent batches only, and the
    * refresh costs a frozen-centroid delta append (or a cache read),
    * never a corpus re-assignment. The codebook rides in the resolved
    * artifact itself ([[Similarity.codebookFromIndex]]) — stream and
    * batch can never disagree about centroids. */
  def startVersioned(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, lakeBase: String): StreamingQuery = {
    import graft.sources.Versioned
    var cached: Option[(Long, DataFrame,
      graft.functions.CentroidCodebook)] = None
    def resolve(): (DataFrame, graft.functions.CentroidCodebook) = {
      val v = Versioned.currentVersion(spark, lakeBase).getOrElse(
        sys.error(s"streaming embed dedup: no committed version at $lakeBase"))
      cached match {
        case Some((have, idx, cb)) if have == v => (idx, cb)
        case stale =>
          stale.foreach(_._2.unpersist())
          val idx = Similarity.ivfIndexAt(spark, lakeBase, v).persist()
          idx.count()
          val cb = Similarity.codebookFromIndex(idx)
          cached = Some((v, idx, cb))
          (idx, cb)
      }
    }
    val query = spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (idx, cb) = resolve()
        writeBatch(batch, batchId, idx, cb, outDir)
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

  /** Start the embedding-dedup ingest over a directory of parquet
    * vector files, checking each batch against `corpus` (any frame
    * with `vec_id` and `embedding`). `codebookSource` is the frame the
    * frozen quantizer artifact derives from — at production scale a
    * persisted codebook table; passing the full historical embeddings
    * frame reproduces batch q103 exactly (proven in the spec). */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, corpus: DataFrame,
      codebookSource: DataFrame): StreamingQuery = {
    // derive the frozen codebook + corpus index once, before the
    // stream starts
    val cb = Similarity.frozenCodebook(codebookSource)
    val corpusIdx = Similarity.assignCells(corpus, cb).persist()
    corpusIdx.count()

    val query = spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, corpusIdx, cb, outDir)
      }
      .start()
    // release the index cache when this query ends (same lifecycle —
    // and the same registration-race guard — as StreamingDeltaDedup)
    val qid = query.id
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            corpusIdx.unpersist()
            spark.streams.removeListener(this)
          }
      }
    spark.streams.addListener(listener)
    // the terminated event can fire BEFORE the listener registers (an
    // AvailableNow query over a tiny directory finishes fast, and the
    // bus does not replay past events); both cleanups are idempotent
    if (!query.isActive) {
      corpusIdx.unpersist()
      spark.streams.removeListener(listener)
    }
    query
  }
}
