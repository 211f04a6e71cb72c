package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.queries.TextOps

/** Streaming eval-set decontamination: q53's n-gram probe
  * ([[TextOps.decontaminateAgainstGrams]] — one definition, both
  * execution modes) applied at ingest, so benchmark-overlapping
  * documents are quarantined BEFORE they ever reach the corpus store
  * instead of in a later full-corpus sweep (reference semantics:
  * the GPT-3/Gopher/Llama n-gram overlap-removal practice, applied
  * continuously).
  *
  * Same seam as [[StreamingQuality]]: stateless per-row routing (no
  * watermark, no state store — each micro-batch probes independently,
  * constant memory on unbounded input), `foreachBatch` forking the
  * stream into clean/flagged sinks, idempotent Overwrite into
  * per-`graft_batch_id` directories so a crash-replayed batch
  * overwrites its earlier attempt instead of appending duplicates.
  * Flagged rows are KEPT with their overlap count, not dropped —
  * decontamination audits need to see what was removed and why.
  *
  * Scale shape: the eval-gram table is derived ONCE at [[start]] and
  * cached — benchmark sets are tiny next to the corpus stream — then
  * every micro-batch streams through a broadcast hash probe against
  * it (no corpus-side shuffle for the join; the per-doc overlap count
  * is a partial-agg groupBy within the batch).
  */
object StreamingDecontam {

  /** Route one micro-batch into clean/flagged sinks, idempotently on
    * `batchId`. Package-visible seam so the spec can prove redelivery
    * of a batchId does not duplicate rows. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      evalGrams: DataFrame, outDir: String): Unit = {
    val flags = TextOps.decontaminateAgainstGrams(batch, evalGrams)
    val b = batch.join(flags, "doc_id").persist()
    b.filter(!col("contaminated")).drop("contaminated")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/clean/graft_batch_id=$batchId")
    b.filter(col("contaminated")).drop("contaminated")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/flagged/graft_batch_id=$batchId")
    b.unpersist()
    ()
  }

  /** Read a clean/flagged sink back as one frame, hiding the per-batch
    * idempotency directories (see [[StreamingQuality.readSink]]). */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    graft.Tables.readParquetCached(spark, sinkDir).drop("graft_batch_id")

  /** Start the decontaminating ingest over a directory of parquet
    * document files. Rows sharing no word-3-gram with `evalSet` land
    * in `outDir/clean`; overlapping rows in `outDir/flagged` with
    * their `n_shared_ngrams` evidence. */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, evalSet: DataFrame): StreamingQuery = {
    // derive + cache the probe table once, before the stream starts —
    // re-deriving the (static) eval grams per micro-batch is pure waste
    val evalGrams = TextOps.evalGrams(evalSet).persist()
    evalGrams.count()

    val query = spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, evalGrams, outDir)
      }
      .start()
    // release the probe cache when THIS query ends (stop or natural
    // AvailableNow termination) — successive retrain/restart runs in
    // one session would otherwise each leak a cached gram table into
    // executor storage until the session dies
    val qid = query.id
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            evalGrams.unpersist()
            spark.streams.removeListener(this)
          }
      }
    spark.streams.addListener(listener)
    // the terminated event can fire BEFORE the listener registers (an
    // AvailableNow query over a tiny directory finishes fast, and the
    // bus does not replay past events) — without this check the cache
    // and the dead listener leak for the life of the session. Both
    // cleanups are idempotent, so racing the listener is harmless.
    if (!query.isActive) {
      evalGrams.unpersist()
      spark.streams.removeListener(listener)
    }
    query
  }
}
