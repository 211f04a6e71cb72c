package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.queries.Dedup

/** Streaming delta dedup: q76's batch-vs-corpus LSH check
  * ([[Dedup.flagAgainstIndex]] — one definition, both execution
  * modes) applied AT INGEST. Incoming documents are checked against
  * the standing corpus's precomputed signature/band index; verified
  * near-dups are quarantined with their `dup_of` evidence before they
  * ever reach the corpus store, completing the ingest-time family
  * (quality gate, decontamination, corpus mixing, now dedup).
  *
  * Same seam as [[StreamingDecontam]]: stateless per-batch routing
  * against a static index (no state store, no watermark — unlike
  * [[StreamingDedup]], which dedups the stream against ITSELF and
  * needs keyed state), `foreachBatch` forking into kept/dup sinks,
  * idempotent Overwrite into per-`graft_batch_id` directories so a
  * crash-replayed batch overwrites its earlier attempt.
  *
  * Scale shape: the corpus index is derived ONCE at [[start]] and
  * cached — at production scale it is the persisted band index the
  * batch pipeline already maintains (see q76's scaladoc), so each
  * micro-batch costs |batch bands| × matching buckets, never
  * corpus × corpus. Batch signatures are narrow (13 small columns)
  * and the verify join runs per-batch against only the candidates.
  */
object StreamingDeltaDedup {

  /** Route one micro-batch into kept/dup sinks, idempotently on
    * `batchId`. Package-visible seam so the spec can prove replay
    * does not duplicate rows and that stream ≡ batch q76. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      corpusSigs: DataFrame, outDir: String): Unit = {
    val flags = Dedup.flagAgainstIndex(
      Dedup.minhashSignatures(batch), corpusSigs)
    val b = batch.join(flags.select(col("doc_id"), col("is_dup"),
      col("dup_of")), "doc_id").persist()
    b.filter(col("is_dup") === 0L).drop("is_dup", "dup_of")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/kept/graft_batch_id=$batchId")
    // quarantined near-dups keep their dup_of evidence — dedup audits
    // need to see what was dropped and which corpus doc it duplicates
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

  /** Start the dedup ingest over a directory of parquet document
    * files, checking each batch against `corpus` (any frame with
    * `doc_id` and `text`). */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, corpus: DataFrame): StreamingQuery = {
    // derive + cache the corpus index once, before the stream starts
    val corpusSigs = Dedup.minhashSignatures(corpus).persist()
    corpusSigs.count()

    val query = spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, corpusSigs, outDir)
      }
      .start()
    // release the index cache when this query ends (same lifecycle —
    // and the same registration-race guard — as StreamingDecontam)
    val qid = query.id
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            corpusSigs.unpersist()
            spark.streams.removeListener(this)
          }
      }
    spark.streams.addListener(listener)
    // the terminated event can fire BEFORE the listener registers (an
    // AvailableNow query over a tiny directory finishes fast, and the
    // bus does not replay past events); both cleanups are idempotent
    if (!query.isActive) {
      corpusSigs.unpersist()
      spark.streams.removeListener(listener)
    }
    query
  }
}
