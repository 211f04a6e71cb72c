package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.queries.TextOps

/** Streaming corpus mixer: per-language sampling rates (the output of
  * a batch [[TextOps.q74MixturePlan]] run, or any (lang, rate) table)
  * applied AT INGEST — documents are down-sampled into the target
  * mixture as they arrive, so the corpus store only ever holds the
  * mixture instead of accumulating raw volume for a later full-corpus
  * q54 pass. The standing stream-static pattern this package already
  * uses for quality ([[StreamingQuality]]) and decontamination
  * ([[StreamingDecontam]]), applied to corpus assembly.
  *
  * The sampling decision is [[TextOps.uniformKeyOf]] on doc_id — the
  * ONE md5-uniform key definition — compared against the language's
  * rate, so: (a) the decision is a pure function of the document,
  * independent of batch boundaries, arrival order, and replays;
  * (b) stream output ≡ the batch filter at the same rates, provable
  * (and proven in StreamingMixerSpec). Rates above 1.0 (q74's "repeat
  * for k epochs" signal for under-represented languages) cap at
  * keep-everything here — a pass-through filter cannot up-sample;
  * epoch repetition is the training loader's job.
  *
  * Scale shape: the rate table is tiny and broadcast; each micro-batch
  * is one map-side join + filter — no state store, no watermark, no
  * shuffle, constant memory on unbounded input. Idempotent Overwrite
  * into per-`graft_batch_id` directories (the package's replay seam):
  * a crash-redelivered batch overwrites its earlier attempt.
  */
object StreamingMixer {

  /** The shared batch≡stream sampling decision: keep iff the doc's
    * uniform key < its language's rate (capped at 1.0; languages
    * absent from the rate table default to keep-everything). */
  private[graft] def sampleFilter(batch: DataFrame, rates: DataFrame)
      : DataFrame =
    batch.join(broadcast(rates), Seq("lang"), "left")
      .na.fill(Map("rate" -> 1.0))
      .withColumn("_key", TextOps.uniformKeyOf(col("doc_id")))
      .filter(col("_key") < least(col("rate"), lit(1.0)))
      .drop("_key", "rate")

  /** Route one micro-batch, idempotently on `batchId`. Package-visible
    * seam so the spec can prove redelivery does not duplicate rows. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      rates: DataFrame, outDir: String): Unit = {
    sampleFilter(batch, rates)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/kept/graft_batch_id=$batchId")
    ()
  }

  /** Read the kept sink back as one frame, hiding the per-batch
    * idempotency directories. */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    graft.Tables.readParquetCached(spark, sinkDir).drop("graft_batch_id")

  /** Start the mixing ingest over a directory of parquet document
    * files with a static (lang, rate) table. */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, rates: DataFrame): StreamingQuery = {
    // Canonicalize to one row per lang before anything joins against
    // it: a rates frame with duplicate lang rows (e.g. q74 outputs
    // unioned across runs) would fan out the sampleFilter join and
    // emit duplicate documents into the kept sink. min() is the
    // deterministic, conservative resolution (keep the fewest docs);
    // the table is tiny, so this costs one aggregation at start.
    val r = rates.groupBy(col("lang"))
      .agg(min(col("rate")).as("rate")).persist()
    r.count()
    val query = spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, r, outDir)
      }
      .start()
    // release the rate cache when this query ends (same lifecycle as
    // StreamingDecontam's probe cache)
    val qid = query.id
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            r.unpersist()
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
      r.unpersist()
      spark.streams.removeListener(listener)
    }
    query
  }
}
