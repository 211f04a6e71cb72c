package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.queries.Dedup

/** Streaming incremental entity canonicalization: q97's
  * catalog-vs-delta match ([[Dedup.flagAgainstCatalog]] — one
  * definition, both execution modes) applied AT INGEST. Incoming part
  * rows are resolved against the standing catalog's persisted canon
  * map; rows whose name fuzzy-matches a standing entity land in the
  * `known/` sink carrying their canonical key, genuinely new names
  * land in `fresh/` self-canonicalized — the pending set the next
  * full rebuild (q94) folds in.
  *
  * Same seam as [[StreamingDeltaDedup]]: stateless per-batch routing
  * against static reference frames (no state store, no watermark),
  * `foreachBatch` forking into two sinks, idempotent Overwrite into
  * per-`graft_batch_id` directories so a crash-replayed batch
  * overwrites its earlier attempt.
  *
  * Scale shape: the standing vocabulary and canon map are derived
  * ONCE at [[start]] and cached — in production they are the persisted
  * entity tables the batch pipeline already maintains (q97's
  * scaladoc) — so each micro-batch costs |batch names| × block peers,
  * never a re-closure of the catalog. Per-batch names collapse to
  * their DISTINCT vocabulary before matching, so repeated names in
  * one feed pay the Levenshtein compare once.
  */
object StreamingEntityCanon {

  /** Route one micro-batch into known/fresh sinks, idempotently on
    * `batchId`. Package-visible seam so the spec can prove replay
    * does not duplicate rows and that stream ≡ batch q97. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      standing: DataFrame, canon: DataFrame, outDir: String): Unit = {
    val flags = Dedup.flagAgainstCatalog(
      Dedup.nameVocabOf(batch), standing, canon)
    val b = batch.join(flags.select(col("p_name"), col("is_known"),
      col("canon_name")), "p_name").persist()
    b.filter(col("is_known") === 1L).drop("is_known")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/known/graft_batch_id=$batchId")
    // new entities keep their self-canon key so downstream writers
    // have a total surrogate; the rebuild may later merge them
    b.filter(col("is_known") === 0L).drop("is_known")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/fresh/graft_batch_id=$batchId")
    b.unpersist()
    ()
  }

  /** Read a known/fresh sink back as one frame, hiding the per-batch
    * idempotency directories. */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    graft.Tables.readParquetCached(spark, sinkDir).drop("graft_batch_id")

  /** Start the canonicalization ingest over a directory of parquet
    * part files, resolving each batch against `catalog` (any
    * part-shaped frame with `p_name`). */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, catalog: DataFrame): StreamingQuery = {
    // derive + cache the standing vocabulary and canon map once,
    // before the stream starts
    val standing = Dedup.nameVocabOf(catalog).persist()
    standing.count()
    val canon = Dedup.canonMapOf(spark, standing).persist()
    canon.count()

    val query = spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, standing, canon, outDir)
      }
      .start()
    // release the reference caches when this query ends (same
    // lifecycle — and the same registration-race guard — as
    // StreamingDeltaDedup)
    val qid = query.id
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            standing.unpersist()
            canon.unpersist()
            spark.streams.removeListener(this)
          }
      }
    spark.streams.addListener(listener)
    // the terminated event can fire BEFORE the listener registers (an
    // AvailableNow query over a tiny directory finishes fast, and the
    // bus does not replay past events); both cleanups are idempotent
    if (!query.isActive) {
      standing.unpersist()
      canon.unpersist()
      spark.streams.removeListener(listener)
    }
    query
  }
}
