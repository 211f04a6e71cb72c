package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.queries.TextOps

/** Streaming quality gate for document ingest: q14's quality score
  * applied as a stateless per-row filter while documents arrive, so
  * junk never reaches the corpus store — the shape a training-data
  * pipeline wants (filter at ingest, not in a later full-corpus pass).
  *
  * Same seam as [[StreamingEtl]]: the scoring transform is the batch
  * query's own ([[TextOps.withQuality]] — one definition, both
  * execution modes), and `foreachBatch` forks the stream into
  * accepted/rejected sinks (a plain streaming sink can't fork).
  * Rejected rows are KEPT, not dropped — quality audits need the
  * reject set (which filter fired, at what score), mirroring the batch
  * ETL's clean/critical quarantine split.
  *
  * Stateless means: no watermark, no state store, unbounded input at
  * constant memory — each micro-batch is scored and routed
  * independently. `foreachBatch` alone is only at-least-once (a crash
  * after a write but before the checkpoint commit replays the batch),
  * so each batch is written with Overwrite into its own
  * `graft_batch_id=<batchId>` directory: the replay of a batchId — whose
  * content is deterministic, reconstructed from the checkpointed file
  * offsets — overwrites the earlier attempt instead of appending a
  * duplicate. Idempotent writes + deterministic replay = exactly-once
  * RESULTS in the sinks, which is the strongest guarantee foreachBatch
  * can offer.
  */
object StreamingQuality {

  /** Route one scored micro-batch into the accepted/rejected sinks,
    * idempotently on `batchId` (see class doc). Package-visible seam
    * so the spec can prove redelivery of a batchId does not duplicate
    * rows. `accepted` is the gate predicate; null evaluations (e.g. a
    * null text's null score) route to rejected. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      outDir: String, accepted: org.apache.spark.sql.Column): Unit = {
    val b = batch.drop("_ws").persist()
    b.filter(accepted)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/accepted/graft_batch_id=$batchId")
    b.filter(!accepted || accepted.isNull)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/rejected/graft_batch_id=$batchId")
    b.unpersist()
    ()
  }

  /** Read an accepted/rejected sink back as one frame, hiding the
    * per-batch idempotency directories (partition discovery surfaces
    * them as a `graft_batch_id` column; drop it — it's plumbing, not
    * data, and the prefixed name can't collide with a document
    * column). Deliberately does NOT also drop the pre-rename `batch`
    * partition name: no sink with that layout exists (the rename
    * landed pre-release), and a blanket drop would silently delete a
    * genuine document column that happens to be called `batch`. */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    graft.Tables.readParquetCached(spark, sinkDir).drop("graft_batch_id")

  /** Start the quality-gated ingest over a directory of parquet
    * document files. Rows with `quality_score >= minScore` land in
    * `outDir/accepted`, the rest (including null scores — a null text
    * is junk by definition) in `outDir/rejected`. */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, minScore: Double = 0.25): StreamingQuery =
    startWith(spark, inDir, outDir, schema,
      col("quality_score") >= minScore)

  /** The adaptive variant: per-LANGUAGE thresholds learned batch-side
    * (q61's train half, [[TextOps.qualityThresholds]]) applied at
    * ingest — one global cutoff over-rejects whichever languages score
    * systematically lower, exactly as in the batch gate. `thresholds`
    * is a driver-side map (|languages| entries — bounded by the
    * language inventory, not the corpus) embedded as a literal map
    * column; languages absent from it fall back to `fallback`.
    * Stream-side stays stateless: the thresholds are constants for the
    * life of the query, so exactly-once replay determinism is
    * unchanged (retrain ⇒ restart with a new map, never mutate one
    * in-flight). */
  def startAdaptive(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, thresholds: Map[String, Double],
      fallback: Double = 0.25): StreamingQuery = {
    val thMap = map(thresholds.toSeq.flatMap {
      case (l, t) => Seq(lit(l), lit(t)) }: _*)
    startWith(spark, inDir, outDir, schema,
      col("quality_score") >=
        coalesce(element_at(thMap, col("lang")), lit(fallback)))
  }

  private def startWith(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, accepted: org.apache.spark.sql.Column)
      : StreamingQuery = {
    val raw = spark.readStream.schema(schema).parquet(inDir)
    val scored = TextOps.withQuality(raw)

    scored.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, outDir, accepted)
      }
      .start()
  }
}
