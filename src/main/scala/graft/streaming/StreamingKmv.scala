package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.queries.Analytics

/** Streaming per-source distinct-count monitor — the ingest-side twin
  * of q120's version-chained KMV maintenance, completing the streaming
  * sketch symmetry with [[StreamingCms]]: the CMS twin accumulates by
  * the LINEAR law (elementwise sum), this one by the SET law — the
  * bottom-k merge, the same mergeability identity
  * `bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B))` that powers
  * q118's pairwise composition and q120's version chain, here applied
  * across MICRO-BATCHES ([[Analytics.kmvSketchOf]] — the same kernel
  * in all three execution modes). A document's hash is in the union or
  * not regardless of which batch carried it, so the standing sketch is
  * exact-as-a-sketch under any batch boundaries, arrival order, or
  * replays — the algebra carries the correctness, not the scheduler.
  *
  * Sink layout: ≤k minima + a batch doc count PER SOURCE under one
  * `graft_batch_id=N` directory, written with idempotent Overwrite (a
  * crash-replayed batch overwrites its earlier attempt — the
  * [[StreamingCms]] ledger discipline; `n_docs` is the one non-set
  * column, and the overwrite is what keeps ITS sum exact too). The
  * per-batch sketches double as a per-source ingest TIME SERIES: any
  * contiguous run of batches merges into a valid sketch of exactly
  * that span, so "distinct texts ingested today per source" is the
  * same bottom-k merge over fewer rows.
  *
  * Scale shape: per batch, one map-only pass over the batch
  * (`partial_kmv_sketch` combines per partition; ≤k longs per source
  * cross the exchange), one tiny parquet write. Nothing grows with
  * corpus size; the standing merge is bounded by batches × sources × k
  * longs, itself collapsible by periodic compaction into a checkpoint
  * row (the q120 artifact is exactly that, lake-versioned).
  */
object StreamingKmv {

  /** Sketch one micro-batch, idempotently on `batchId`. Package-
    * visible seam so the spec can prove replay does not double-merge
    * and that stream ≡ batch. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      outDir: String): Unit = {
    Analytics.kmvSketchOf(batch)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/sketch/graft_batch_id=$batchId")
    ()
  }

  /** Per-source bottom-k merge of a frame of sketch rows — the set
    * law's merge (distinct-then-sort-then-slice), `n_docs` summed;
    * shared by the standing read and the ledger compaction fold. */
  private def mergeSketches(rows: DataFrame): DataFrame =
    rows.groupBy(col("source"))
      .agg(
        slice(array_sort(array_distinct(flatten(
          collect_list(col("mins"))))), 1, Analytics.KmvK).as("mins"),
        sum(col("n_docs")).as("n_docs"))

  /** The standing per-source sketch table: bottom-k of the union of
    * every batch's minima (the merge side of the mergeability
    * identity), `n_docs` summed across batches. Shape-compatible with
    * [[Analytics.kmvSketchOf]] and [[Analytics.kmvAt]], so q109-style
    * distinct probes and q118-style overlap probes treat all three
    * sources alike. Heals a crashed compaction first — the `n_docs`
    * sum cannot tolerate a folded-but-undeleted batch dir
    * ([[LedgerCompaction]]). */
  def readSketches(spark: SparkSession, outDir: String): DataFrame = {
    LedgerCompaction.heal(spark, s"$outDir/sketch")
    mergeSketches(graft.Tables.readParquetCached(spark, s"$outDir/sketch")
      .drop("graft_batch_id"))
  }

  /** Fold ledger partitions older than the newest `keepLast` batches
    * into the reserved compacted partition. A bottom-k merge of
    * bottom-k sketches IS the bottom-k of the union (the mergeability
    * identity), so the fold is value-invisible to [[readSketches]] —
    * for the minima by idempotence, for `n_docs` only because
    * [[LedgerCompaction]]'s manifest + heal discipline closes the
    * double-count window. `keepLast` must cover the replay horizon,
    * as [[LedgerCompaction.compact]] states. */
  def compactLedger(spark: SparkSession, outDir: String,
      keepLast: Int = 2): Unit =
    LedgerCompaction.compact(spark, s"$outDir/sketch", keepLast,
      dirs => mergeSketches(graft.Tables.readParquetCached(spark, dirs: _*)))

  /** Start sketching a directory of parquet document files (needs
    * `source` and `text` columns). Pass `maxFilesPerTrigger` to bound
    * batch size (and, in the spec, to force genuinely multi-batch
    * execution). */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, maxFilesPerTrigger: Int = Int.MaxValue)
      : StreamingQuery =
    LedgerStream.start(spark, inDir, outDir, schema, maxFilesPerTrigger)(
      writeBatch(_, _, outDir))
}
