package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.queries.Analytics

/** Streaming corpus frequency monitor — the ingest-side twin of q117's
  * version-chained sketch maintenance. Each micro-batch contributes
  * one Count-Min counter matrix ([[Analytics.cmsOf]] — the SAME kernel
  * as batch q116/q117, both execution modes); because a CMS is a
  * linear sketch, the standing corpus sketch is simply the elementwise
  * SUM of all batch sketches, so the running state this stream
  * maintains is exact regardless of batch boundaries, arrival order,
  * or replays — the algebra carries the correctness, not the
  * scheduler.
  *
  * Sink layout: one 1-row (depth×width) matrix per
  * `graft_batch_id=N` directory, written with idempotent Overwrite —
  * a crash-replayed batch overwrites its earlier attempt instead of
  * double-counting (the ledger discipline of [[StreamingWindowMass]]).
  * The per-batch matrices double as a TIME SERIES of token-frequency
  * deltas: the drift probe q116 exists for can read one batch's
  * matrix, a day's sum, or the all-time sum with the same MIN-over-
  * rows estimator, because each is itself a valid CMS.
  *
  * Scale shape: per batch, one map-only pass over the batch's tokens
  * with `partial_cms_sketch` combining per-partition, one exchange
  * carrying depth×width longs, one 16 KB parquet write. Nothing grows
  * with corpus size; [[readSketch]]'s merge is bounded by
  * batches×matrix, itself collapsible by periodic compaction into a
  * checkpoint row (the q117 artifact is exactly that, lake-versioned).
  */
object StreamingCms {

  /** Sketch one micro-batch, idempotently on `batchId`. Package-
    * visible seam so the spec can prove replay does not double-count
    * and that stream ≡ batch. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      outDir: String): Unit = {
    Analytics.cmsOf(batch)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/sketch/graft_batch_id=$batchId")
    ()
  }

  /** Elementwise sum of a frame of `cms` matrices into one 1-row
    * matrix — the linear-sketch merge, shared by the standing read
    * and the ledger compaction fold. */
  private def sumMatrices(matrices: DataFrame): DataFrame =
    matrices
      .select(posexplode(col("cms")).as(Seq("pos", "c")))
      .groupBy(col("pos")).agg(sum(col("c")).as("c"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cms"))

  /** The standing corpus sketch: elementwise sum of every batch
    * matrix in the ledger, reassembled as one 1-row `cms` array —
    * shape-compatible with [[Analytics.cmsOf]] and [[Analytics.cmsAt]]
    * so probes and specs treat all three sources alike. Bounded:
    * batches × (depth×width) longs in, one matrix out. Heals a
    * crashed compaction first — sum semantics cannot tolerate a
    * folded-but-undeleted batch dir ([[LedgerCompaction]]). */
  def readSketch(spark: SparkSession, outDir: String): DataFrame = {
    LedgerCompaction.heal(spark, s"$outDir/sketch")
    sumMatrices(graft.Tables.readParquetCached(spark, s"$outDir/sketch")
      .drop("graft_batch_id"))
  }

  /** Fold ledger partitions older than the newest `keepLast` batches
    * into the reserved compacted partition — the "collapsible by
    * periodic compaction" claim, implemented: partition discovery
    * stays bounded over a long-running stream, and because a sum of
    * CMS matrices IS a CMS matrix, the fold is value-invisible to
    * [[readSketch]]. Crash safety (including the double-count window
    * a sum cannot forgive) is [[LedgerCompaction]]'s manifest + heal
    * discipline; `keepLast` must cover the replay horizon, as
    * [[LedgerCompaction.compact]] states. */
  def compactLedger(spark: SparkSession, outDir: String,
      keepLast: Int = 2): Unit =
    LedgerCompaction.compact(spark, s"$outDir/sketch", keepLast,
      dirs => sumMatrices(graft.Tables.readParquetCached(spark, dirs: _*)))

  /** Start sketching a directory of parquet document files. Pass
    * `maxFilesPerTrigger` to bound batch size (and, in the spec, to
    * force genuinely multi-batch execution). */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, maxFilesPerTrigger: Int = Int.MaxValue)
      : StreamingQuery =
    LedgerStream.start(spark, inDir, outDir, schema, maxFilesPerTrigger)(
      writeBatch(_, _, outDir))
}
