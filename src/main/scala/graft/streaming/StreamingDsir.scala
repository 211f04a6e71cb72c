package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.queries.TextOps

/** Streaming DSIR weight maintenance — the ingest-side twin of q141's
  * version-chained count table. Each micro-batch contributes one
  * per-bucket class-count frame ([[TextOps.dsirCountsOf]] — the SAME
  * kernel as batch q137/q141, both execution modes); the counts are a
  * linear statistic of the token stream, so the standing table is the
  * bucket-wise SUM of all batch frames — exact regardless of batch
  * boundaries, arrival order, or replays. A curation gate that scores
  * incoming documents against "what does my target distribution look
  * like so far" reads [[readCounts]] (or its derived weights) at any
  * moment and gets exactly the table a from-scratch batch build over
  * everything ingested would produce.
  *
  * Sink layout: one ≤[[TextOps.DsirBuckets]]-row frame per
  * `graft_batch_id=N` directory, idempotent Overwrite — a crash-
  * replayed batch overwrites its earlier attempt instead of
  * double-counting (the [[StreamingCms]] ledger discipline, same
  * [[LedgerCompaction]] heal + fold).
  *
  * Scale shape: per batch, one map-only pass over the batch's tokens
  * partial-aggregated to ≤1024 rows, one exchange of those rows, one
  * tiny parquet write. Nothing grows with corpus size; the ledger
  * collapses by periodic [[compactLedger]] because a sum of count
  * tables IS a count table. */
object StreamingDsir {

  /** Count one micro-batch, idempotently on `batchId`. Package-visible
    * seam so the spec can prove replay does not double-count and that
    * stream ≡ batch. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      outDir: String): Unit = {
    TextOps.dsirCountsOf(batch)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/counts/graft_batch_id=$batchId")
    ()
  }

  /** Bucket-wise sum of a frame of count tables — the linear merge,
    * shared by the standing read and the ledger compaction fold.
    * Buckets netting to (0, 0) cannot occur here (counts are
    * non-negative), so no survivor filter is needed. */
  private def sumCounts(frames: DataFrame): DataFrame =
    frames.groupBy(col("bucket"))
      .agg(sum(col("tc")).as("tc"), sum(col("rc")).as("rc"))

  /** The standing count table: bucket-wise sum of every batch frame in
    * the ledger — shape-compatible with [[TextOps.dsirCountsOf]] and
    * [[TextOps.dsirCountsAt]] so probes and specs treat all three
    * sources alike. Heals a crashed compaction first (sum semantics
    * cannot tolerate a folded-but-undeleted batch dir). */
  def readCounts(spark: SparkSession, outDir: String): DataFrame = {
    LedgerCompaction.heal(spark, s"$outDir/counts")
    sumCounts(graft.Tables.readParquetCached(spark, s"$outDir/counts")
      .drop("graft_batch_id"))
  }

  /** Fold ledger partitions older than the newest `keepLast` batches
    * into the reserved compacted partition — value-invisible to
    * [[readCounts]] because a sum of count tables is a count table.
    * `keepLast` must cover the replay horizon. */
  def compactLedger(spark: SparkSession, outDir: String,
      keepLast: Int = 2): Unit =
    LedgerCompaction.compact(spark, s"$outDir/counts", keepLast,
      dirs => sumCounts(graft.Tables.readParquetCached(spark, dirs: _*)))

  /** Start counting a directory of parquet document files (needs
    * `text` and `lang` columns — the class-conditional statistic). */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, maxFilesPerTrigger: Int = Int.MaxValue)
      : StreamingQuery =
    LedgerStream.start(spark, inDir, outDir, schema, maxFilesPerTrigger)(
      writeBatch(_, _, outDir))
}
