package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.queries.TextOps

/** Streaming quality scoring under a frozen language model — the
  * ingest-side twin of q143's version-chained score table. Each
  * micro-batch's documents are scored by [[TextOps.lmScoreOf]] (the
  * SAME kernel as batch q142/q143, both execution modes) under an LM
  * that is resolved ONCE at stream start and never again: CCNet's
  * production posture, and the twin of the chain's frozen-codebook
  * discipline — a model that shifted between micro-batches would
  * make a document's bucket depend on its arrival time, which is
  * exactly the non-determinism the frozen contract exists to kill
  * (contrast [[StreamingEmbedDedup.startVersioned]], where
  * re-resolving per batch is the POINT — scoring there must track the
  * lake; scoring here must not).
  *
  * The score table is DOC-KEYED, so the standing state is the plain
  * UNION of all batch frames — no merge algebra needed at all, the
  * cheapest ledger in the family (the CMS/DSIR twins at least sum;
  * this one concatenates). Tercile buckets are NOT maintained state:
  * [[readBuckets]] recomputes them per read from the bounded
  * score-domain histogram (≤ 62,001 rows at any corpus size), so a
  * consumer always sees cuts over everything ingested so far.
  *
  * Sink layout: one doc-keyed frame per `graft_batch_id=N` directory,
  * idempotent Overwrite — a crash-replayed batch overwrites its
  * earlier attempt instead of duplicating rows (the [[StreamingCms]]
  * ledger discipline, same [[LedgerCompaction]] heal + fold).
  *
  * Scale shape: per batch, one map-side pass over the batch's tokens
  * (the LM broadcasts — ≤ [[TextOps.LmVocabK]]+1 rows), one doc-keyed
  * partial agg bounded by the BATCH, one parquet write of |batch|
  * rows. Nothing re-reads the standing corpus; the ledger's directory
  * count collapses by periodic [[compactLedger]] because a union of
  * doc-keyed frames is a doc-keyed frame. */
object StreamingLmScores {

  /** Score one micro-batch under the frozen `lm`, idempotently on
    * `batchId`. Package-visible seam so the spec can prove replay
    * does not duplicate and that stream ≡ batch. `lm` must be a
    * deterministic frame (an artifact read or a fixed local frame) —
    * it is re-evaluated per batch and the frozen contract is only as
    * frozen as its source. */
  private[graft] def writeBatch(batch: DataFrame, lm: DataFrame,
      batchId: Long, outDir: String): Unit = {
    TextOps.lmScoreOf(batch, lm)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/scores/graft_batch_id=$batchId")
    ()
  }

  /** The standing doc-keyed score table: every batch frame in the
    * ledger, shape-compatible with [[TextOps.lmScoreOf]] and the
    * chain's [[TextOps.lmScoresAt]] so specs treat all three sources
    * alike. Heals a crashed compaction first (a folded-but-undeleted
    * batch dir would duplicate rows). */
  def readScores(spark: SparkSession, outDir: String): DataFrame = {
    LedgerCompaction.heal(spark, s"$outDir/scores")
    graft.Tables.readParquetCached(spark, s"$outDir/scores")
      .drop("graft_batch_id")
  }

  /** Head/middle/tail buckets over everything ingested so far —
    * thresholds recomputed per read from the bounded histogram
    * ([[TextOps.lmBucketsOf]], q142/q143's serve-side cut). */
  def readBuckets(spark: SparkSession, outDir: String): DataFrame =
    TextOps.lmBucketsOf(readScores(spark, outDir))

  /** Fold ledger partitions older than the newest `keepLast` batches
    * into the reserved compacted partition — bounded directory
    * discovery over a long-running stream; the fold is a plain union,
    * value-invisible to [[readScores]] by construction. `keepLast`
    * must cover the replay horizon, as
    * [[LedgerCompaction.compact]] states. */
  def compactLedger(spark: SparkSession, outDir: String,
      keepLast: Int = 2): Unit =
    LedgerCompaction.compact(spark, s"$outDir/scores", keepLast,
      dirs => graft.Tables.readParquetCached(spark, dirs: _*))

  /** Start scoring a directory of parquet document files under the
    * frozen `lm`. Pass `maxFilesPerTrigger` to bound batch size (and,
    * in the spec, to force genuinely multi-batch execution). */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, lm: DataFrame,
      maxFilesPerTrigger: Int = Int.MaxValue): StreamingQuery =
    LedgerStream.start(spark, inDir, outDir, schema, maxFilesPerTrigger)(
      (batch, batchId) => writeBatch(batch, lm, batchId, outDir))
}
