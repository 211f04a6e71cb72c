package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.queries.TextOps

/** Streaming ingest of the RETRIEVAL GRAIN — the ingest-side twin of
  * q122's version-chained tf-grain maintenance, closing the one
  * maintained-artifact family that had no streaming twin (windows /
  * signatures / IVF / CMS / clusters all have theirs).
  *
  * Each micro-batch tokenizes ONLY its own documents into the
  * (term, doc_id, tf) grain ([[TextOps.tfGrainOf]] — the SAME kernel
  * as batch q101/q121/q122, every execution mode) and appends it to a
  * `graft_batch_id=N` ledger partition. The grain is doc-keyed and a
  * document arrives in exactly one batch, so grain rows from
  * different batches are disjoint by construction and the standing
  * grain is the plain UNION of the ledger — no merge computation at
  * all, which is why batch boundaries cannot affect the result: the
  * decomposition `grain(corpus) = ⊎ grain(batch)` is exact, the same
  * algebra-carries-correctness argument as [[StreamingCms]]'s linear
  * sketch (proven, not assumed, in the spec: a multi-batch streamed
  * run must serve the IDENTICAL q101 inverted-index head as the
  * one-pass batch build).
  *
  * Replay discipline: idempotent Overwrite per batch-id dir — a
  * crash-replayed batch overwrites its earlier attempt instead of
  * double-counting tf (the [[StreamingCms]] ledger seam).
  *
  * Scale shape: per batch, one map-side explode + hash-agg over the
  * batch's tokens (partial combine absorbs in-doc repeats before the
  * only exchange, O(|batch grain|)); the standing corpus is never
  * re-tokenized. A consumer wanting the term-bucketed layout of the
  * lake-versioned artifact compacts the ledger through
  * [[TextOps.tfGrainAt]]'s chain — the q122 composition — rather than
  * re-deriving anything from text.
  */
object StreamingTfGrain {

  /** Grain one micro-batch, idempotently on `batchId`. Package-
    * visible seam so the spec can prove replay does not double-count
    * and that stream ≡ batch. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      outDir: String): Unit = {
    TextOps.tfGrainOf(batch)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/grain/graft_batch_id=$batchId")
    ()
  }

  /** The standing corpus grain: the union of every batch's grain —
    * value-identical to [[TextOps.tfGrainOf]] over the full corpus
    * because documents partition across batches and the grain is
    * doc-keyed. Shape-compatible with [[TextOps.invertedIndexFrom]]
    * and every other grain consumer. Heals a crashed compaction
    * first: a folded-but-undeleted batch dir would DOUBLE its docs'
    * tf rows, and every downstream aggregate (df, tf_total, BM25)
    * would silently double-count — union semantics forgive nothing
    * here, exactly like the sketch ledgers' sums. */
  def readGrain(spark: SparkSession, outDir: String): DataFrame = {
    LedgerCompaction.heal(spark, s"$outDir/grain")
    graft.Tables.readParquetCached(spark, s"$outDir/grain")
      .select("term", "doc_id", "tf")
  }

  /** Fold ledger partitions older than the newest `keepLast` batches
    * into the reserved compacted partition — batch grains are
    * DISJOINT row sets (doc-keyed, one batch per doc), so the fold is
    * a plain re-write of their union with no merge computation, and
    * value-invisible to [[readGrain]] only because
    * [[LedgerCompaction]]'s manifest + heal discipline closes the
    * duplicate-rows window. `keepLast` must cover the replay horizon,
    * as [[LedgerCompaction.compact]] states. */
  def compactLedger(spark: SparkSession, outDir: String,
      keepLast: Int = 2): Unit =
    LedgerCompaction.compact(spark, s"$outDir/grain", keepLast,
      dirs => graft.Tables.readParquetCached(spark, dirs: _*)
        .select("term", "doc_id", "tf"))

  /** Start graining a directory of parquet document files. Pass
    * `maxFilesPerTrigger` to bound batch size (and, in the spec, to
    * force genuinely multi-batch execution). */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, maxFilesPerTrigger: Int = Int.MaxValue)
      : StreamingQuery =
    LedgerStream.start(spark, inDir, outDir, schema, maxFilesPerTrigger)(
      writeBatch(_, _, outDir))
}
