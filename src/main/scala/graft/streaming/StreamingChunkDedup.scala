package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.queries.TextOps

/** Streaming span-level dedup: q56's corpus-wide chunk dedup
  * ([[TextOps.chunkify]]/[[TextOps.firstOccurrence]]/
  * [[TextOps.reassemble]] — one definition, both modes) applied at
  * ingest, against a PERSISTENT chunk ledger that spans micro-batches
  * and restarts. A chunk that ever reached the corpus never enters it
  * again; each arriving document is rewritten to its surviving chunks.
  *
  * State design: instead of a state store holding every chunk (the
  * ledger grows with the corpus — unbounded for mapGroupsWithState),
  * seen-chunk hashes live in a parquet ledger directory partitioned by
  * `graft_batch_id`. Each batch
  *  1. first-occurrence-dedups WITHIN the batch (q56's aggregate),
  *  2. left-anti joins against the ledger EXCLUDING its own batch
  *     partition — the exclusion is what makes crash-replay exact:
  *     a redelivered batch does not see the chunks its failed attempt
  *     already registered, so it reproduces the same survivors —
  *  3. overwrites its own ledger partition and clean-output partition.
  * Deterministic replay + idempotent overwrite = exactly-once results,
  * the same seam as [[StreamingQuality]]/[[StreamingDecontam]].
  *
  * Scale: the anti-join is a hash join keyed on the md5 chunk hash
  * (128-bit — no birthday risk at corpus scale); the ledger is
  * hash-compact (one 32-char string per distinct chunk ever seen) and
  * append-only, so ledger partitions stay prunable by batch. Ordering
  * note: "first occurrence" under streaming means first ARRIVAL
  * (earlier batch wins); within a batch, q56's (doc_id, idx) rule.
  */
object StreamingChunkDedup {

  /** Ledger hashes seen by batches OTHER than `excludeBatch` (see
    * class doc for why replay must not see its own prior attempt).
    * Missing/empty ledger → empty frame. Heals first: a compaction
    * that crashed mid-swap leaves the folded hashes in an underscore
    * dir partition discovery hides, and reading past it would
    * re-admit every chunk they record. */
  private[graft] def readLedger(spark: SparkSession, ledgerDir: String,
      excludeBatch: Long): DataFrame = {
    LedgerCompaction.heal(spark, ledgerDir)
    val p = new Path(ledgerDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasOther = fs.exists(p) && fs.listStatus(p).exists { st =>
      st.isDirectory && st.getPath.getName.startsWith("graft_batch_id=") &&
        st.getPath.getName != s"graft_batch_id=$excludeBatch"
    }
    if (!hasOther) {
      import spark.implicits._
      Seq.empty[String].toDF("h")
    } else
      graft.Tables.readParquetCached(spark, ledgerDir)
        .filter(col("graft_batch_id") =!= excludeBatch)
        .select(col("h"))
  }

  /** Dedup one micro-batch against the ledger, idempotently on
    * `batchId`. Package-visible seam so the spec can prove replay and
    * cross-batch suppression without a running stream. */
  private[graft] def writeBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, outDir: String, chunkWords: Int = 10): Unit = {
    val ledgerDir = s"$outDir/ledger"
    val inBatch = TextOps.firstOccurrence(TextOps.chunkify(batch, chunkWords))
      .withColumn("h", md5(col("chunk")))
    val fresh = inBatch
      .join(readLedger(spark, ledgerDir, batchId), Seq("h"), "left_anti")
      .persist()
    fresh.select(col("h"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$ledgerDir/graft_batch_id=$batchId")
    val perDoc = TextOps.reassemble(fresh.drop("h"))
    batch.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/clean/graft_batch_id=$batchId")
    fresh.unpersist()
    ()
  }

  /** Read the deduplicated output back as one frame. */
  def readSink(spark: SparkSession, outDir: String): DataFrame =
    graft.Tables.readParquetCached(spark, s"$outDir/clean")
      .drop("graft_batch_id")

  /** Fold ledger partitions older than the newest `keepLast` batches
    * into the reserved compacted partition, deduplicating hashes on
    * the way: one dir per micro-batch is correct but accumulates
    * forever, and partition discovery over tens of thousands of dirs
    * is its own scale problem. Crash safety and the replay-horizon
    * rule for `keepLast` are [[LedgerCompaction.compact]]'s. */
  def compactLedger(spark: SparkSession, outDir: String,
      keepLast: Int = 2): Unit =
    LedgerCompaction.compact(spark, s"$outDir/ledger", keepLast,
      dirs => graft.Tables.readParquetCached(spark, dirs: _*)
        .select(col("h")).distinct())

  /** Start the deduplicating ingest over a directory of parquet
    * document files. */
  def start(spark: SparkSession, inDir: String, outDir: String,
      schema: StructType, chunkWords: Int = 10): StreamingQuery =
    spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch.sparkSession, batch, batchId, outDir, chunkWords)
      }
      .start()
}
