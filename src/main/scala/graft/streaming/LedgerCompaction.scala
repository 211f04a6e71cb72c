package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.sources.Lake

/** Crash-safe compaction for batch ledgers — the shared engine
  * behind every streaming job's `compactLedger`: the sum-semantics
  * ledgers ([[StreamingCms]], [[StreamingKmv]], [[StreamingTfGrain]],
  * [[StreamingLmScores]], [[StreamingDsir]]) and the set-semantics
  * chunk ledger of [[StreamingChunkDedup]].
  *
  * A ledger is a parquet dir partitioned by `graft_batch_id`, one
  * partition per micro-batch; compaction folds old partitions into
  * one reserved partition so partition discovery stays bounded. The
  * swap is [[graft.sources.Lake.promoteStaging]]'s; what this engine
  * adds is exactness after a crash. A Count-Min matrix or an `n_docs`
  * counter has no grace for a batch whose rows are BOTH folded into
  * the compacted partition AND still on disk as a source dir — every
  * subsequent sum would DOUBLE-COUNT it. So the compacted partition
  * carries a `_folded` manifest (an underscore file — invisible to
  * partition discovery and parquet reads) naming the batch ids it
  * absorbed, written into the staging dir BEFORE the swap. The promote
  * rename is the commit: once the new compacted partition is live,
  * its manifest proves which source dirs are duplicates, and [[heal]]
  * — run at every compaction AND every read — deletes them. Crash
  * anywhere and the ledger stays exact:
  *
  *  - before promote: the old compacted partition (whose manifest's
  *    dirs were already deleted) still serves reads; staging is
  *    ignored and cleared at the next entry;
  *  - between the two swap renames: [[heal]] restores the backup (the
  *    OLD compacted partition — its sources untouched, so nothing is
  *    double-counted) and the compaction simply retries;
  *  - after promote, before source deletion: [[heal]] finishes the
  *    deletions the manifest records.
  *
  * Run compaction between triggers, never concurrently with a batch
  * write or a reader — mid-swap the compacted partition is briefly
  * absent from discovery.
  */
object LedgerCompaction {

  /** Reserved partition id for the compacted fold. Negative on
    * purpose: no real batchId collides with it, and a batch's read of
    * the ledger excluding its own partition always keeps it visible. */
  val CompactedBatch = -1L

  private val ManifestName = "_folded"

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def target(root: Path) =
    new Path(root, s"graft_batch_id=$CompactedBatch")

  /** Restore a crashed swap and finish manifest-recorded source
    * deletions. Idempotent and cheap (one listing + one small file
    * read); MUST run before any read of a ledger. */
  def heal(spark: SparkSession, ledgerDir: String): Unit = {
    val root = new Path(ledgerDir)
    val f = fs(spark, root)
    if (!f.exists(root)) return
    val tgt = target(root)
    val staging = new Path(root, "_compact_staging")
    val backup = new Path(root, "_compact_backup")
    // crash between the two swap renames: the backup IS the previous
    // compacted partition — restore it (its manifest's sources are
    // long gone, so the restored state is exact)
    if (!f.exists(tgt) && f.exists(backup) && !f.rename(backup, tgt))
      sys.error(s"ledger heal: could not restore $backup to $tgt")
    f.delete(backup, true)  // stale from a completed prior swap
    f.delete(staging, true) // stale from a crashed prior write
    // finish deletions the live manifest records — the window where a
    // folded batch dir still exists and would double-count — then
    // RETIRE the manifest: once every listed dir is gone its job is
    // done, and keeping it would re-issue one delete RPC per folded
    // batch on EVERY subsequent read (on an object store, dozens of
    // round-trips added to the serving path forever). Deletion order
    // is dirs-then-manifest, so a crash mid-heal leaves the manifest
    // and the next heal finishes the remainder.
    val manifest = new Path(tgt, ManifestName)
    if (f.exists(manifest)) {
      val in = f.open(manifest)
      val ids =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      ids.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong)
        .foreach(b =>
          f.delete(new Path(root, s"graft_batch_id=$b"), true))
      f.delete(manifest, false)
    }
  }

  /** Fold every batch partition except the newest `keepLast` (and the
    * compacted partition itself) into one partition whose rows are
    * `merge(sourceDirs)` — the caller supplies the algebra (elementwise
    * sum, bottom-k merge, distinct union, ...), this engine supplies
    * the crash safety.
    *
    * `keepLast` must cover the stream's replay horizon: replay only
    * ever redelivers batches at the checkpoint frontier, and a batch
    * folded while still inside it would have its own rows visible to
    * its replay (a batch reads the ledger excluding only its own
    * partition). The default of 2 in the callers covers
    * AvailableNow/once-per-trigger streams. */
  def compact(spark: SparkSession, ledgerDir: String, keepLast: Int,
      merge: Seq[String] => DataFrame): Unit = {
    heal(spark, ledgerDir)
    val root = new Path(ledgerDir)
    val f = fs(spark, root)
    if (!f.exists(root)) return
    val tgt = target(root)
    val staging = new Path(root, "_compact_staging")
    val backup = new Path(root, "_compact_backup")
    val parts = f.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("graft_batch_id="))
      .map(st => st.getPath.getName.stripPrefix("graft_batch_id=").toLong)
    val foldable = parts.filter(_ != CompactedBatch)
      .sorted.dropRight(keepLast)
    if (foldable.isEmpty) return
    val srcDirs = (CompactedBatch +: foldable)
      .map(b => new Path(root, s"graft_batch_id=$b"))
      .filter(f.exists(_)).map(_.toString)
    merge(srcDirs).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    // the manifest rides INSIDE the partition it describes, so the
    // promote rename atomically commits data + deletion obligations
    val out = f.create(new Path(staging, ManifestName), true)
    try out.write(foldable.mkString(",").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // the underscore backup, not Lake.backupPath: a
    // `graft_batch_id=-1.swapbackup` sibling would be read as a partition
    Lake.promoteStaging(f, staging, tgt, backup)
    foldable.foreach(b =>
      f.delete(new Path(root, s"graft_batch_id=$b"), true))
  }
}
