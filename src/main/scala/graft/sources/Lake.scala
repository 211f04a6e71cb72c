package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The staging-then-swap protocol behind whole-directory rewrites
  * (SURVEY S5): the reference commits its loads in one MySQL
  * transaction; here a table directory is replaced by writing a
  * staging dir beside it and promoting that with a rename-aside swap.
  *
  * [[promoteStaging]] is the one copy of the move-aside / promote /
  * restore sequence — [[Sinks]] swaps whole tables and bucket
  * partitions through it, [[graft.streaming.LedgerCompaction]] swaps
  * the compacted ledger partition. [[recoverSwap]] and [[recoverAll]]
  * heal a `.staging`/`.swapbackup` pair a crash left behind. Versioned
  * tables need none of this: [[Versioned]] publishes by manifest.
  */
object Lake {

  private[graft] def stagingPath(dst: Path) =
    new Path(dst.getParent, dst.getName + ".staging")
  private[graft] def backupPath(dst: Path) =
    new Path(dst.getParent, dst.getName + ".swapbackup")

  /** Crash-safe promotion of a fully-written staging dir over `dst`:
    * rename dst→backup, staging→dst, delete backup. Unlike
    * delete-then-rename there is never a moment with ZERO copies at
    * rest — a crash at any step leaves old or new data intact on disk
    * and the caller's recovery restores a readable table. The
    * reader-visible gap shrinks from an O(files) recursive delete to
    * two filesystem metadata renames. If the promote rename fails —
    * returns false or throws — the old table is renamed back before
    * the error propagates, so readers keep the old table.
    *
    * `backup` is the caller's: [[backupPath]] for [[recoverSwap]]'s
    * naming, an underscore name where a `.swapbackup` sibling would be
    * read as a partition. Precondition: `staging` was committed by
    * Spark (has `_SUCCESS`) — recovery uses that marker to tell a
    * mid-swap crash from a mid-write crash. */
  private[graft] def promoteStaging(fs: FileSystem, staging: Path,
      dst: Path, backup: Path): Unit = {
    fs.delete(backup, true) // stale backup from an earlier completed swap
    if (fs.exists(dst) && !fs.rename(dst, backup))
      sys.error(s"swap: could not move $dst aside to $backup")
    def restore(): Unit = if (fs.exists(backup)) fs.rename(backup, dst)
    val promoted =
      try fs.rename(staging, dst)
      catch { case NonFatal(e) => restore(); throw e }
    if (!promoted) {
      restore()
      sys.error(s"swap: could not promote $staging to $dst")
    }
    fs.delete(backup, true)
  }

  /** Recover `dst` after a crash anywhere in write-staging-then-swap:
    *  - dst present → a swap never started or already finished: drop
    *    leftover staging/backup, keep dst.
    *  - dst absent + committed staging → crash between the two swap
    *    renames: finish the promotion (staging IS the new table).
    *  - dst absent + backup → crash after moving dst aside with an
    *    uncommitted staging: restore the old table.
    * Returns true if `dst` is readable afterwards. */
  def recoverSwap(spark: SparkSession, path: String): Boolean = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = stagingPath(dst)
    val backup = backupPath(dst)
    val stagingCommitted =
      fs.exists(staging) && fs.exists(new Path(staging, "_SUCCESS"))
    if (fs.exists(dst)) {
      fs.delete(staging, true)
      fs.delete(backup, true)
      true
    } else if (stagingCommitted) {
      val ok = fs.rename(staging, dst)
      if (ok) fs.delete(backup, true)
      ok
    } else if (fs.exists(backup)) {
      fs.delete(staging, true)
      fs.rename(backup, dst)
    } else false
  }

  /** Startup recovery sweep: heal every table under `baseDir` that a
    * previous process left mid-swap. Remnant `.staging`/`.swapbackup`
    * dirs name their table, so the sweep needs no table registry —
    * wire this into any entry point that owns a lake directory
    * ([[graft.etl.EtlRunner]] does) and a crash between the two swap
    * renames no longer needs a manual [[recoverSwap]] call before the
    * table is readable again. Returns the healed table paths. */
  def recoverAll(spark: SparkSession, baseDir: String): Seq[String] = {
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .map(_.getPath.getName)
      .collect {
        case n if n.endsWith(".staging") => n.stripSuffix(".staging")
        case n if n.endsWith(".swapbackup") => n.stripSuffix(".swapbackup")
      }
      .distinct
      .map(n => new Path(base, n).toString)
      .filter(p => recoverSwap(spark, p))
  }
}
