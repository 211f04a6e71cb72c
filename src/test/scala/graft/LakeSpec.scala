package graft

import java.nio.file.Files
import graft.sources.Lake

/** The staging-then-swap protocol: old or new data survives every
  * step of a swap, and recovery leaves each table readable. */
class LakeSpec extends SparkSpec {

  test("swap keeps old-or-new data on disk at every step; crashes recover") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-swap").toString
    val dir = root + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    def write(n: Int, path: String): Unit =
      spark.range(n).toDF("v").write.mode("overwrite").parquet(path)
    def readCount(): Long = spark.read.parquet(dir).count()

    // (0) baseline: old table with 10 rows, committed staging with 20
    write(10, dir)
    val dst = new Path(dir)
    val staging = Lake.stagingPath(dst)
    val backup = Lake.backupPath(dst)

    // step-through the swap, asserting a full copy survives each state.
    // state A: before swap — old at dst, new at staging
    write(20, staging.toString)
    assert(readCount() == 10)
    // state B: crash after rename dst→backup (dst gone, backup=old,
    // staging=new+committed). Old data intact at backup, new at staging
    assert(fs.rename(dst, backup))
    assert(fs.exists(new Path(staging, "_SUCCESS")))
    assert(spark.read.parquet(backup.toString).count() == 10)
    // recovery promotes the committed staging — readers get NEW
    assert(Lake.recoverSwap(spark, dir))
    assert(readCount() == 20 && !fs.exists(staging) && !fs.exists(backup))

    // state C: crash after moving dst aside with an UNCOMMITTED staging
    // (mid-write crash): recovery must restore the OLD table
    write(5, staging.toString)
    fs.delete(new Path(staging, "_SUCCESS"), false)
    assert(fs.rename(dst, backup))
    assert(Lake.recoverSwap(spark, dir))
    assert(readCount() == 20, "uncommitted staging must not be promoted")
    assert(!fs.exists(staging) && !fs.exists(backup))

    // state D: dst present + stale staging/backup → recovery is a no-op
    // cleanup
    write(7, staging.toString)
    assert(Lake.recoverSwap(spark, dir))
    assert(readCount() == 20 && !fs.exists(staging))

    // end-to-end: the real upsert path lands new data and leaves no
    // staging/backup residue
    graft.sources.Sinks.upsertParquet(spark,
      spark.range(30).toDF("v"), dir, Seq("v"))
    assert(readCount() == 30)
    assert(!fs.exists(staging) && !fs.exists(backup))
  }

  test("recoverAll heals every mid-swap table under a lake dir at startup") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-recoverall").toString
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(n: Int, path: String): Unit =
      spark.range(n).toDF("v").write.mode("overwrite").parquet(path)

    // table A: crashed between the two swap renames (dst gone,
    // committed staging) — recovery must promote the NEW data
    write(11, s"$root/a.staging")
    // table B: crashed after moving dst aside with an UNCOMMITTED
    // staging — recovery must restore the OLD data
    write(22, s"$root/b.swapbackup")
    write(5, s"$root/b.staging")
    fs.delete(new Path(s"$root/b.staging/_SUCCESS"), false)
    // table C: healthy, must be untouched
    write(33, s"$root/c")

    val healed = Lake.recoverAll(spark, root).map(new Path(_).getName).sorted
    assert(healed == Seq("a", "b"), s"healed=$healed")
    assert(spark.read.parquet(s"$root/a").count() == 11)
    assert(spark.read.parquet(s"$root/b").count() == 22)
    assert(spark.read.parquet(s"$root/c").count() == 33)
    assert(!fs.exists(new Path(s"$root/a.staging")))
    assert(!fs.exists(new Path(s"$root/b.staging")))
    assert(!fs.exists(new Path(s"$root/b.swapbackup")))
  }

  test("promoteStaging restores the old table when the promote rename fails or throws") {
    import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
    val root = Files.createTempDirectory("graft-promote-fail").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def write(n: Int, path: String): Unit =
      spark.range(n).toDF("v").write.mode("overwrite").parquet(path)
    /** Local FS whose rename of a `.staging` dir fails — by returning
      * false or by throwing; every other call goes through. */
    class FailingPromoteFs(throws: Boolean)
        extends FilterFileSystem(FileSystem.getLocal(conf)) {
      override def rename(src: Path, dst: Path): Boolean =
        if (!src.getName.endsWith(".staging")) super.rename(src, dst)
        else if (throws) throw new java.io.IOException("injected rename fault")
        else false
    }
    for (throws <- Seq(false, true)) {
      val dst = new Path(s"$root/t-$throws")
      write(10, dst.toString)
      write(20, Lake.stagingPath(dst).toString)
      intercept[Exception] {
        Lake.promoteStaging(new FailingPromoteFs(throws),
          Lake.stagingPath(dst), dst, Lake.backupPath(dst))
      }
      assert(spark.read.parquet(dst.toString).count() == 10,
        s"old table must be back at dst (rename throws=$throws)")
    }
  }
}
