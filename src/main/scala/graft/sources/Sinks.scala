package graft.sources

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Write-side operators (SURVEY S2–S6).
  *
  * The reference's MySQL `INSERT IGNORE` / `ON DUPLICATE KEY UPDATE`
  * loads (etl/03_transform_and_load.py:125-156) map to two primitives:
  * insert-if-absent and upsert. Parquet-table variants implement both
  * relationally (left-anti / last-wins merge); the JDBC variant is a
  * `foreachPartition` batched writer — the standard Spark shape for a
  * keyed sink Spark lacks natively.
  *
  * Transactionality (SURVEY S5): the reference wraps both loads in ONE
  * MySQL transaction. Spark's JDBC writes commit per partition; exact
  * single-transaction semantics at scale need a transactional table
  * format (Delta/Iceberg MERGE) or a staging-then-swap, which
  * [[upsertParquet]] implements: write to a staging dir, then promote
  * it via [[Lake.promoteStaging]]'s rename-aside swap — a crash at any
  * step leaves old or new data intact on disk ([[Lake.recoverSwap]]),
  * and the reader-visible gap is two metadata renames, never a
  * half-deleted table.
  */
object Sinks {

  /** S3: insert rows whose key is absent from the existing table
    * (`INSERT IGNORE`). Set semantics via left-anti join — at scale
    * both sides shuffle on the key (or the existing side's bloom
    * filter prunes via DPP when partitioned by key range). */
  def insertIfAbsent(spark: SparkSession, df: DataFrame, path: String,
      keyCols: Seq[String]): Unit = {
    Lake.recoverSwap(spark, path) // self-heal a crashed earlier swap
    val fresh = existing(spark, path) match {
      case Some(cur) => df.join(cur.select(keyCols.map(col): _*)
          .dropDuplicates(), keyCols, "left_anti")
      case None => df
    }
    // first-wins within the incoming batch too (MySQL PK semantics)
    fresh.dropDuplicates(keyCols)
      .write.mode(SaveMode.Append).parquet(path)
  }

  /** The table at `path`, or None when no table is there. Only absence
    * reads as "no table": any other read failure propagates, so an
    * upsert can never promote the incoming batch alone over a table it
    * failed to read. */
  private def existing(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(graft.Tables.readParquetCached(spark, path))
    else None
  }

  /** S4: upsert (`INSERT … ON DUPLICATE KEY UPDATE`): incoming rows
    * replace same-key rows, all non-key columns refreshed. Implemented
    * as merge-to-staging + atomic swap (S5's all-or-nothing). */
  def upsertParquet(spark: SparkSession, df: DataFrame, path: String,
      keyCols: Seq[String]): Unit = {
    // self-heal: a crash in a PREVIOUS upsert's swap may have left dst
    // absent with a committed staging — recover before merging, or the
    // merge silently treats the table as empty
    Lake.recoverSwap(spark, path)
    val merged = existing(spark, path) match {
      case Some(cur) =>
        cur.join(df.select(keyCols.map(col): _*).dropDuplicates(),
          keyCols, "left_anti").unionByName(df)
      case None => df
    }
    val dst = new org.apache.hadoop.fs.Path(path)
    val staging = Lake.stagingPath(dst)
    merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Lake.promoteStaging(fs, staging, dst, Lake.backupPath(dst))
  }

  /** S4 at scale: bucket-scoped upsert. [[upsertParquet]] rewrites the
    * WHOLE table per batch — correct, but at 100 TB a daily batch that
    * touches 0.1% of keys must not rewrite 100 TB. Here the table is
    * laid out partitioned by a key-hash bucket column (`_kb` dirs);
    * an upsert computes the buckets its batch touches, merges ONLY
    * those partitions, and swaps ONLY those directories. I/O scales
    * with the touched fraction of the table, not its size.
    *
    * Atomicity is per bucket (each bucket's swap is the same
    * rename-aside [[Lake.promoteStaging]] as the whole-table path, and
    * buckets hold DISJOINT key sets). A crash between bucket swaps
    * leaves a partially-applied batch — exactly a partially-committed
    * MySQL `executemany` without a wrapping transaction — and the op
    * is idempotent: re-running the same batch completes it. Callers
    * needing all-or-nothing across the whole batch publish through
    * [[Versioned]] instead; callers needing neither pay the least I/O
    * here.
    *
    * The bucket count is fixed at table creation (stored in the
    * layout); 1024 buckets ⇒ a 100 TB table rewrites ~100 GB per
    * touched bucket-set member, parallel across buckets. */
  def upsertBucketed(spark: SparkSession, df: DataFrame, path: String,
      keyCols: Seq[String], nBuckets: Int = 64): Unit = {
    require(nBuckets > 0)
    // the bucket count is part of the table's layout: a batch hashed
    // with a DIFFERENT count lands keys in new buckets while their old
    // rows sit in the old ones — silent duplicate keys. Pin it in a
    // marker at creation and refuse mismatched writes.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, "_graft_buckets")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val stored = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
      finally in.close()
      require(stored == nBuckets,
        s"upsertBucketed: table $path was created with $stored buckets, " +
          s"got $nBuckets — rewrite the table to re-bucket")
    } else {
      fs.mkdirs(root)
      val out = fs.create(marker)
      try out.write(nBuckets.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val bucketOf = pmod(hash(keyCols.map(col): _*), lit(nBuckets))
    scopedUpsert(spark, df.withColumn("_kb", bucketOf), path, keyCols, "_kb")
  }

  /** S4 at scale, natural-partition flavor: upsert into a table laid
    * out by a REAL partition column (the charges table's `part_date`
    * — the reference's daily-batch load shape). A daily batch merges
    * and swaps only the `part_date=…` directories it carries rows
    * for; the rest of the table is never read or written.
    *
    * Precondition (same as any partition-scoped merge, e.g. Hive
    * dynamic-partition overwrite): a key's partition value is
    * immutable — a charge's `created_at` date never changes. A key
    * that DID move partitions would leave its old row in the old
    * partition. Partition values must be non-null. */
  def upsertPartitioned(spark: SparkSession, df: DataFrame, path: String,
      keyCols: Seq[String], partCol: String): Unit =
    scopedUpsert(spark, df, path, keyCols, partCol)

  /** Shared core: merge + swap only the `partCol=value` directories
    * present in `incoming`. One pruned merge job, then a cheap
    * metadata phase giving each touched partition the standard
    * rename-aside swap. Crash between swaps = partially-applied batch
    * (disjoint key sets per partition), completed by an idempotent
    * re-run; entry-time recovery heals any partition left mid-swap. */
  private def scopedUpsert(spark: SparkSession, incoming: DataFrame,
      path: String, keyCols: Seq[String], partCol: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Lake.recoverAll(spark, path) // heal partitions a crash left mid-swap

    // touched-partition list: bounded by the batch's distinct partition
    // values (buckets: ≤ nBuckets; dates: the batch's few days)
    val touched = incoming
      .select(col(partCol).cast("string").as("p")).distinct()
      .collect().map(_.getString(0)).sorted
    require(!touched.contains(null) && touched.forall(_ != null),
      s"$partCol must be non-null for partition-scoped upsert")
    if (touched.isEmpty) return

    // ONE merge job over only the touched partitions (partition
    // pruning keeps untouched directories entirely unread)
    val hasTable = fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith(s"$partCol="))
    val merged = if (hasTable) {
      val cur = graft.Tables.readParquetCached(spark, path)
        .filter(col(partCol).cast("string").isin(touched.toIndexedSeq: _*))
      cur.join(incoming.select(keyCols.map(col): _*).dropDuplicates(),
          keyCols, "left_anti")
        .unionByName(incoming.select(cur.columns.map(col).toIndexedSeq: _*))
    } else incoming
    val stagingRoot = new org.apache.hadoop.fs.Path(root, ".upsert-staging")
    fs.delete(stagingRoot, true) // stale leftover from a crashed write
    merged
      .repartition(col(partCol)) // one writer set per partition dir
      .write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(stagingRoot.toString)

    // cheap metadata phase: committed staging marked with _SUCCESS so
    // recoverSwap can promote it after a crash
    touched.foreach { p =>
      val partDir = new org.apache.hadoop.fs.Path(root, s"$partCol=$p")
      val staged = new org.apache.hadoop.fs.Path(stagingRoot, s"$partCol=$p")
      if (fs.exists(staged)) {
        val partStaging = Lake.stagingPath(partDir)
        fs.delete(partStaging, true)
        if (!fs.rename(staged, partStaging))
          sys.error(s"scopedUpsert: could not stage $staged")
        fs.create(new org.apache.hadoop.fs.Path(partStaging, "_SUCCESS"))
          .close()
        Lake.promoteStaging(fs, partStaging, partDir,
          Lake.backupPath(partDir))
      }
    }
    fs.delete(stagingRoot, true)
  }

  /** Read back a bucketed-upsert table (the `_kb` partition column is
    * internal layout, not data — stripped here). */
  def readBucketed(spark: SparkSession, path: String): DataFrame = {
    val df = graft.Tables.readParquetCached(spark, path)
    if (df.columns.contains("_kb")) df.drop("_kb") else df
  }

  /** Keyed-upsert SQL dialect: the statement text AND the order in
    * which row columns bind to its `?` parameters (dialects repeat
    * columns across clauses differently). */
  sealed trait UpsertDialect extends Serializable {
    def sql(table: String, cols: Seq[String], keyCols: Seq[String]): String
    /** For each statement parameter position, the index into `cols`
      * whose value binds there. */
    def bindOrder(cols: Seq[String], keyCols: Seq[String]): Seq[Int]
  }

  /** `INSERT … ON DUPLICATE KEY UPDATE` — the reference's MySQL load
    * (etl/03_transform_and_load.py:134-156). One `?` per column. */
  case object MySqlUpsert extends UpsertDialect {
    def sql(table: String, cols: Seq[String], keyCols: Seq[String]): String = {
      val placeholders = cols.map(_ => "?").mkString(", ")
      val updates = cols.filterNot(keyCols.contains)
        .map(c => s"$c = VALUES($c)").mkString(", ")
      s"INSERT INTO $table (${cols.mkString(", ")}) VALUES ($placeholders) " +
        s"ON DUPLICATE KEY UPDATE $updates"
    }
    def bindOrder(cols: Seq[String], keyCols: Seq[String]): Seq[Int] =
      cols.indices
  }

  /** ANSI `MERGE` against a one-row dummy source — the Derby/DB2 shape
    * (Derby rejects `VALUES` as a MERGE source, so key/update/insert
    * values each bind as parameters of their own clause). Exercised
    * end-to-end against embedded Derby in SinksSpec. */
  case object DerbyUpsert extends UpsertDialect {
    def sql(table: String, cols: Seq[String], keyCols: Seq[String]): String = {
      val on = keyCols.map(k => s"$table.$k = ?").mkString(" AND ")
      val setCols = cols.filterNot(keyCols.contains)
      val matched =
        if (setCols.isEmpty) "" // all-key table: nothing to update
        else "WHEN MATCHED THEN UPDATE SET " +
          setCols.map(c => s"$c = ?").mkString(", ") + " "
      s"MERGE INTO $table USING SYSIBM.SYSDUMMY1 ON $on " + matched +
        s"WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    }
    def bindOrder(cols: Seq[String], keyCols: Seq[String]): Seq[Int] =
      keyCols.map(cols.indexOf) ++
        cols.indices.filterNot(i => keyCols.contains(cols(i))) ++
        cols.indices
  }

  /** SQL text of the MySQL-dialect upsert the JDBC sink executes —
    * split out so tests cover statement generation without a live DB. */
  def upsertSql(table: String, cols: Seq[String], keyCols: Seq[String]): String =
    MySqlUpsert.sql(table, cols, keyCols)

  /** S4/S6 JDBC variant: batched upsert per partition, connection
    * options from config/env (never code). One connection + one
    * prepared statement per PARTITION (amortized), `addBatch` per row,
    * `executeBatch` per `batchSize` — the reference's `executemany`
    * shape, distributed. The MySQL dialect is statement-gen tested (no
    * live MySQL in this container); the Derby dialect runs end-to-end
    * against an embedded in-memory database in SinksSpec, including an
    * idempotent re-run. */
  def jdbcUpsert(df: DataFrame, url: String, table: String,
      keyCols: Seq[String], props: java.util.Properties,
      batchSize: Int = 1000,
      dialect: UpsertDialect = MySqlUpsert): Unit = {
    val cols = df.columns.toSeq
    val sql = dialect.sql(table, cols, keyCols)
    val order = dialect.bindOrder(cols, keyCols)
    df.foreachPartition { (rows: Iterator[Row]) =>
      val conn: Connection = DriverManager.getConnection(url, props)
      conn.setAutoCommit(false) // per-partition txn (S5 caveat in scaladoc)
      try {
        val st = conn.prepareStatement(sql)
        var n = 0
        rows.foreach { r =>
          order.zipWithIndex.foreach { case (ci, pi) =>
            st.setObject(pi + 1, r.get(ci))
          }
          st.addBatch()
          n += 1
          if (n % batchSize == 0) st.executeBatch()
        }
        st.executeBatch()
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally conn.close()
    }
  }
}
