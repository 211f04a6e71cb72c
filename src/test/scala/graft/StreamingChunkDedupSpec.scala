package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.StreamingChunkDedup

/** Streaming chunk dedup ≡ batch q56 when batches arrive in doc_id
  * order, suppresses repeats ACROSS batches via the ledger, and is
  * exactly-once under batchId replay. */
class StreamingChunkDedupSpec extends SparkSpec {

  private def mk(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val shared = (1 to 10).map(i => s"dup$i").mkString(" ")
  private def uniq(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")

  test("cross-batch repeats are suppressed; replay does not change results") {
    val out = Files.createTempDirectory("graft-sdedup").toString
    // batch 0: doc 1 owns the shared chunk
    StreamingChunkDedup.writeBatch(spark,
      mk(Seq((1L, s"$shared ${uniq("a")}"), (2L, uniq("b")))), 0L, out)
    // batch 1: doc 3 repeats the shared chunk from batch 0, doc 4 is
    // pure repeat of doc 2's chunk → fully deduplicated away
    StreamingChunkDedup.writeBatch(spark,
      mk(Seq((3L, s"$shared ${uniq("c")}"), (4L, uniq("b")))), 1L, out)

    def sinkMap() = StreamingChunkDedup.readSink(spark, out).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    val first = sinkMap()
    assert(first(1L) == (2, s"$shared ${uniq("a")}"))
    assert(first(2L) == (1, uniq("b")))
    assert(first(3L) == (1, uniq("c")), "cross-batch repeat must be dropped")
    assert(first(4L) == (0, ""), "fully-seen doc must dedup to empty")

    // crash-replay of batch 1: same batchId, same rows — the ledger
    // exclusion must hide its own prior attempt, reproducing the SAME
    // survivors instead of deduplicating everything away
    StreamingChunkDedup.writeBatch(spark,
      mk(Seq((3L, s"$shared ${uniq("c")}"), (4L, uniq("b")))), 1L, out)
    assert(sinkMap() == first, "replayed batch must reproduce its output")
  }

  test("stream over ordered batches equals batch q56 on the union") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-sdedup-eq").toString
    val b0 = Seq((1L, s"$shared ${uniq("x")}"), (2L, s"${uniq("y")} $shared"))
    val b1 = Seq((3L, s"$shared $shared"), (4L, uniq("z")))
    StreamingChunkDedup.writeBatch(spark, mk(b0), 0L, out)
    StreamingChunkDedup.writeBatch(spark, mk(b1), 1L, out)
    val streamed = StreamingChunkDedup.readSink(spark, out).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap

    // batch twin over the union, via the same temp-table-dir trick
    val dir = Files.createTempDirectory("graft-sdedup-batch").toString
    (b0 ++ b1).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .write.parquet(s"$dir/documents.parquet")
    val batch = graft.queries.TextOps.q56ChunkDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getString(3))).toMap

    assert(streamed == batch,
      s"stream must equal batch q56:\n$streamed\nvs\n$batch")
  }

  test("ledger compaction folds old partitions and preserves suppression") {
    val out = Files.createTempDirectory("graft-sdedup-compact").toString
    StreamingChunkDedup.writeBatch(spark, mk(Seq((1L, uniq("a")))), 0L, out)
    StreamingChunkDedup.writeBatch(spark, mk(Seq((2L, uniq("b")))), 1L, out)
    StreamingChunkDedup.writeBatch(spark, mk(Seq((3L, uniq("c")))), 2L, out)
    StreamingChunkDedup.writeBatch(spark, mk(Seq((4L, uniq("d")))), 3L, out)
    StreamingChunkDedup.compactLedger(spark, out, keepLast = 2)
    val dirs = new java.io.File(s"$out/ledger").listFiles()
      .filter(_.getName.startsWith("graft_batch_id=")).map(_.getName).sorted
    assert(dirs.toSeq ==
      Seq("graft_batch_id=-1", "graft_batch_id=2", "graft_batch_id=3"),
      s"expected batches 0,1 folded: ${dirs.toSeq}")
    // chunks from a FOLDED batch are still suppressed for new arrivals
    StreamingChunkDedup.writeBatch(spark, mk(Seq((5L, uniq("a")))), 4L, out)
    val got = StreamingChunkDedup.readSink(spark, out).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(5L) == 0, "folded-batch chunk must still suppress repeats")
    // replay of a batch INSIDE the keepLast horizon is still exact
    StreamingChunkDedup.writeBatch(spark, mk(Seq((4L, uniq("d")))), 3L, out)
    assert(StreamingChunkDedup.readSink(spark, out).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap.apply(4L) == 1)
    // a second compaction folds into the existing compacted partition
    StreamingChunkDedup.compactLedger(spark, out, keepLast = 2)
    StreamingChunkDedup.writeBatch(spark, mk(Seq((6L, uniq("b")))), 5L, out)
    assert(StreamingChunkDedup.readSink(spark, out).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap.apply(6L) == 0)
  }

  test("compaction recovers a crash between the two swap renames") {
    val out = Files.createTempDirectory("graft-sdedup-crash").toString
    StreamingChunkDedup.writeBatch(spark, mk(Seq((1L, uniq("a")))), 0L, out)
    StreamingChunkDedup.writeBatch(spark, mk(Seq((2L, uniq("b")))), 1L, out)
    StreamingChunkDedup.writeBatch(spark, mk(Seq((3L, uniq("c")))), 2L, out)
    StreamingChunkDedup.writeBatch(spark, mk(Seq((4L, uniq("d")))), 3L, out)
    StreamingChunkDedup.compactLedger(spark, out, keepLast = 2)
    // simulate the worst crash window of the NEXT compaction: the
    // compacted partition was moved aside to the backup but the new
    // staging never promoted — the ledger root has NO compacted dir
    val ledger = new java.io.File(s"$out/ledger")
    assert(new java.io.File(ledger, "graft_batch_id=-1")
      .renameTo(new java.io.File(ledger, "_compact_backup")))
    // recovery on the next compaction restores it before folding
    StreamingChunkDedup.compactLedger(spark, out, keepLast = 2)
    assert(new java.io.File(ledger, "graft_batch_id=-1").isDirectory)
    assert(!new java.io.File(ledger, "_compact_backup").exists)
    // the folded batch-0 chunk (only copy lived in the compacted
    // partition) must still suppress new arrivals — nothing was lost
    StreamingChunkDedup.writeBatch(spark, mk(Seq((9L, uniq("a")))), 4L, out)
    assert(StreamingChunkDedup.readSink(spark, out).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap.apply(9L) == 0,
      "hashes must survive a mid-swap crash")
  }

  test("a batch read after a crashed compaction swap still suppresses folded chunks") {
    val out = Files.createTempDirectory("graft-sdedup-crash-read").toString
    StreamingChunkDedup.writeBatch(spark, mk(Seq((1L, uniq("a")))), 0L, out)
    StreamingChunkDedup.writeBatch(spark, mk(Seq((2L, uniq("b")))), 1L, out)
    StreamingChunkDedup.writeBatch(spark, mk(Seq((3L, uniq("c")))), 2L, out)
    StreamingChunkDedup.compactLedger(spark, out, keepLast = 2)
    // crash between the next compaction's two swap renames: the only
    // copy of batch 0's hashes sits in the backup, which partition
    // discovery hides
    val ledger = new java.io.File(s"$out/ledger")
    assert(new java.io.File(ledger, "graft_batch_id=-1")
      .renameTo(new java.io.File(ledger, "_compact_backup")))
    // no compactLedger call: the batch's own ledger read must heal
    StreamingChunkDedup.writeBatch(spark, mk(Seq((9L, uniq("a")))), 3L, out)
    assert(StreamingChunkDedup.readSink(spark, out).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap.apply(9L) == 0,
      "a folded chunk re-entered the corpus after a crashed swap")
    assert(new java.io.File(ledger, "graft_batch_id=-1").isDirectory)
  }

  test("firstOccurrence packs integer doc_ids beyond 2048 without overflow") {
    import spark.implicits._
    // IntegerType doc_id (a user-supplied streaming schema shape):
    // 5000 << 20 wraps negative in 32-bit arithmetic — the kernel must
    // widen before shifting
    val chunked = Seq((5000, 0, "aa bb"), (6000, 0, "aa bb"))
      .toDF("doc_id", "idx", "chunk")
    val kept = graft.queries.TextOps.firstOccurrence(chunked).collect()
    assert(kept.length == 1)
    assert(kept.head.getLong(0) == 5000L,
      s"int doc_id must widen before the shift: ${kept.toSeq}")
  }

  test("end-to-end stream run dedups a directory of document files") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-sdedup-in").toString + "/docs"
    val out = Files.createTempDirectory("graft-sdedup-out").toString
    Seq((1L, s"$shared ${uniq("m")}"), (2L, s"$shared ${uniq("n")}"))
      .toDF("doc_id", "text").write.parquet(in)
    val schema = spark.read.parquet(in).schema
    val q = StreamingChunkDedup.start(spark, in, out, schema)
    try q.awaitTermination(120000) finally q.stop()
    val got = StreamingChunkDedup.readSink(spark, out).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // exactly one of the two keeps the shared chunk
    assert(got.values.toSeq.sorted == Seq(1, 2))
  }
}
