package graft.probe

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Probe
import graft.Probe.{Cell, Ctx}
import graft.functions.{BpeApply, BpeEncode}
import graft.queries.TextOps

/** Cells over the tokenizer: training cost vs merge rounds (`bpe`),
  * apply-plan shape vs vocabulary size (`bpe-apply`) and corpus-scale
  * encode/pack throughput (`bpe-encode`). Each prints one JSON line. */
object TextCells {

  val cells: Seq[Cell] = Seq(
    Cell("bpe", "", Probe.Adaptive, bpe),
    Cell("bpe-apply", "", Probe.Adaptive, bpeApply),
    Cell("bpe-encode", "[--deep]", Probe.Adaptive, bpeEncode))

  /** `n` words of `min`..`min + spread - 1` lowercase letters from `rnd`. */
  private def words(rnd: Random, n: Int, min: Int, spread: Int): IndexedSeq[String] =
    (0 until n).map { _ =>
      val len = min + rnd.nextInt(spread)
      Array.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    }

  /** BPE training cost vs merge-round count. One distributed Spark job
    * per merge round pays a ~1 s scheduling floor for a pair-count over
    * ≤ [[TextOps.BpeWordCap]] rows — at a realistic 32k-merge
    * vocabulary that is days of job-launch latency for kilobytes of
    * state. The merge loop runs in driver memory instead (one bounded
    * collect of the capped word table, then plain Scala); the
    * distributed part of training is the ONE corpus scan that builds
    * the word-frequency table.
    *
    * This cell measures the two costs separately: the word-count scan
    * (corpus-bound), then the merge loop at 8 and 512 rounds. The claim
    * to verify: loop time is not ∝ rounds × job-launch latency — 512
    * rounds must cost far under the ~512 s the per-round-job shape
    * would pay, and the per-round cost must sit in the
    * microsecond-to-millisecond range of an in-memory pair count. */
  private def bpe(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    // the distributed part: one corpus scan → capped (word, n, s)
    // table, pinned so the loop probes below measure the LOOP only
    val table = TextOps.bpeTrainingTable(spark, c.sfDir).localCheckpoint()
    val (nWords, scanSecs) = Probe.timed(table.count())
    // warm the collect path once so JIT/IO noise stays out of the
    // measured cells
    TextOps.bpeTrain(table, rounds = 1)
    val (m8, s8) = Probe.timed(TextOps.bpeTrain(table, rounds = 8))
    val (m512, s512) = Probe.timed(TextOps.bpeTrain(table, rounds = 512))
    // full-depth cell: the sf corpora draw from a small vocabulary, so
    // 512 rounds exhaust early there — this synthetic 8192-distinct-
    // word table (seeded, 8–16 chars) sustains all 512 rounds at the
    // cap the real training table is bounded by, measuring the
    // per-round cost at full state size
    val synth = words(new Random(42), 8192, 8, 9).distinct.zipWithIndex.map { case (w, i) =>
      (w.map(ch => s" $ch ").mkString, 1L + (i % 50)) }
      .toDF("s", "n").localCheckpoint()
    val nSynth = synth.count()
    val (mFull, sFull) = Probe.timed(TextOps.bpeTrain(synth, rounds = 512))
    c.emit("sf" -> c.sfDir, "vocab_words" -> nWords,
      "word_count_scan_secs" -> scanSecs,
      "merges_8" -> m8.size, "loop_secs_8" -> s8,
      "merges_512" -> m512.size, "loop_secs_512" -> s512,
      "synth_vocab" -> nSynth, "synth_merges_512" -> mFull.size,
      "synth_loop_secs_512" -> sFull,
      "synth_secs_per_round" -> math.round(sFull / 512 * 1e6) / 1e6)
  }

  /** BPE merge APPLICATION plan shape vs vocabulary size. The apply
    * path is the corpus-wide scan (every document's words are segmented
    * under the learned model), so ITS plan shape is where tokenizer
    * cost touches all 100 TB. Folding one `replace` plan node per merge
    * is fine at [[TextOps.BpeRounds]] = 8, but a realistic 32k-merge
    * vocabulary makes the plan a 32,000-deep nested expression tree —
    * analysis/optimizer cost superlinear in plan size and whole-stage
    * codegen past the JVM method limit, falling back to interpreted
    * eval. [[BpeApply]] holds the merge table as one per-instance
    * array: plan size O(1) in merges, per-row cost unchanged.
    *
    * This cell measures both formulations at 8 / 1024 / 8192 synthetic
    * merges: plan-preparation seconds (analysis + optimization +
    * physical planning), execution seconds, plan tree size, and whether
    * the apply expression sits inside a WholeStageCodegen span. The
    * fold path's 8192-merge EXECUTION cell is skipped; the honest
    * numbers there are the prep-time growth and the codegen verdict. */
  private def bpeApply(c: Ctx): Unit = {
    val spark = c.spark
    // the sf corpora draw from a ~31-word vocabulary (fine for the
    // oracle, useless for a throughput cell), so the kernel runs over
    // a synthetic 200k-row word table in the engine's spaced-symbol
    // encoding: seeded 6–14-char words, the realistic per-row work
    val vocab = words(new Random(7), 4096, 6, 9)
    val table = spark.range(0, 200000)
      .select((col("id") % 4096).cast("int").as("i"), col("id").as("n"))
      .select(element_at(typedLit(vocab), col("i") + 1).as("word"), col("n"))
      .select(concat(lit(" "),
        concat_ws("  ", split(col("word"), "")), lit(" ")).as("s"),
        col("n"))
      .localCheckpoint()
    val nWords = table.count()

    // synthetic merge table: mostly no-op pairs (xN,yN) plus a tail of
    // real single-char merges so the kernel does real replacement work
    def mergesOf(n: Int): Seq[(String, String)] =
      (0 until n - 4).map(i => (s"x$i", s"y$i")) ++
        Seq("e" -> "s", "t" -> "h", "a" -> "n", "o" -> "r")
    def exprPlan(m: Seq[(String, String)]): DataFrame =
      table.withColumn("s", BpeApply.applyBpe(col("s"), m))
    def foldPlan(m: Seq[(String, String)]): DataFrame =
      m.foldLeft(table) { case (acc, (l, r)) =>
        acc.withColumn("s", replace(col("s"), lit(s" $l  $r "), lit(s" $l$r ")))
      }
    def measure(d: => DataFrame, exec: Boolean) =
      try {
        // executedPlan forces analysis→planning
        val ((df, exe), prep) = Probe.timed { val df = d; (df, df.queryExecution.executedPlan) }
        val planChars = exe.treeString.length
        val codegen = exe.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec
            if w.toString.contains("bpe_apply") || w.toString.contains("replace") => w
        }.nonEmpty
        val ex = if (!exec) -1.0
          else Probe.timed(df.agg(sum(length(col("s")))).head().getLong(0))._2 // forces the kernel
        Probe.obj("prep_secs" -> prep, "exec_secs" -> ex,
          "plan_chars" -> planChars, "codegen" -> codegen, "failed" -> "")
      } catch {
        // the fold formulation at a real vocabulary can die before a
        // single row moves (recursive plan clone → driver stack) —
        // that IS the measurement
        case t: Throwable =>
          Probe.obj("prep_secs" -> -1.0, "exec_secs" -> -1.0, "plan_chars" -> -1,
            "codegen" -> false, "failed" -> t.getClass.getSimpleName)
      }
    val sizes = Seq(8, 1024, 8192)
    val exprCells = sizes.map(n => n.toString -> measure(exprPlan(mergesOf(n)), exec = true))
    // fold execution at 8192 merges can run minutes interpreted; the
    // prep growth + codegen verdict are the load-bearing cells, so
    // execute fold up to 1024 and prep-only at 8192
    val foldCells = sizes.map(n =>
      n.toString -> measure(foldPlan(mergesOf(n)), exec = n <= 1024))
    c.emit("sf" -> c.sf.getOrElse(""), "distinct_words" -> nWords,
      "expr" -> Probe.obj(exprCells: _*), "fold" -> Probe.obj(foldCells: _*))
  }

  /** Corpus-scale token-ID encoding throughput. [[BpeEncode]] is the
    * tokenize-for-training scan: one codegen'd map from document text
    * to `array<bigint>` ids, no shuffle, plan size O(1) in vocabulary.
    * The claim to verify is that per-document cost is FLAT as the
    * corpus grows (scan-bound — wall clock ∝ rows), and that the Zipf
    * memo makes the per-word merge fold a per-DISTINCT-word cost, not a
    * per-occurrence one.
    *
    * The sf corpora draw from a ~31-word vocabulary (fine for oracles,
    * useless for throughput), so the cell generates a 32k-word seeded
    * vocabulary, documents of 40 words each, and a 1024-pair merge
    * table over the same alphabet (some merges fire, most are the
    * realistic `indexOf`-miss no-ops). Cells: encode at 1× (100k docs)
    * and 10× (1M docs), wall seconds, docs/s, emitted token counts,
    * and the 10×/1× time ratio (flat per-row cost ⇔ ratio ≈ 10). */
  private def bpeEncode(c: Ctx): Unit = {
    val spark = c.spark
    val rnd = new Random(13)
    val vocab = words(rnd, 32768, 4, 9)
    // 1024 learned-looking merges: char pairs first (these fire on
    // nearly every word), then composite symbols (mostly no-ops —
    // the realistic long tail of a trained table)
    val merges = {
      val chars = ('a' to 'z').map(_.toString)
      val pairs = for (l <- chars; r <- chars) yield (l, r)
      (pairs.take(512) ++ (0 until 512).map { i =>
        (pairs(rnd.nextInt(676))._1 * 2, chars(i % 26))
      }).take(1024)
    }
    def docsOf(n: Long) = spark.range(0, n, 1, 32)
      .select(col("id"), concat_ws(" ",
        (0 until 40).map(j => element_at(typedLit(vocab),
          (pmod(col("id") * 40 + j * 7919, lit(32768))).cast("int") + 1)): _*)
        .as("text"))

    // each cell's localCheckpoint blocks are dropped before the next
    // cell: without this, five pack cells pile ~15 GB of checkpointed
    // docs into the block manager and the later cells measure eviction
    // churn, not the operator
    /** (emitted tokens, seconds) */
    def encodeCell(n: Long): (Long, Double) = Probe.cleaned(spark) {
      val d = docsOf(n).localCheckpoint() // isolate generation cost
      Probe.timed(d.select(BpeEncode.encodeIds(col("text"), merges).as("ids"))
        .agg(sum(size(col("ids")))).collect()(0).getLong(0))
    }
    // steady state first: one warm-up pass pays JIT + codegen + the
    // memo fill, so the measured cells compare flat per-row cost, not
    // cold-start noise (the first pass is also reported — it is the
    // honest "memo fills once" number)
    val sWarm = encodeCell(10000L)._2
    val (t1, s1) = encodeCell(100000L)
    val (t10, s10) = encodeCell(1000000L)
    // memo-sharing cell: a brand-NEW query under the same model
    // (encodeIds builds a fresh EncodeTable per call) must NOT re-pay
    // the word→ids fill — the per-JVM registry keys the memo by model
    // content, so only the first-ever pass pays it. Compare
    // warm_new_query_secs against warmup_secs (same 10k docs).
    val sNewQuery = encodeCell(10000L)._2

    // fixed-length packing cell (q161's shape): encode + SKINNY offset
    // window ((source, doc_id, n) rows only) + doc-grain hash-join back
    // to the id arrays + overlap explode + (source, seq) aggregate. The
    // window's per-source task sorts ~24-byte rows however large the
    // corpus; the token payload moves only through fully-parallel hash
    // exchanges. `nSrc` parameterizes source-count sensitivity (16 =
    // the uniform fleet, 1 = the worst-case single-partition window);
    // `skew` puts 90% of docs on one hot source (the stats-write cell's
    // discipline) so the family's skew law is measured, not assumed.
    /** (packed sequences, seconds) */
    def packCell(n: Long, nSrc: Int, skew: Boolean = false)
        : (Long, Double) = Probe.cleaned(spark) {
      val L = 2048L
      val srcCol =
        if (skew)
          when(pmod(col("id"), lit(10)) < 9, lit("hot"))
            .otherwise(pmod(col("id"), lit(nSrc)).cast("string"))
            .as("source")
        else pmod(col("id"), lit(nSrc)).cast("string").as("source")
      val d = docsOf(n).select(col("id"), srcCol, col("text")).localCheckpoint()
      Probe.timed {
        val withIds = d.select(col("id").as("doc_id"), col("source"),
            BpeEncode.encodeIds(col("text"), merges).as("ids"))
          .select(col("doc_id"), col("source"), col("ids"),
            size(col("ids")).cast("long").as("n"))
        val start = coalesce(
          sum(col("n") + 1).over(Window.partitionBy(col("source"))
            .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L))
        val offsets = withIds.select(col("source"), col("doc_id"), col("n"))
          .withColumn("start", start)
          .select(col("source"), col("doc_id"), col("start"))
        val seqs = withIds.join(offsets, Seq("source", "doc_id"))
          .withColumn("ext", concat(col("ids"), array(lit(0x200000L))))
          .withColumn("seq", explode(sequence(
            floor(col("start") / lit(L)),
            floor((col("start") + col("n")) / lit(L)))))
          .withColumn("from",
            greatest(lit(0L), col("seq") * lit(L) - col("start")))
          .withColumn("upto",
            least(col("n"), col("seq") * lit(L) + lit(L - 1) - col("start")))
          .withColumn("part", slice(col("ext"),
            (col("from") + 1).cast("int"),
            (col("upto") - col("from") + 1).cast("int")))
          .groupBy(col("source"), col("seq"))
          .agg(sum(size(col("part")).cast("long")).as("n_ids"))
          .agg(count(lit(1)), sum(col("n_ids"))).collect()(0)
        seqs.getLong(0)
      }
    }
    // steady state for the pack path too: the first pack execution
    // pays JIT + codegen for the window/join/explode operators (a 10k
    // cell measured 15 s at 1× vs 13 s at 10× before this warm-up —
    // pure ordering contamination)
    val pWarm = packCell(10000L, 16)._2
    val (sq1, p1) = packCell(100000L, 16)
    val (sq10, p10) = packCell(1000000L, 16)
    // ONE source: every offset flows through a single skinny window
    // task — the done-criterion cell for the de-serialization
    val o1 = packCell(100000L, 1)._2
    val o10 = packCell(1000000L, 1)._2
    // 90%-hot source mix at 10×
    val k10 = packCell(1000000L, 16, skew = true)._2
    def ratio(a: Double, b: Double) = math.round(a / b * 100) / 100.0

    // --deep: the 100× cells — 10M docs, both the 16-source fleet and
    // ONE source, to measure where the one-task skinny sort actually
    // bends. ~4 GB of checkpointed docs per cell (MEMORY_AND_DISK,
    // spills), so opt-in rather than default.
    val deep =
      if (!c.args.contains("--deep")) Nil
      else {
        val (p100, o100) = (packCell(10000000L, 16)._2, packCell(10000000L, 1)._2)
        Seq("pack_secs_100x" -> p100, "pack_1src_secs_100x" -> o100,
          "pack_1src_ratio_100x_over_10x" -> ratio(o100, o10))
      }
    c.emit(Seq("merges" -> merges.size, "vocab" -> vocab.size,
      "warmup_secs" -> sWarm,
      "docs_1x" -> 100000, "secs_1x" -> s1, "tokens_1x" -> t1,
      "docs_10x" -> 1000000, "secs_10x" -> s10, "tokens_10x" -> t10,
      "docs_per_sec_10x" -> math.round(1000000L / s10),
      "time_ratio_10x" -> ratio(s10, s1),
      "warm_new_query_secs" -> sNewQuery,
      "pack_warmup_secs" -> pWarm,
      "pack_secs_1x" -> p1, "pack_seqs_1x" -> sq1,
      "pack_secs_10x" -> p10, "pack_seqs_10x" -> sq10,
      "pack_time_ratio_10x" -> ratio(p10, p1),
      "pack_1src_secs_1x" -> o1, "pack_1src_secs_10x" -> o10,
      "pack_1src_ratio_10x" -> ratio(o10, o1),
      "pack_skew90_secs_10x" -> k10) ++ deep: _*)
  }
}
