package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.ArtifactStore.memo

/** Text-analysis operators for LLM-data pipelines over `documents`:
  * token counting, quality scoring, language-ID, fingerprinting, exact
  * dedup. All array-native (`split`/`transform`/`filter`/`aggregate` —
  * codegen'd, no UDFs) so they stay inside whole-stage codegen and
  * scale linearly with no shuffle except the final aggregations.
  *
  * Oracle parity rules: integer arithmetic + IEEE double division only
  * (no transcendentals — libm rounding differs across engines), string
  * mins are lexicographic in both engines, Spark `sequence(0,k)` ≡
  * DuckDB `range(0,k+1)`.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** One regex split, materialized as a column before use: every
    * reference to an INLINE `split(text)` re-runs the regex per row
    * per reference (q14 referenced it 8×) — same pitfall, milder
    * degree, as the per-element re-split fixed in [[Dedup]]. */
  private val wordsCol = split(col("text"), "\\s+")
  private def withWords(df: DataFrame): DataFrame =
    df.withColumn("_ws", wordsCol)
  private val words = col("_ws")

  /** Stopword list shared with the oracle SQL. */
  private val stopEn = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  // --------------------------------------------------------------- q13
  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs / digit runs / single non-alnum). */
  def q13TokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"), col("lang"),
      length(col("text")).as("n_chars"),
      size(wordsCol).as("n_ws_tokens"),
      regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))
        .as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  // --------------------------------------------------------------- q14
  /** Quality scoring: length/stopword/alpha ratios combined into a
    * rational score — the filter predicate a training-data pipeline
    * would push down to the scan. */
  def q14QualityScore(spark: SparkSession, dir: String): DataFrame =
    withQuality(docs(spark, dir)).select(
      col("doc_id"), col("n_tokens"), col("n_stopwords"),
      col("stopword_ratio"), col("avg_token_len"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** Add the q14 quality columns to ANY frame with a `text` column —
    * one definition shared by the batch query and the streaming ingest
    * filter ([[graft.streaming.StreamingQuality]]), the same
    * batch≡stream guarantee StreamingEtl makes for the ETL transform.
    * Stateless per-row arithmetic: safe in append-mode streams. */
  def withQuality(df: DataFrame): DataFrame = {
    val nTokens = size(words)
    val nStop = size(filter(words, w => w.isin(stopEn: _*)))
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
    val stopRatio = nStop.cast("double") / nTokens.cast("double")
    val avgTokLen = nAlpha.cast("double") / nTokens.cast("double")
    val score = (lit(1.0) - stopRatio) *
      (least(nTokens, lit(100)).cast("double") / lit(100.0))
    withWords(df)
      .withColumn("n_tokens", nTokens)
      .withColumn("n_stopwords", nStop)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("avg_token_len", avgTokLen)
      .withColumn("quality_score", score)
  }

  // --------------------------------------------------------------- q61
  /** Adaptive per-language quality gate: keep documents at or above
    * their language's own discrete median quality score — the
    * per-language-threshold practice from published web-corpus
    * pipelines (CCNet's per-language perplexity buckets, RefinedWeb's
    * per-language filters): one global cutoff over-filters whichever
    * languages score systematically lower, so each language is gated
    * against its own distribution.
    *
    * Scale shape mirrors [[graft.queries.Analytics.q37aSketchExact]]:
    * the threshold is computed on the (lang, score) HISTOGRAM — a
    * partial-agg groupBy, then the cumulative window over the
    * compressed value table — never a per-row rank window partitioned
    * by lang (which would sort an entire language's rows on one task
    * at 100 TB). The per-language thresholds frame (|langs| rows) then
    * broadcasts back onto the scored corpus. Discrete (type-1) median:
    * the value at 1-based sorted position `ceil(0.5*n)`, identical in
    * both engines, no interpolation on doubles. */
  def q61QualityGate(spark: SparkSession, dir: String): DataFrame =
    qualityGate(docs(spark, dir))

  /** The gate over any frame with (doc_id, lang, text) — split out so
    * callers can gate arbitrary corpora, not just the sf table. */
  def qualityGate(documents: DataFrame, p: Double = 0.5): DataFrame = {
    val scored = withQuality(documents)
      .select(col("doc_id"), col("lang"), col("quality_score"))
    scored.join(broadcast(qualityThresholds(documents, p)), "lang")
      .filter(col("quality_score") >= col("lang_median"))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        col("lang_median"))
      .orderBy(col("doc_id"))
  }

  /** q61's per-language threshold frame (lang, lang_median) on its own
    * — the "train" half of the gate, reusable by the streaming ingest
    * filter ([[graft.streaming.StreamingQuality.startAdaptive]]):
    * thresholds are learned batch-side over a reference corpus, then
    * applied stream-side per arriving row. */
  def qualityThresholds(documents: DataFrame, p: Double = 0.5): DataFrame = {
    val scored = withQuality(documents)
      .select(col("lang"), col("quality_score"))
    val hist = scored.groupBy(col("lang"), col("quality_score"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("lang")).orderBy(col("quality_score"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    hist.groupBy(col("lang"))
      .agg(min(when(col("cum") >= ceil(col("n") * lit(p)),
        col("quality_score"))).as("lang_median"))
  }

  // --------------------------------------------------------------- q15
  /** Language-ID: stopword-hit heuristic across five wordlists, argmax
    * with a fixed tie order. (On this synthetic corpus most docs score
    * `en` — the operator contract is the heuristic itself, which the
    * oracle reproduces verbatim; accuracy vs the `lang` label is a
    * reported column, not a target.) */
  def q15LangId(spark: SparkSession, dir: String): DataFrame = {
    val lists = Seq(
      "en" -> Seq("the", "a", "and", "of", "to", "is"),
      "es" -> Seq("el", "la", "de", "que", "y", "en"),
      "fr" -> Seq("le", "la", "et", "les", "des", "un"),
      "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
      "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3"))
    val scored = withWords(docs(spark, dir)).select(
      (col("doc_id") +: col("lang") +:
        lists.map { case (l, ws) =>
          size(filter(words, w => w.isin(ws: _*))).as(s"score_$l")
        }): _*)
    // argmax with fixed tie order en>es>fr>de>zh
    val best = lists.map(_._1).foldRight(lit("zh")) { (l, rest) =>
      if (l == "zh") rest
      else {
        val others = lists.map(_._1).dropWhile(_ != l).drop(1)
        val isMax = others.map(o => col(s"score_$l") >= col(s"score_$o"))
          .reduce(_ && _)
        when(isMax, lit(l)).otherwise(rest)
      }
    }
    scored
      .withColumn("pred_lang", best)
      .withColumn("is_correct", (col("pred_lang") === col("lang")).cast("int"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q16
  /** Document fingerprint: lexicographic-min MD5 over stride-4 8-char
    * shingles (winnowing-style content fingerprint, robust to
    * reordering of distant content; array-native, no explode).
    * Texts shorter than one shingle get a NULL fingerprint: unguarded,
    * Spark's `sequence(0, negative)` counts DOWN and a negative
    * `substring` start then counts from the END of the string — while
    * the DuckDB oracle's empty `range` yields NULL. The guard pins the
    * NULL semantics on both engines. */
  def q16Fingerprint(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Spread.byKey(docs(spark, dir), col("doc_id")).select(
      col("doc_id"),
      expr("""CASE WHEN length(text) >= 8 THEN
               array_min(transform(
                 sequence(0, CAST(floor((length(text)-8)/4) AS INT)),
                 i -> md5(substring(text, i*4+1, 8))))
              ELSE NULL END""").as("fingerprint"),
      length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))

  // --------------------------------------------------------------- q17
  /** Exact dedup (hash-groupBy): survivor map keyed by content hash —
    * min(doc_id) wins, duplicate count per group (SURVEY A2 scaled to
    * content dedup). */
  def q17ExactDedup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper_doc_id"))

  // --------------------------------------------------------------- q33
  /** Composite training-data prep pipeline: exact-dedup survivors →
    * quality filter → per-source corpus stats. The operators compose
    * in ONE lazy plan (dedup's groupBy is the only shuffle before the
    * final per-source aggregate) — the shape of a real corpus-prep
    * job, oracle-checked end-to-end. */
  def q33PrepPipeline(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val nTokens = size(words)
    val nStop = size(filter(words, w => w.isin(stopEn: _*)))
    val quality = (lit(1.0) - nStop.cast("double") / nTokens.cast("double")) *
      (least(nTokens, lit(100)).cast("double") / lit(100.0))
    val survivors = d
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(d, "doc_id")
    withWords(survivors)
      .withColumn("quality", quality)
      .filter(col("quality") >= 0.5 && length(col("text")) >= 100)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(words).cast("long")).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .orderBy(col("source"))
  }

  // --------------------------------------------------------------- q43
  /** Repetition metrics — the Gopher-style quality filters (Rae et al.
    * 2021, "Scaling Language Models", table A2): fraction of duplicate
    * tokens and duplicate word-bigrams per document. High repetition
    * flags boilerplate/spam for corpus filtering. Array-native: one
    * split, one bigram transform, sizes only — no explode, no shuffle
    * until the final sort. The <2-token guard mirrors the shingler's
    * ANSI trap ([[graft.queries.Dedup]]): `sequence(0, size-2)` counts
    * DOWN for 1-token docs and the negative index throws. */
  /** Word-bigram array over `_ws`, <2-token-guarded (shared by q43's
    * metrics and q65's gate). */
  private def bigramsExpr = expr(
    """CASE WHEN size(_ws) >= 2 THEN
      |  transform(sequence(0, size(_ws) - 2),
      |    i -> concat_ws(' ', _ws[i], _ws[i+1]))
      |ELSE array() END""".stripMargin)

  def q43Repetition(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = bigramsExpr
    val nTok = size(words)
    val nDistTok = size(array_distinct(words))
    val nBg = size(col("_bg"))
    val nDistBg = size(array_distinct(col("_bg")))
    withWords(graft.operators.Spread.byKey(docs(spark, dir), col("doc_id"))).withColumn("_bg", bigrams)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        nDistTok.as("n_distinct_tokens"),
        when(nTok > 0, (nTok - nDistTok).cast("double") / nTok.cast("double"))
          .as("dup_token_ratio"),
        nBg.as("n_bigrams"),
        nDistBg.as("n_distinct_bigrams"),
        when(nBg > 0, (nBg - nDistBg).cast("double") / nBg.cast("double"))
          .as("dup_bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q65
  /** Gopher-style document gate (Rae et al. 2021 §A1.1 published the
    * rule FAMILY; thresholds here are this engine's): a document
    * passes when its token count is in [50, 100000], its mean word
    * length is in [3, 10], ≥80% of its tokens contain an alphabetic
    * character, and its duplicate-bigram fraction is ≤ 0.2. Reported
    * as metrics + verdict for every document (the audit view a corpus
    * pipeline wants), not pre-filtered — composing with q61's adaptive
    * gate or a plain `.filter(col("pass"))` downstream.
    *
    * All metrics are integer ratios evaluated in one fixed IEEE
    * expression both engines share; rules are null-safe (an empty doc
    * fails closed rather than passing as null). Array-native per-row
    * arithmetic — one split, no explode, no shuffle before the
    * presentation sort. */
  def q65GopherGate(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(words)
    val sumLen = aggregate(transform(words, w => length(w)),
      lit(0), (a, x) => a + x)
    val nAlphaTok = size(filter(words, w => w.rlike("[a-zA-Z]")))
    val nBg = size(col("_bg"))
    val nDistBg = size(array_distinct(col("_bg")))
    val meanWordLen =
      when(nTok > 0, sumLen.cast("double") / nTok.cast("double"))
    val alphaFrac =
      when(nTok > 0, nAlphaTok.cast("double") / nTok.cast("double"))
    val dupBigram =
      when(nBg > 0, (nBg - nDistBg).cast("double") / nBg.cast("double"))
    val pass =
      coalesce(nTok.between(50, 100000), lit(false)) &&
      coalesce(meanWordLen.between(3.0, 10.0), lit(false)) &&
      coalesce(alphaFrac >= 0.8, lit(false)) &&
      coalesce(dupBigram <= 0.2, lit(false))
    withWords(graft.operators.Spread.byKey(docs(spark, dir), col("doc_id"))).withColumn("_bg", bigramsExpr)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        meanWordLen.as("mean_word_len"),
        alphaFrac.as("alpha_frac"),
        dupBigram.as("dup_bigram_ratio"),
        pass.as("pass"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q66
  /** Corpus composition report — the mixture-accounting view behind
    * every sampling decision ([[q54SampleMix]]'s rates come from
    * exactly this table): documents and exact token counts per
    * (source, lang) cell, with each cell's token share of the whole
    * corpus. One partial-agg pass for the cells; the global total is
    * a 1-row aggregate of the CELL table (|sources|×|langs| rows, not
    * the corpus) broadcast back as a scalar. Integer token counts;
    * the share is one fixed double division both engines evaluate
    * identically. */
  def q66Composition(spark: SparkSession, dir: String): DataFrame = {
    val cells = withWords(docs(spark, dir))
      .select(col("source"), col("lang"),
        size(words).cast("long").as("_n_tok"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_n_tok")).as("n_tokens"))
    val total = cells.agg(sum(col("n_tokens")).as("_total"))
    cells.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("_total").cast("double"))
          .as("token_share"))
      .orderBy(col("source"), col("lang"))
  }

  // --------------------------------------------------------------- q74
  /** Corpus mixture PLAN — the step between [[q66Composition]]'s
    * accounting and [[q54SampleMix]]'s execution: per-language
    * sampling rates that rebalance the corpus to a target language
    * mixture at CONSTANT total token budget. Target here: en 50%,
    * es 20%, remaining languages split the last 30% equally — and the
    * raw weights are RENORMALIZED over the languages actually present
    * (the closed-form `_raw_sum` below), so a corpus missing a pinned
    * language still gets a complete mixture instead of silently
    * planning only half the budget (Σ rate·tokens = total holds for
    * ANY language composition; the spec proves it on an es/fr-only
    * corpus). `rate` = target_share × total_tokens / lang_tokens —
    * rate < 1 is the downsampling probability to feed q54; rate > 1
    * is the epoch count an under-represented language repeats for.
    *
    * Cross-engine exactness: token counts are exact integers (q13's
    * split semantics); every share/rate is one fixed IEEE expression
    * over them that both engines build identically. `_raw_sum` is a
    * closed form over presence flags — NOT a float sum over rows,
    * whose grouping (and thus last-ulp result) would depend on
    * partitioning.
    *
    * Scale shape: ONE corpus pass for the per-language cells
    * (partial+final agg, `localCheckpoint`'d for its two consumers);
    * totals are a 1-row re-aggregate of the |langs|-row cell table,
    * broadcast back. The plan for a trillion-token corpus costs the
    * same single scan as its token count. */
  def q74MixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val byLang = withWords(docs(spark, dir))
      .select(col("lang"), size(words).cast("long").as("_n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_n_tok")).as("n_tokens"))
      .localCheckpoint()
    // NULL-safe other-count: a null lang falls into the `.otherwise`
    // raw-weight branch below (=== is null ⇒ not matched), so it MUST
    // be counted here too — `!isin` alone is null for nulls, which
    // would undercount _n_other and hand the null group an unbacked
    // (at worst 0.3/0 = Infinity) weight
    val totals = byLang.agg(
      sum(col("n_tokens")).as("_total"),
      count(when(col("lang").isNull || !col("lang").isin("en", "es"), 1))
        .as("_n_other"),
      count(when(col("lang") === "en", 1)).as("_has_en"),
      count(when(col("lang") === "es", 1)).as("_has_es"))
    byLang.crossJoin(broadcast(totals))
      .withColumn("actual_share",
        col("n_tokens").cast("double") / col("_total").cast("double"))
      .withColumn("_raw",
        when(col("lang") === "en", lit(0.5))
          .when(col("lang") === "es", lit(0.2))
          .otherwise(lit(0.3) / col("_n_other").cast("double")))
      // closed-form sum of the raw weights actually present: exactly
      // 1 ulp-stable term per pinned language + one for the others
      .withColumn("_raw_sum",
        col("_has_en").cast("double") * lit(0.5) +
          col("_has_es").cast("double") * lit(0.2) +
          when(col("_n_other") > 0,
            col("_n_other").cast("double") *
              (lit(0.3) / col("_n_other").cast("double")))
            .otherwise(lit(0.0)))
      .withColumn("target_share", col("_raw") / col("_raw_sum"))
      .withColumn("rate",
        col("target_share") * col("_total").cast("double") /
          col("n_tokens").cast("double"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("actual_share"), col("target_share"), col("rate"))
      .orderBy(col("lang"))
  }

  // --------------------------------------------------------------- q84
  /** Keyword extraction: each document's top-3 most distinctive terms
    * — ranked by term frequency (desc), then RARITY across the corpus
    * (document frequency asc), then the term itself. The tf-idf
    * intuition with no floats: (tf, df) carries the same ordering
    * information for a per-doc top-k as tf·log(N/df) without the
    * cross-engine hazard of matching `log` implementations
    * bit-for-bit, so the whole ranking is integer/string-exact.
    *
    * Scale shape: one explode + two hash-aggregates (tf, then df as a
    * re-aggregate of the distinct (doc, term) pairs); the tf⋈df join
    * shuffles on the term key (both sides are already aggregates,
    * vocab-sized not corpus-sized); the per-doc top-3 is a rank window
    * that Spark caps map-side via WindowGroupLimit.
    *
    * Honesty note (r22 plan census): Catalyst does NOT share the
    * self-referenced tf subtree — the physical plan re-plans the
    * scan+tokenize+explode+agg a second time under the df branch, so
    * the corpus IS tokenized twice per run. The fix was tried and
    * measured-rejected: a `localCheckpoint` of tf (construct 0.75 +
    * exec 1.11 s vs 0.17 + 1.06 s without, 5-iter medians) — the
    * materialization barrier breaks the scan→WindowGroupLimit
    * pipelining and adds an exchange worth more than the saved
    * re-tokenize. At 100 TB the same barrier is one corpus-sized
    * local write; re-deriving tf from a persisted q159-style token
    * table (the pack family's ids-input seam) is the real escalation,
    * not a checkpoint. */
  def q84Keywords(spark: SparkSession, dir: String): DataFrame = {
    // spread before the scan-stage tokenize (q144's note)
    val tf = withWords(graft.operators.Spread.byKey(docs(spark, dir), col("doc_id")))
      .select(col("doc_id"), explode(words).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rank"))
  }

  // --------------------------------------------------------------- q77
  /** Per-language top-30% quality gate: keep exactly ceil(0.3·n) docs
    * per language, ranked by the q14 quality score. [[q61QualityGate]]
    * is the absolute-threshold variant (keep ≥ the language median);
    * this is the fixed-budget variant — when the pipeline owes
    * downstream a known corpus size, a quantile cut is the gate that
    * delivers it regardless of how the score distribution drifts.
    *
    * Cross-engine exactness: the score is q14's proven-exact float
    * expression; the cut itself never touches floats — keep iff
    * q_rank ≤ ceil(0.3·n) ⇔ 10·q_rank ≤ 3·n + 9, all BIGINT, with
    * (score DESC, doc_id) making the ranking total and deterministic.
    *
    * Scale shape: one window per language partition (rank + count
    * share the same partitioning, one shuffle); no global window, no
    * self-join — per-language partitions are the natural parallel
    * unit at 100 TB, with skew bounded by the largest language (salt
    * or split by (lang, score-bucket) if one language dominates). */
  def q77QuantileGate(spark: SparkSession, dir: String): DataFrame = {
    val byLang = Window.partitionBy(col("lang"))
    val rankW = byLang.orderBy(col("quality_score").desc, col("doc_id"))
    withQuality(docs(spark, dir))
      .select(col("doc_id"), col("lang"), col("quality_score"))
      .withColumn("q_rank", row_number().over(rankW).cast("long"))
      .withColumn("_n", count(lit(1)).over(byLang))
      .filter(col("q_rank") * 10 <= col("_n") * 3 + 9)
      .drop("_n")
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q79
  /** Per-language token-budget head: assemble an epoch by walking each
    * language's documents in the deterministic md5-uniform order
    * ([[uniformKeyOf]] — the ONE key definition, so the "shuffle" is
    * reproducible across runs and engines) and taking documents until
    * a fixed token budget fills, truncating the boundary document to
    * the remaining budget (`take_tokens`) — the packing step between
    * q74's mixture rates and a training loader.
    *
    * Cross-engine exactness: all integers — a cumulative BIGINT sum
    * ordered by (sample_key, doc_id); the only float is the ordering
    * key, which is exact by construction (integer / 2^32).
    *
    * Scale shape: one window per language partition — the cumulative
    * sum shuffles each language's (doc_id, n_tokens) pairs once,
    * never the text; budget selection at 100 TB runs on the token-
    * count projection (16 bytes/row), and the kept ids join back to
    * the corpus for extraction. */
  def q79TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2000L
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("sample_key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withWords(docs(spark, dir))
      .select(col("doc_id"), col("lang"),
        size(words).cast("long").as("n_tokens"), uniformKey)
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .withColumn("take_tokens",
        least(col("n_tokens"), lit(budget) - col("cum_before")))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("cum_before"), col("take_tokens"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q75
  /** Overlapping token-window chunker — the long-document splitting
    * primitive behind context-length training prep and RAG indexing:
    * windows of [[ChunkWindow]] tokens starting every
    * [[ChunkStride]] (16-token overlap preserves context across
    * boundaries), one output row per (doc, window) with the window's
    * md5 — never the text — so the result stays narrow at any scale.
    *
    * Window starts are `sequence(0, size-(W-S)-1, stride)` (floored
    * at 0) — every token is covered and the last window is allowed to
    * run short, but a start whose PREDECESSOR window already reached
    * the document end is suppressed: its content would be a strict
    * suffix of the previous chunk, bloating a RAG index with
    * duplicate-span entries (for W=64, S=48 that's every document
    * with size mod 48 in 1..16). An empty document still emits its
    * one (empty) window so the chunk table keeps
    * one-row-per-doc-minimum accounting.
    *
    * Scale shape: entirely array-native per row (transform + slice in
    * codegen, one posexplode); NO shuffle anywhere but the
    * presentation sort — the chunker of a trillion-doc corpus is a
    * pure map. */
  val ChunkWindow = 64
  val ChunkStride = 48
  def q75ChunkWindows(spark: SparkSession, dir: String): DataFrame =
    withWords(docs(spark, dir))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(
             |  sequence(0,
             |    greatest(size(_ws) - ${ChunkWindow - ChunkStride} - 1, 0),
             |    $ChunkStride),
             |  st -> struct(
             |    st AS start,
             |    least($ChunkWindow, size(_ws) - st) AS n_chunk_tokens,
             |    md5(concat_ws(' ', slice(_ws, st + 1, $ChunkWindow)))
             |      AS chunk_md5))""".stripMargin))
          .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.start").cast("long").as("start"),
        col("c.n_chunk_tokens").cast("long").as("n_chunk_tokens"),
        col("c.chunk_md5").as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  // --------------------------------------------------------------- q67
  /** Token frequency spectrum — frequency-of-frequencies (how many
    * distinct tokens occur exactly n times), the corpus statistic
    * behind Zipf/Heaps sanity checks, vocabulary-size projections,
    * and Good-Turing smoothing mass. Two hash aggregates: token
    * counts (the q48 vocabulary shuffle), then counts-of-counts over
    * the DISTINCT-TOKEN table — orders of magnitude smaller than the
    * token stream, and the second shuffle carries only (freq, count)
    * pairs. */
  def q67FreqSpectrum(spark: SparkSession, dir: String): DataFrame =
    withWords(docs(spark, dir))
      .select(explode(words).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .groupBy(col("freq")).agg(count(lit(1)).as("n_tokens"))
      .orderBy(col("freq"))

  // --------------------------------------------------------------- q46
  /** PII scrubbing: count and mask email/phone shapes — the redaction
    * pass a training corpus runs before anything else ships. Patterns
    * are deliberately restricted to the regex subset Java and RE2
    * evaluate identically (`\b`, `\d`, classes — no lookaround), so
    * the DuckDB oracle runs the same patterns verbatim. */
  val emailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val phonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  def q46PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val nEmails = regexp_count(col("text"), lit(emailPattern))
    val nPhones = regexp_count(col("text"), lit(phonePattern))
    graft.operators.Spread.byKey(docs(spark, dir), col("doc_id")).select(
      col("doc_id"),
      nEmails.as("n_emails"),
      nPhones.as("n_phones"),
      ((nEmails + nPhones) > 0).cast("int").as("has_pii"),
      md5(regexp_replace(
        regexp_replace(col("text"), emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>").cast("binary")).as("scrubbed_md5"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q47
  /** Cross-document boilerplate removal (the CCNet/RefinedWeb shape):
    * a line appearing in ≥ `minDf` DISTINCT documents is boilerplate
    * (headers, footers, cookie banners) and is dropped from every
    * document; surviving lines reassemble in original order. Two
    * shuffles by construction — the line-frequency aggregate and the
    * per-doc regroup — both on narrow rows; the line-frequency side
    * is a candidate for a broadcast when the boilerplate set is small
    * (here the frequent-line table stays a join because its size is
    * corpus-dependent). */
  def q47BoilerplateStrip(spark: SparkSession, dir: String,
      minDf: Int = 10): DataFrame = {
    val lines = docs(spark, dir).select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val freq = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("df"))
    // every line keeps flowing (inner join tags each with its df), so
    // ONE per-doc aggregate yields totals, kept counts, and the
    // order-preserving reassembly — no separate totals scan, no left
    // join. An all-boilerplate doc still has a group: kept = 0 and
    // concat_ws over the empty kept-list hashes the empty string.
    lines.join(freq, "line")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_lines"),
        count(when(col("df") < minDf, 1)).as("n_lines_kept"),
        md5(concat_ws("\n",
          expr(s"""transform(array_sort(collect_list(
                  |  CASE WHEN df < $minDf THEN struct(pos, line) END)),
                  |  s -> s.line)""".stripMargin))
          .cast("binary")).as("cleaned_md5"))
      .select("doc_id", "n_lines", "n_lines_kept", "cleaned_md5")
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q48
  /** Corpus vocabulary: top-K tokens by total occurrence — the
    * wordcount that seeds tokenizer training. Shape at scale: explode
    * → hash agg (map-side partial combine does the heavy lifting; the
    * shuffle carries one row per distinct token per partition) →
    * TakeOrdered top-K (no global sort). The rank window runs AFTER
    * the K-row cut, so its single-partition sort is bounded at K. Ties
    * break by token for a total order (cross-engine determinism). */
  def q48Vocab(spark: SparkSession, dir: String, topK: Int = 100): DataFrame =
    rankedVocab(withWords(docs(spark, dir))
      .select(explode(words).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n")), topK)

  /** Top-K rank shape shared by the from-scratch vocabulary (q48) and
    * the maintained-grain vocabulary (q123). */
  private def rankedVocab(counts: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // unpartitioned window, BOUNDED: its input is the `.limit(topK)`
    // above (≤ topK rows however large the corpus) — the WindowExec
    // single-partition warning here is adjudicated-benign (r19 #3)
    counts.orderBy(col("n").desc, col("token")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token"))))
      .select(col("rank"), col("token"), col("n"))
      .orderBy(col("rank"))
  }

  // --------------------------------------------------------------- q123
  /** The corpus vocabulary served from the MAINTAINED grain — the
    * consumer-side payoff of q122: the tokenizer-training wordcount
    * (q48) re-derived per corpus version as a re-aggregate of
    * [[tfGrainAt]], so a daily ingest keeps the vocabulary current
    * WITHOUT re-tokenizing the corpus (the delta was tokenized once,
    * at grain maintenance), and the term-bucketed layout makes the
    * re-aggregate exchange-free — sum(tf) partials are already
    * co-located. The oracle is q48's from-scratch definition over the
    * full corpus: vocabulary-from-grain must be indistinguishable
    * from vocabulary-from-corpus. */
  def q123IncrVocab(spark: SparkSession, dir: String, topK: Int = 100)
      : DataFrame = {
    val base = Dedup.versionedCorpus(spark, dir)
    tfGrainAt(spark, base, 1L) // v1 first — the chain origin
    rankedVocab(tfGrainAt(spark, base, 2L)
      .select(col("term").as("token"), col("tf"))
      .groupBy("token").agg(sum(col("tf")).as("n")), topK)
  }

  // --------------------------------------------------------------- q101
  /** Inverted index build — the retrieval/decontamination primitive:
    * per term, document frequency, total term frequency, and a capped
    * posting list (the 10 doc_ids with highest in-doc tf, ties to the
    * lower doc_id), serialized as a comma-joined string. Output bounded
    * to the 300 highest-df terms (df desc, then term) so the index head
    * — the part that matters for stopword discovery and posting-skew
    * sizing — is the deterministic observable.
    *
    * Scale shape: the token stream collapses to (term, doc_id, tf) in
    * ONE hash-agg shuffle (map-side partial combine absorbs in-doc
    * repeats before anything moves). That grain IS the index, and it
    * has two consumers — posting-list cap and per-term stats — so it is
    * localCheckpoint'd rather than re-exploding the corpus twice. The
    * posting cap is a rank window PARTITIONED BY term (bounded groups;
    * `WindowGroupLimit` prunes to ≤10 rows per term map-side before the
    * exchange), and the head cut is TakeOrderedAndProject — no global
    * sort anywhere. The `transform` lambda that renders postings runs
    * on ≤10-element arrays AFTER aggregation, off the per-token hot
    * path (the HOF-cost discipline in COVERAGE.md). */
  def q101InvertedIndex(spark: SparkSession, dir: String,
      postingCap: Int = 10, headTerms: Int = 300): DataFrame =
    invertedIndexFrom(
      tfGrainOf(docs(spark, dir)).localCheckpoint(), postingCap, headTerms)

  /** The (term, doc_id, tf) grain — the retrieval index's storage
    * row. One definition shared by the inline build (q101), the
    * ranked retrieval (q121), the version maintenance (q122), and the
    * streaming ledger (whose written file layout must not change —
    * callers that tokenize a whole under-parallel corpus spread
    * BEFORE calling, q101/q121). */
  private[graft] def tfGrainOf(docsDf: DataFrame): DataFrame =
    withWords(docsDf)
      .select(col("doc_id"), explode(words).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  /** Inverted-index head from a (term, doc_id, tf) grain — q101's
    * aggregation factored so the incrementally-maintained grain
    * artifact (q122) serves the identical index. */
  private[graft] def invertedIndexFrom(tf: DataFrame,
      postingCap: Int = 10, headTerms: Int = 300): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = tf.withColumn("_r", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("tf").desc, col("doc_id"))))
      .filter(col("_r") <= postingCap)
      .groupBy("term")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("_r"), col("doc_id")))),
        s => s.getField("doc_id").cast("string")), ",").as("postings"))
    val stats = tf.groupBy("term").agg(
      count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
    stats.join(postings, "term")
      .orderBy(col("df").desc, col("term")).limit(headTerms)
      .select(col("term"), col("df"), col("tf_total"), col("postings"))
      .orderBy(col("df").desc, col("term"))
  }

  // --------------------------------------------------------------- q122
  /** The retrieval index as a MAINTAINED artifact — this round's two
    * themes composed: the (term, doc_id, tf) grain rides the
    * versioned-lake chain (doc-keyed ⇒ pure APPEND of the delta's
    * grain, the q114 signature economics: map-only over delta tokens,
    * no distinct pass, never a corpus re-tokenization) AND each
    * version's artifact is BUCKETED on `term`, so every consumer that
    * aggregates or joins on term — the df/tf_total stats, q101's
    * posting window, q121's query-term probe — reads pre-partitioned
    * with no term exchange. Per-term stats (df) are recomputed by
    * re-aggregating the grain rather than maintained as running
    * counters: df changes for EVERY term touched by the delta, and
    * the re-agg over a bucketed grain is exchange-free — cheaper than
    * merging a counter table would be.
    *
    * Output: the q101 inverted-index head served FROM the maintained
    * grain at v2 — the oracle is q101's from-scratch definition over
    * the full corpus, so hash equality proves a reader cannot tell
    * the maintained index from a rebuilt one. */
  def q122IncrTfIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = Dedup.versionedCorpus(spark, dir)
    tfGrainAt(spark, base, 1L) // v1 first — the chain origin
    invertedIndexFrom(tfGrainAt(spark, base, 2L))
  }

  private[graft] def tfGrainArtifact(lakeBase: String, v: Long): String =
    s"$lakeBase-tfg-b${Dedup.IndexBuckets}-v$v"

  /** The grain AT lake version `v`, incrementally maintained and
    * term-bucketed ([[q122IncrTfIndex]]'s engine). */
  private[graft] def tfGrainAt(spark: SparkSession, lakeBase: String,
      v: Long): DataFrame =
    graft.sources.ArtifactStore.readOrPublishBucketed(
      spark, tfGrainArtifact(lakeBase, v), "term", Dedup.IndexBuckets)(
      incrementalTfGrainFrame(spark, lakeBase, v))

  /** Maintenance frame behind [[tfGrainAt]]. The grain is doc-keyed,
    * so BOTH change directions are cheap and exact — additions are a
    * union of the delta's grain (new docs bring new (term, doc) rows;
    * existing rows never change), and removals are an anti-join
    * against the version's `documents_removed` tombstone table
    * (q126): every (term, doc) row of a removed doc vanishes, which
    * is precisely the removed doc's whole contribution. This is the
    * capability the SET-keyed chains (distinct windows) structurally
    * lack — a shared window's refcount is not recoverable from the
    * distinct set — and why their scaladocs scope removals out while
    * this one implements them. Fallback discipline as the rest of the
    * family: a version with neither change table, or no previous
    * artifact, rebuilds from the version's corpus. */
  private[graft] def incrementalTfGrainFrame(spark: SparkSession,
      lakeBase: String, v: Long): DataFrame = {
    import graft.sources.{ArtifactStore, Versioned}
    val hasDelta = Versioned.tableExists(spark, lakeBase, "documents_delta", v)
    val hasRemoved =
      Versioned.tableExists(spark, lakeBase, "documents_removed", v)
    ArtifactStore.readIfPresent(spark, tfGrainArtifact(lakeBase, v - 1))
      match {
        case Some(prev) if hasDelta || hasRemoved =>
          val kept = if (hasRemoved)
            prev.join(
              Versioned.readAt(spark, lakeBase, "documents_removed", v)
                .select(col("doc_id")), Seq("doc_id"), "left_anti")
              // a USING-column join fronts doc_id — restore the
              // grain's canonical column order so every version's
              // artifact carries the same schema
              .select(col("term"), col("doc_id"), col("tf"))
          else prev
          if (hasDelta)
            kept.unionByName(tfGrainOf(
              Versioned.readAt(spark, lakeBase, "documents_delta", v)))
          else kept
        case _ =>
          tfGrainOf(Versioned.readAt(spark, lakeBase, "documents", v))
      }
  }

  // --------------------------------------------------------------- q126
  /** Tombstoned REMOVAL through the maintained index — the change
    * direction every set-union chain's scaladoc scopes out, exercised
    * where it is actually exact: a third lake version publishes a
    * `documents_removed` tombstone table (a takedown/opt-out batch —
    * the md5-uniform [0.1, 0.15) slice), the grain chain anti-joins
    * the tombstones and the index head is served from the result. The
    * oracle rebuilds the index from scratch over the SURVIVING
    * documents only, so hash equality proves removal through the
    * chain is indistinguishable from never having ingested the
    * removed docs — the GDPR-shaped guarantee a 100 TB corpus cannot
    * afford to demonstrate by re-tokenizing itself. */
  def q126TombstoneIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = versionedCorpusWithRemoval(spark, dir)
    invertedIndexFrom(tfGrainAt(spark, base, 3L))
  }

  /** The removal slice shared by [[q126TombstoneIndex]]'s lake builder
    * and spec: md5-uniform keys in [0.1, 0.15) — disjoint from the
    * fresh-delta slice (< 0.1), so v3 removes STANDING docs. */
  private[graft] def removalSlice(d: DataFrame): DataFrame =
    d.filter(uniformKeyOf(col("doc_id")) >= lit(0.1) &&
      uniformKeyOf(col("doc_id")) < lit(0.15))

  /** Three-version scratch lake: v1 = standing split, v2 = full corpus
    * (delta ingest), v3 = full minus the removal slice, published with
    * a `documents_removed` tombstone table. The tombstones carry
    * (doc_id, TEXT, LANG) — the removal CONTRACT: a takedown/opt-out batch
    * has the content it removes by definition, and shipping it in the
    * change table is what lets the linear-sketch chains subtract
    * exactly (q127) instead of full-rebuilding; id-keyed consumers
    * (the tf-grain anti-join, q126) simply ignore the extra column,
    * and chains that cannot use text still force their loud fallback.
    * The grain chain is maintained AFTER EACH publish — the posture a
    * real ingest is forced into anyway, because the lake GC keeps only
    * current+previous versions: indexing must keep pace, and the
    * ARTIFACTS (content-addressed, never collected) are what carry
    * the chain's history past GC. Idempotent like
    * [[graft.queries.Dedup.versionedCorpus]]. */
  private[graft] def versionedCorpusWithRemoval(spark: SparkSession,
      dir: String): String = {
    import graft.sources.Versioned
    val key = graft.Tables.fileFingerprint(spark, s"$dir/documents.parquet")
    // rm2 grew text, rm3 grew lang (the class-conditional DSIR chain
    // subtracts per-class — q141), rm4 added the frozen-LM chain's
    // v1/v2 artifacts (q143 — the LM must train BEFORE GC collects
    // version 1): each contract change is a new content address, so a
    // lake built under an older contract can never be half-reused
    val base = s"${Dedup.indexBase}/lake-rm4-$key"
    val all = docs(spark, dir)
    val fresh = uniformKeyOf(col("doc_id")) < lit(0.1)
    if (Versioned.currentVersion(spark, base).isEmpty) {
      Versioned.publish(spark, base, Seq(
        Versioned.TableSpec("documents", all.filter(!fresh)),
        Versioned.TableSpec("documents_delta", all.filter(!fresh))))
      tfGrainAt(spark, base, 1L)
      Analytics.cmsAt(spark, base, 1L)
      dsirCountsAt(spark, base, 1L)
      lmScoresAt(spark, base, 1L) // trains + freezes the LM pre-GC
    }
    if (Versioned.currentVersion(spark, base).contains(1L)) {
      // heal a crash that landed between v1's publish and its artifact
      // builds BEFORE v2 advances the GC horizon: every At() is a
      // readOrPublish no-op when the prior run completed, and the LM
      // must freeze on v1 while v1 is still readable — advancing
      // first would let a doubly-crashed lake train the "frozen"
      // model on the wrong version (review finding, r15)
      tfGrainAt(spark, base, 1L)
      Analytics.cmsAt(spark, base, 1L)
      dsirCountsAt(spark, base, 1L)
      lmScoresAt(spark, base, 1L)
      Versioned.publish(spark, base, Seq(
        Versioned.TableSpec("documents", all),
        Versioned.TableSpec("documents_delta", all.filter(fresh))))
      tfGrainAt(spark, base, 2L)
      Analytics.cmsAt(spark, base, 2L)
      dsirCountsAt(spark, base, 2L)
      lmScoresAt(spark, base, 2L)
    }
    if (Versioned.currentVersion(spark, base).contains(2L)) {
      // same healing discipline before v3 collects v1
      tfGrainAt(spark, base, 2L)
      Analytics.cmsAt(spark, base, 2L)
      dsirCountsAt(spark, base, 2L)
      lmScoresAt(spark, base, 2L)
      val removed = removalSlice(all)
      Versioned.publish(spark, base, Seq(
        Versioned.TableSpec("documents",
          all.join(removed.select(col("doc_id")), Seq("doc_id"),
            "left_anti")),
        Versioned.TableSpec("documents_removed",
          removed.select(col("doc_id"), col("text"), col("lang")))))
    }
    base
  }

  // --------------------------------------------------------------- q121
  /** Ranked retrieval over the inverted-index grain — BM25 with
    * integer-exact arithmetic (Robertson et al.'s saturation shape;
    * k1 = 6/5, b = 3/4, and a RATIONAL idf surrogate
    * (N − df + 1)/(df + 1) in place of the logarithm). Clearing the
    * fractions — multiply the tf-saturation term through by
    * 10·totlen·N and fold in idf and a 10⁶ fixed-point scale — makes
    * every per-term score ONE floor division of two positive BIGINTs:
    *
    *   idf_s = (10³·(N−df+1)) DIV (df+1)                — corpus-scale
    *   sat_s = (10³·22·avgl·tf)
    *           DIV (10·avgl·tf + 3·avgl + 9·len)         — doc-scale
    *   score_t = idf_s · sat_s,  avgl = totlen DIV N
    *
    * so ranking replays bit-exactly cross-engine — no ln(), no float
    * accumulation order, no last-ulp hash drift. The two-factor split
    * is the overflow discipline: the ORIGINAL cleared form multiplied
    * corpus-scale (totlen·N) into doc-scale (tf·len) products and
    * left BIGINT around totlen·tf·N ≈ 4·10¹¹ — reachable by the 10×
    * synth harness, where Spark would wrap silently while DuckDB
    * raises. Here no factor mixes scales: idf_s < 10³·N (safe to
    * N ≈ 9·10¹⁵ docs) and sat_s's operands stay ≤ 2.2·10⁴·avgl·tf
    * (safe to avgl·tf ≈ 4·10¹⁴ — beyond any real document), with
    * sat_s itself < 2.2·10³, so the product is ≤ ~10¹⁵. The query set is corpus-derived and
    * deterministic: vocabulary ranks 11–20 (count desc, token) paired
    * into five 2-term queries — no fixture to ship, and the oracle
    * re-derives the same queries.
    *
    * Scale shape: the corpus collapses ONCE to the (term, doc, tf)
    * grain (map-side combine); the query-term semi-join cuts it to
    * candidate postings BEFORE any scoring work (|postings of query
    * terms|, not |corpus|); df and doc-length ride as narrow joins;
    * the 1-row corpus stats broadcast; top-k per query is a rank
    * window over bounded candidate groups. An exact top-k over 5
    * queries never touches documents containing no query term. */
  /** q121's corpus-derived query set: vocabulary ranks 11–20 paired
    * into five 2-term queries. Top-20 cut FIRST (TakeOrderedAndProject
    * — partial top-K per map task, no global sort), THEN the rank
    * window over the 20-row result. The window is still
    * ordered-unpartitioned, but its input is bounded at 20 rows by
    * construction — the q48/[[rankedVocab]] discipline. Ranking the
    * full vocabulary through one task instead would single-thread
    * 10⁸–10⁹ distinct terms at corpus scale. Split out (pre-
    * localCheckpoint) so PlanSpec can pin exactly that shape. */
  private[graft] def bm25QueryTerms(tf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // unpartitioned window, BOUNDED: input is the 20-row `.limit`
    // above — adjudicated-benign single-partition warning (r19 #3)
    tf.groupBy("term").agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("term")).limit(20)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("term"))))
      .filter(col("rk").between(11, 20))
      .select(expr("CAST((rk - 11) DIV 2 AS BIGINT)").as("query_id"),
        col("term"))
  }

  def q121Bm25Topk(spark: SparkSession, dir: String, topK: Int = 10)
      : DataFrame =
    // ONE materialization, the (term, doc, tf) grain — vocabulary
    // counts, df, AND per-doc lengths are all re-aggregates of it
    // (sum(tf) per doc ≡ len(split(text)), since \s+ splitting yields
    // ≥1 token for every doc), so the corpus is tokenized exactly once
    bm25Rank(tfGrainOf(docs(spark, dir))
      .localCheckpoint(), // feeds candidates, df, vocabulary, lengths
      topK)

  /** BM25 ranking from a PREPARED (term, doc_id, tf) grain — q121's
    * scoring factored (the [[invertedIndexFrom]] convention) so the
    * maintained, term-bucketed grain artifact serves the identical
    * ranking (q128). The caller owns the grain's materialization
    * posture: q121 localCheckpoints its inline multi-consumer grain;
    * q128 passes the bucketed artifact read UNcheckpointed so the
    * term-hash layout stays advertised and the vocabulary/df
    * aggregations ride it exchange-free. */
  private[graft] def bm25Rank(tf: DataFrame, topK: Int): DataFrame =
    bm25RankQueries(tf, None, topK)

  /** [[bm25Rank]] with an optionally caller-supplied (query_id, term)
    * set — `None` derives the corpus-ranked default
    * ([[bm25QueryTerms]]). The seam behind q130's ad-hoc string and
    * the reference [[searchBm25]]'s single-query plan is checked
    * against: scoring, statistics, and rendering are IDENTICAL
    * whichever way the query set arrives. */
  private[graft] def bm25RankQueries(tf: DataFrame,
      qtermsIn: Option[DataFrame], topK: Int): DataFrame = {
    val lens = tf.groupBy("doc_id").agg(sum(col("tf")).as("len"))
    val stats = lens.agg(sum(col("len")).as("totlen"),
      count(lit(1)).as("nd"))
    val qterms = qtermsIn.getOrElse(bm25QueryTerms(tf))
      .localCheckpoint() // few rows; feeds scoring AND query rendering
    // the few-row query set broadcasts unconditionally: the grain side
    // streams through the probe keeping its (possibly bucketed) term
    // layout — a sort-merge plan here would exchange the query side
    // on term and re-sort the candidates for nothing
    bm25Assemble(qterms, broadcast(qterms).join(tf, "term"),
      lens, stats, topK)
  }

  /** One (term, doc) score `idf_s · sat_s` ([[q121Bm25Topk]]'s
    * integer-exact form) over the columns `df`, `tf` and `len`;
    * `totlen` and `nd` are SQL operands — column names on the
    * multi-query path, bigint literals on the single-query one. */
  private def bm25TermScore(totlen: String, nd: String): Column = expr(
    s"""((1000L * ($nd - df + 1)) DIV (df + 1)) *
       |((1000L * 22 * ($totlen DIV $nd) * tf)
       | DIV (10 * ($totlen DIV $nd) * tf
       |      + 3 * ($totlen DIV $nd) + 9 * len))
       |""".stripMargin)

  /** Candidates → ranked results: the shared back half of the
    * multi-query BM25 paths (derived query sets, q130's ad-hoc
    * string; the single-query serving plan is [[bm25Serve]]). `cand`
    * is the query-term probe of a (term, doc_id, tf) grain; `lens` a
    * (doc_id, len) frame; `stats` a 1-row (totlen, nd) frame. df is
    * derived from the CANDIDATES themselves — a query term's posting
    * rows ARE its df rows, and since every query-set producer emits
    * globally-UNIQUE terms ([[bm25QueryTerms]] by the rank partition,
    * [[userQueryTerms]] by its driver-side distinct), a plain count
    * per term is exact with no distinct pass and no exchange beyond
    * the grain's own term layout. No full-vocabulary aggregation
    * exists on any path through here. */
  private def bm25Assemble(qterms: DataFrame, cand: DataFrame,
      lens: DataFrame, stats: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries_ = qterms.groupBy("query_id")
      .agg(array_join(sort_array(collect_list(col("term"))), " ")
        .as("query"))
    val dfT = cand.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = cand.join(dfT, "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("tscore", bm25TermScore("totlen", "nd"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tscore")).as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .join(queries_, "query_id")
      .select(col("query_id"), col("query"),
        col("rank").cast("long").as("rank"), col("doc_id"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  // --------------------------------------------------------------- q128
  /** BM25 served FROM THE MAINTAINED GRAIN — the retrieval chain
    * closed end-to-end: q122 maintains the (term, doc, tf) grain as a
    * term-bucketed versioned artifact (delta-append ingest, tombstone
    * anti-join removal), and ranked retrieval now SCORES from that
    * artifact instead of re-tokenizing the corpus at query time —
    * [[q121Bm25Topk]]'s one inline tokenize pass (55 → 563 MB of
    * corpus scan at 1× → 10×, SCALE.md) replaced by a read of the
    * standing index. The grain arrives with its term-hash layout
    * advertised (bucketed registration), so the vocabulary ranking
    * and df aggregations — the two term-keyed re-aggregates in
    * [[bm25Rank]] — run exchange-free; the scoring itself is
    * unchanged, shared through the [[bm25Rank]] seam.
    *
    * The oracle is q121's from-scratch SQL VERBATIM: hash equality
    * proves a query cannot tell grain-served ranking from
    * tokenize-at-query-time ranking, which is exactly the guarantee
    * that lets a deployment stop shipping raw text to the scorer.
    * The spec additionally pins file-exactness — the plan reads the
    * grain artifact only, never `documents` — so "the corpus is not
    * re-tokenized" is an input-set fact, not a plan-reading claim. */
  def q128Bm25FromGrain(spark: SparkSession, dir: String,
      topK: Int = 10): DataFrame = {
    val base = Dedup.versionedCorpus(spark, dir)
    tfGrainAt(spark, base, 1L) // v1 first — the chain origin
    bm25Rank(tfGrainAt(spark, base, 2L), topK)
  }

  // --------------------------------------------------------------- q129
  /** Ranked retrieval AFTER TOMBSTONED REMOVAL — q126's GDPR-shaped
    * guarantee carried all the way to the user-facing surface: the
    * takedown version's grain (maintained by anti-join, never a
    * corpus re-tokenization) serves [[bm25Rank]], and the oracle
    * replays BM25 from scratch over the SURVIVING documents only —
    * hash equality proves a removed document cannot influence ranking
    * AT ALL, not merely "no longer appears": its postings are gone
    * from candidate scoring, its tokens are gone from the
    * corpus-derived query set and df statistics, and its length is
    * gone from the normalization stats. Removal through the chain is
    * indistinguishable from never having ingested the doc, observed
    * from the retrieval endpoint itself. */
  def q129Bm25Removal(spark: SparkSession, dir: String,
      topK: Int = 10): DataFrame = {
    val base = versionedCorpusWithRemoval(spark, dir)
    bm25Rank(tfGrainAt(spark, base, 3L), topK)
  }

  // --------------------------------------------------------------- q130
  /** The distinct terms of a USER-SUPPLIED query string: driver-side
    * `\s+` split of one bounded string (a search query, not data).
    * Terms absent from the corpus drop in the candidate probe,
    * matching the oracle's behavior exactly. */
  private[graft] def queryTermsOf(query: String): Seq[String] =
    query.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq

  /** [[queryTermsOf]] as a (query_id, term) frame, all under
    * `query_id` 0 — the multi-query path's input shape. */
  private[graft] def userQueryTerms(spark: SparkSession, query: String)
      : DataFrame = {
    import spark.implicits._
    queryTermsOf(query).toDF("term")
      .select(lit(0L).as("query_id"), col("term"))
  }

  /** Ad-hoc ranked SEARCH over the maintained grain — the interactive
    * face of the retrieval chain (and of `GET /search` in the REST
    * layer): any query string, scored by [[bm25Serve]]'s single-query
    * plan against the serving artifacts at the corpus lake's CURRENT
    * version — the document set a concurrent ingest most recently
    * published, with no corpus tokenization on the query path (q128's
    * file-exact property). Rows equal [[bm25RankQueries]] over the
    * same grain with [[userQueryTerms]] (TextOpsSpec). */
  def searchBm25(spark: SparkSession, dir: String, query: String,
      topK: Int = 10): DataFrame = {
    import graft.sources.Versioned
    val base = Dedup.versionedCorpus(spark, dir)
    val v = Versioned.currentVersion(spark, base)
      .getOrElse(sys.error(s"no published corpus version under $base"))
    bm25Serve(spark, base, v, queryTermsOf(query), topK)
  }

  /** [[searchBm25]] pinned to the correctness gate with a
    * DETERMINISTIC query — the corpus's two heaviest terms (count
    * desc, term; a 2-row bounded collect), so the oracle re-derives
    * the same string and replays the identical scoring with the qt
    * CTE bounded to ranks 1–2. Proves the ad-hoc seam end-to-end:
    * user-string tokenization, the query_id-0 frame, candidate
    * semi-join, and rendering all hash-check against DuckDB. */
  def q130SearchBm25(spark: SparkSession, dir: String,
      topK: Int = 10): DataFrame = {
    val base = Dedup.versionedCorpus(spark, dir)
    tfGrainAt(spark, base, 1L) // v1 first — the chain origin
    val tf = tfGrainAt(spark, base, 2L)
    val top2 = tf.groupBy("term").agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("term")).limit(2)
      .select(col("term")).collect().map(_.getString(0))
    bm25RankQueries(tf, Some(userQueryTerms(spark, top2.mkString(" "))),
      topK)
  }

  // --------------------------------------------------------------- q131
  /** Per-document token length as a MAINTAINED artifact — the serving
    * side's missing statistic: [[bm25RankQueries]] re-aggregates doc
    * lengths from the whole grain on every call, which is a full
    * index pass per query at corpus scale. Doc-keyed like the grain
    * ⇒ both change directions are map-only and exact: additions are
    * `size(split(text))` over delta docs (no aggregation at all —
    * cheaper than the grain's own maintenance), removals an anti-join
    * on the tombstone ids. Bucketed on `doc_id` so the serving path's
    * candidate⋈length join hashes only the candidate side. */
  private[graft] def docLenArtifact(lakeBase: String, v: Long): String =
    s"$lakeBase-dlen-b${Dedup.IndexBuckets}-v$v"

  private[graft] def docLenOf(docsDf: DataFrame): DataFrame =
    withWords(docsDf)
      .select(col("doc_id"), size(words).cast("long").as("len"))

  private[graft] def docLenAt(spark: SparkSession, lakeBase: String,
      v: Long): DataFrame =
    graft.sources.ArtifactStore.readOrPublishBucketed(
      spark, docLenArtifact(lakeBase, v), "doc_id", Dedup.IndexBuckets)(
      incrementalDocLenFrame(spark, lakeBase, v))

  private[graft] def incrementalDocLenFrame(spark: SparkSession,
      lakeBase: String, v: Long): DataFrame = {
    import graft.sources.{ArtifactStore, Versioned}
    val hasDelta = Versioned.tableExists(spark, lakeBase, "documents_delta", v)
    val hasRemoved =
      Versioned.tableExists(spark, lakeBase, "documents_removed", v)
    ArtifactStore.readIfPresent(spark, docLenArtifact(lakeBase, v - 1))
      match {
        case Some(prev) if hasDelta || hasRemoved =>
          val kept = if (hasRemoved)
            prev.join(
              Versioned.readAt(spark, lakeBase, "documents_removed", v)
                .select(col("doc_id")), Seq("doc_id"), "left_anti")
              .select(col("doc_id"), col("len"))
          else prev
          if (hasDelta)
            kept.unionByName(docLenOf(
              Versioned.readAt(spark, lakeBase, "documents_delta", v)))
          else kept
        case _ =>
          docLenOf(Versioned.readAt(spark, lakeBase, "documents", v))
      }
  }

  /** 1-row corpus statistics (totlen, nd) as a maintained artifact —
    * the CMS economics applied to two scalars: sums are LINEAR, so
    * maintenance is `prev + delta − removed`, with the removed docs'
    * lengths recovered EXACTLY from the previous version's doc-length
    * artifact (doc-keyed semi-join — no text needed, unlike the CMS
    * subtraction whose subtrahend is a token stream). Fallback: a
    * one-pass aggregate of the version's doc-length artifact. */
  private[graft] def corpusStatsArtifact(lakeBase: String, v: Long)
      : String = s"$lakeBase-cstats-v$v"

  private def statsOfLens(lens: DataFrame): DataFrame =
    lens.agg(coalesce(sum(col("len")), lit(0L)).as("totlen"),
      count(lit(1)).as("nd"))

  private[graft] def corpusStatsAt(spark: SparkSession, lakeBase: String,
      v: Long): DataFrame =
    graft.sources.ArtifactStore.readOrPublish(
      spark, corpusStatsArtifact(lakeBase, v))(
      incrementalCorpusStatsFrame(spark, lakeBase, v))

  private[graft] def incrementalCorpusStatsFrame(spark: SparkSession,
      lakeBase: String, v: Long): DataFrame = {
    import graft.sources.{ArtifactStore, Versioned}
    val hasDelta = Versioned.tableExists(spark, lakeBase, "documents_delta", v)
    val hasRemoved =
      Versioned.tableExists(spark, lakeBase, "documents_removed", v)
    (ArtifactStore.readIfPresent(spark, corpusStatsArtifact(lakeBase, v - 1)),
      ArtifactStore.readIfPresent(spark, docLenArtifact(lakeBase, v - 1)))
      match {
        case (Some(prev), Some(prevLens)) if hasDelta || hasRemoved =>
          val d = if (hasDelta)
            statsOfLens(docLenOf(
              Versioned.readAt(spark, lakeBase, "documents_delta", v)))
              .select(col("totlen").as("dt"), col("nd").as("dn"))
          else spark.sql("SELECT CAST(0 AS BIGINT) dt, CAST(0 AS BIGINT) dn")
          val r = if (hasRemoved)
            statsOfLens(prevLens.join(
              Versioned.readAt(spark, lakeBase, "documents_removed", v)
                .select(col("doc_id")), Seq("doc_id"), "left_semi"))
              .select(col("totlen").as("rt"), col("nd").as("rn"))
          else spark.sql("SELECT CAST(0 AS BIGINT) rt, CAST(0 AS BIGINT) rn")
          prev.crossJoin(broadcast(d)).crossJoin(broadcast(r))
            .select((col("totlen") + col("dt") - col("rt")).as("totlen"),
              (col("nd") + col("dn") - col("rn")).as("nd"))
        case _ => statsOfLens(docLenAt(spark, lakeBase, v))
      }
  }

  /** (totlen, nd) per corpus-stats artifact path. Artifacts are
    * content-addressed, so a hit can never be stale. */
  private val corpusStatsMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long)]()

  /** BM25 for ONE query over the maintained SERVING artifacts at lake
    * version `v` — the query path a 100 TB deployment actually runs,
    * planned for exactly one query (no query set to checkpoint, join
    * or window over):
    *  - candidates: the term-bucketed grain filtered by `term IN
    *    (terms)`, which Spark prunes to the query terms' buckets;
    *  - df: `count(1)` over a `term` window, exchange-free on the
    *    bucketed layout;
    *  - doc lengths: a join against the doc-keyed length artifact,
    *    which still reads every bucket of it;
    *  - corpus stats: the 1-row stats artifact, read once per
    *    artifact through [[graft.sources.ArtifactStore.memo]] and
    *    inlined as literals;
    *  - top-K: `orderBy(score desc, doc_id).limit`, planned as
    *    TakeOrderedAndProject, ranked by `row_number` over its one
    *    partition;
    *  - the rendered query: built on the driver, terms in UTF8String
    *    order (`sort_array`'s).
    * NOTHING on this path aggregates the full grain or the full
    * document set — per query, work is O(|postings of the query
    * terms|), the property q131's scale row measures. Rows equal
    * [[bm25RankQueries]]' `query_id` 0 (TextOpsSpec); q131's oracle
    * checks them against DuckDB. */
  private[graft] def bm25Serve(spark: SparkSession, lakeBase: String,
      v: Long, terms: Seq[String], topK: Int): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    val tf = tfGrainAt(spark, lakeBase, v)
    val lens = docLenAt(spark, lakeBase, v)
    val (totlen, nd) = memo(corpusStatsMemo,
        corpusStatsArtifact(lakeBase, v)) {
      val r = corpusStatsAt(spark, lakeBase, v).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val query = terms.map(UTF8String.fromString).sorted.mkString(" ")
    val byScore = Seq(col("score").desc, col("doc_id"))
    tf.filter(col("term").isin(terms: _*))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .join(lens, "doc_id")
      // nd = 0 means an empty length artifact, so the join above has
      // no rows; the floor of 1 only keeps ANSI constant folding from
      // failing on a literal DIV 0 that no row would reach
      .withColumn("tscore", bm25TermScore(s"${totlen}L",
        s"${math.max(nd, 1L)}L"))
      .groupBy(col("doc_id")).agg(sum(col("tscore")).as("score"))
      .orderBy(byScore: _*).limit(math.max(topK, 0))
      // unpartitioned window, BOUNDED: its input is the top-K above —
      // the adjudicated-benign single-partition warning
      .withColumn("rank", row_number().over(Window.orderBy(byScore: _*)))
      .select(lit(0L).as("query_id"), lit(query).as("query"),
        col("rank").cast("long").as("rank"), col("doc_id"), col("score"))
  }

  /** [[searchBm25]]'s serving path pinned to the correctness gate
    * under q130's deterministic two-heaviest-terms query: same
    * oracle, run through the same single-query [[bm25Serve]] plan
    * `GET /search` runs — doc lengths and corpus stats arrive from
    * their maintained artifacts instead of full-grain re-aggregation,
    * so hash equality proves both the chains (they maintain EXACTLY
    * the statistics the from-scratch replay derives) and the serving
    * plan. */
  def q131Bm25Serve(spark: SparkSession, dir: String,
      topK: Int = 10): DataFrame = {
    val base = Dedup.versionedCorpus(spark, dir)
    tfGrainAt(spark, base, 1L) // chain origins
    docLenAt(spark, base, 1L)
    corpusStatsAt(spark, base, 1L)
    val tf = tfGrainAt(spark, base, 2L)
    val top2 = tf.groupBy("term").agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("term")).limit(2)
      .select(col("term")).collect().map(_.getString(0))
    bm25Serve(spark, base, 2L, queryTermsOf(top2.mkString(" ")), topK)
  }

  // --------------------------------------------------------------- q53
  /** Eval-set decontamination: flag corpus documents sharing any word
    * 3-gram with a benchmark ("eval") set — the overlap-removal step a
    * training pipeline runs so benchmark data never leaks into the
    * training corpus (the n-gram-overlap practice published with
    * GPT-3/Gopher/Llama). Here the eval set is the deterministic
    * `doc_id % 50 == 0` slice standing in for an external benchmark
    * table; [[decontaminate]] takes any (corpus, evalSet) pair.
    *
    * Scale shape: benchmark n-grams are tiny next to the corpus →
    * distinct once and BROADCAST; corpus n-grams stream through the
    * broadcast hash join (no corpus-side shuffle for the probe), and
    * the per-doc hit count is a partial-agg groupBy on doc_id. The
    * quadratic-looking "every corpus gram × every eval gram" never
    * materializes — it's a hash probe. */
  def q53Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // corpus side spread only: the eval side feeds driver actions
    // (gram count / bloom build / broadcast) that re-execute per
    // action and stay tiny by definition
    decontaminate(graft.operators.Spread.byKey(d.filter(col("doc_id") % 50 =!= 0), col("doc_id")),
      d.filter(col("doc_id") % 50 === 0))
  }

  // --------------------------------------------------------------- q110
  /** VERBATIM-window decontamination — the ExactSubstr twist on q53's
    * n-gram overlap: a train doc is contaminated by how many of its
    * sliding 40-char window POSITIONS occur verbatim in any eval doc.
    * Word 3-grams (q53/q60) catch paraphrase-level leakage but miss a
    * verbatim answer string embedded in otherwise-novel text once
    * tokenization differs; raw character windows catch exactly that
    * (the benchmark-contamination mode Lee et al. 2022 §5 measure).
    * Same eval split as the rest of the decontam family; machinery is
    * [[Dedup.massAgainstWindowIndex]] — at scale the eval window set
    * is the persisted `win-` artifact of the eval corpus. */
  def q110WindowDecontam(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.operators.Spread.byKey(docs(spark, dir), col("doc_id"))
    Dedup.massAgainstWindowIndex(
      d.filter(col("doc_id") % 50 =!= 0),
      Dedup.distinctWindowsOf(d.filter(col("doc_id") % 50 === 0)))
      .withColumnRenamed("dup_windows", "contam_windows")
      .withColumn("is_contaminated",
        (col("contam_windows") > 0).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Corpus rows flagged with their distinct-3-gram overlap against
    * `evalSet`. Both frames need (doc_id, text). */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame): DataFrame =
    decontaminateAgainstGrams(corpus, evalGrams(evalSet)).orderBy("doc_id")

  private def gramsOf(df: DataFrame): DataFrame = df
    .withColumn("_ws", wordsCol)
    .select(col("doc_id"),
      explode(array_distinct(expr(Dedup.shinglesExpr))).as("g"))

  /** The eval set's distinct word-3-grams — the probe table. Split out
    * so a repeated caller ([[graft.streaming.StreamingDecontam]], one
    * probe per micro-batch) can compute it ONCE and cache it instead
    * of re-deriving it per probe. */
  def evalGrams(evalSet: DataFrame): DataFrame =
    gramsOf(evalSet).select("g").distinct()

  /** Flag `corpus` rows against an already-derived eval-gram table
    * (see [[evalGrams]]). Unordered — [[decontaminate]] adds the
    * presentation sort; per-micro-batch callers skip it. */
  def decontaminateAgainstGrams(corpus: DataFrame,
      evalGrams: DataFrame): DataFrame = {
    val hits = gramsOf(corpus)
      .join(broadcast(evalGrams), "g")
      // per-doc grams are already distinct (array_distinct above), so
      // a plain count IS the distinct overlap size — no countDistinct
      // shuffle needed
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_ngrams"))
    flagOverlap(corpus, hits)
  }

  /** Shared tail of the decontamination variants: left-join the
    * per-doc hit counts back onto the corpus ids and derive the flag. */
  private def flagOverlap(corpus: DataFrame, hits: DataFrame): DataFrame =
    corpus.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_ngrams"), lit(0L)).as("n_shared_ngrams"),
        (coalesce(col("n_shared_ngrams"), lit(0L)) > 0).as("contaminated"))

  // --------------------------------------------------------------- q60
  /** [[q53Decontaminate]]'s exact flag set reproduced through the Bloom
    * prefilter path — same semantics (and the same oracle SQL), a scale
    * shape that survives the regime where q53's breaks. q53 broadcasts
    * the eval grams as a full string hash table: at benchmark-suite
    * scale (~10⁸ distinct grams) that table is GBs — past any broadcast
    * budget. Here the corpus grams are first probed map-side, inside
    * whole-stage codegen, against a broadcast [[BloomFilter]] (~120 MB
    * at 10⁸ entries / 1% fpp); only the survivors — true hits plus
    * ~fpp false positives — reach the exact verify join, which at that
    * scale can drop the broadcast hint and shuffle-join the (now tiny)
    * candidate set instead. Blooms have no false negatives, so the
    * composition is bit-identical to q53. */
  def q60BloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // corpus side spread only (q53's note)
    decontaminateBloom(graft.operators.Spread.byKey(d.filter(col("doc_id") % 50 =!= 0), col("doc_id")),
      d.filter(col("doc_id") % 50 === 0)).orderBy("doc_id")
  }

  /** Exact decontamination via Bloom prefilter + verify join (see
    * [[q60BloomDecontam]] for the scale rationale). The eval side is
    * tiny by definition (a benchmark suite vs a training corpus), so
    * its three passes — count, filter build, verify join — cost less
    * than the corpus-side probe volume they shrink. */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val grams = evalGrams(evalSet)
    val n = math.max(grams.count(), 1L)
    // df.stat.bloomFilter inserts UTF-8 bytes for string columns —
    // BloomMightContain probes the same representation
    val bc = spark.sparkContext.broadcast(grams.stat.bloomFilter("g", n, fpp))
    val hits = gramsOf(corpus)
      .filter(graft.functions.BloomProbe.mightContain(col("g"), bc))
      .join(broadcast(grams), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_ngrams"))
    flagOverlap(corpus, hits)
  }

  // --------------------------------------------------------------- q64
  /** Contamination ATTRIBUTION — the investigation step after q53's
    * flagging: for every contaminated corpus document, WHICH eval
    * document leaked into it (the eval doc sharing the most distinct
    * 3-grams; ties break to the lowest eval id). A decontamination
    * run that deletes training docs wants this evidence trail — both
    * to audit the filter and to find eval items that over-trigger.
    *
    * Scale shape: per-(corpus, eval) overlap counts come off the same
    * broadcast gram probe as q53 (one corpus-side shuffle, on the
    * (doc_id, eval_id) pair); the argmax is a rank window partitioned
    * by doc_id — a HIGH-cardinality key, so groups are tiny (≤ |eval
    * docs| rows) and the sort is per-group noise, unlike the
    * low-cardinality windows this repo rewrites into histogram form.
    * The window is chosen over the alternatives deliberately: a
    * max-then-tie-break self-join RECOMPUTES the whole probe subtree
    * on both join sides (4 exchanges + SortMergeJoin — measured in
    * the plan); `max_by` has an unspecified tie-break; `max(struct)`
    * plans as SortAggregate; and the (n, eval_id) pair can't pack
    * into one long because eval ids are unbounded. */
  def q64ContamAttribution(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // corpus side spread only (q53's note)
    contamAttribution(graft.operators.Spread.byKey(d.filter(col("doc_id") % 50 =!= 0), col("doc_id")),
      d.filter(col("doc_id") % 50 === 0))
  }

  /** Attribution over any (corpus, evalSet) pair — both need
    * (doc_id, text); see [[q64ContamAttribution]]. */
  def contamAttribution(corpus: DataFrame, evalSet: DataFrame): DataFrame = {
    val evGrams = gramsOf(evalSet)
      .select(col("doc_id").as("eval_id"), col("g")).distinct()
    val hits = gramsOf(corpus)
      .join(broadcast(evGrams), "g")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n"))
    hits
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("n").desc, col("eval_id").asc)))
      .filter(col("_r") === 1)
      .select(col("doc_id"), col("eval_id").as("top_eval_id"),
        col("n").as("n_shared"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- q54
  /** Deterministic weighted sampling — the domain/language mixing
    * primitive: each doc gets a uniform key in [0,1) from md5 of its
    * id (reproducible across engines, runs, and cluster layouts — no
    * RNG state, no partition dependence) and survives iff
    * key < rate(lang). Downsampling the dominant language while
    * keeping the tail is exactly how corpus mixtures are rebalanced.
    * The key is the first 8 md5 hex digits over 2^32 — exact in IEEE
    * double (integer / power of two), so the filter is bit-identical
    * in DuckDB. */
  def q54SampleMix(spark: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", 0.25)
      .when(col("lang") === "es", 0.5)
      .otherwise(1.0)
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), uniformKey, rate.as("rate"))
      .filter(col("sample_key") < col("rate"))
      .orderBy("doc_id")
  }

  /** The reproducible uniform key in [0,1) seeded by any column:
    * first 8 md5 hex digits over 2^32 — exact in IEEE double
    * (integer / power of two), bit-identical in DuckDB (see
    * [[md5UniformSql]], the single SQL counterpart), no RNG state,
    * no partition dependence. ONE definition — q54/q55 seed it by
    * doc_id, [[Dedup.q69ClusterSplit]] by cluster_id — so the
    * cross-engine bit-identity can't drift per call site. */
  private[graft] def uniformKeyOf(seed: Column): Column =
    conv(substring(md5(seed.cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)

  /** DuckDB replay of [[uniformKeyOf]] for oracle SQL: the
    * nibble-weighted sum reproduces `conv(substr(md5,1,8),16,10)`
    * exactly, and /2^32 is exact in IEEE double. */
  private[queries] def md5UniformSql(seedExpr: String): String =
    s"""CAST(list_sum(list_transform(range(1, 9),
       |    i -> (strpos('0123456789abcdef',
       |            substr(md5(CAST($seedExpr AS VARCHAR)), i, 1)) - 1)
       |         * (1::BIGINT << (4 * (8 - i))))) AS DOUBLE)
       |    / 4294967296.0""".stripMargin

  private def uniformKey = uniformKeyOf(col("doc_id")).as("sample_key")

  // --------------------------------------------------------------- q55
  /** Deterministic per-source cap — the domain-balancing primitive
    * complementing [[q54SampleMix]]'s rate-based mixing: keep at most
    * K documents per source, chosen by the md5-derived uniform key —
    * a reproducible uniform subsample per source, NOT "first K in
    * ingest order" (which would bias the kept set toward whatever the
    * crawler saw first). Per-domain caps are how a web corpus stops
    * a handful of giant domains from dominating the mixture.
    *
    * Scale shape: ranking is only paid where it trims. A tiny
    * per-source count (broadcast) splits sources into ≤K — passed
    * through with NO sort or shuffle; at web scale the long tail of
    * domains, i.e. most rows — and >K, which alone flow through the
    * per-source rank window. The sorted fraction is the oversized
    * domains' rows, not the corpus. */
  def q55SourceCap(spark: SparkSession, dir: String, k: Int = 10)
      : DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("source"), uniformKey)
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("_n"))
    val small = d.join(
      broadcast(counts.filter(col("_n") <= k)).select("source"), "source")
    val capped = d.join(
      broadcast(counts.filter(col("_n") > k)).select("source"), "source")
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("sample_key"), col("doc_id"))))
      .filter(col("_r") <= k).drop("_r")
    small.unionByName(capped)
      .select(col("doc_id"), col("source"), col("sample_key"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- q56
  /** Cross-corpus span-level dedup — the C4-style "remove duplicated
    * lines across the whole corpus" cleanup (Raffel et al. 2020 §2.2),
    * at a finer grain than whole-document dedup (q17): documents are
    * cut into fixed 10-word chunks (this corpus has no sentence
    * boundaries; with them, the chunker would be the sentence split),
    * every repeated chunk keeps only its FIRST occurrence — minimum
    * (doc_id, position) — corpus-wide, and each document is
    * reassembled from its surviving chunks in original order.
    *
    * Scale shape: two hash shuffles and nothing else. The first-
    * occurrence choice is a `min` over the pair (doc_id, idx) ENCODED
    * as one long (`doc_id << 20 | idx`) — `min(struct(...))` would
    * plan as SortAggregate (structs aren't hash-aggregable) and sort
    * every partition by chunk; the long min stays a HashAggregate
    * with map-side combine, so popular chunks collapse early and
    * nothing sorts. The encoding is order-preserving while documents
    * stay under 2^20 chunks (10M words at the default width) and ids
    * under 2^43 — both far past any real corpus row. Reassembly
    * regroups by doc_id; `collect_list` there is bounded by
    * single-document size, and `array_sort` restores chunk order
    * deterministically (collect_list order is not guaranteed across
    * shuffles). */
  def q56ChunkDedup(spark: SparkSession, dir: String, chunkWords: Int = 10)
      : DataFrame = {
    val d = docs(spark, dir)
    val kept = firstOccurrence(chunkify(d, chunkWords))
    withWords(d)
      .select(col("doc_id"), chunkCount(chunkWords).as("n_chunks"))
      .join(reassemble(kept), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  private def chunkCount(cw: Int) =
    ceil(size(words).cast("double") / lit(cw.toDouble)).cast("int")

  /** (doc_id, idx, chunk) rows of fixed `cw`-word chunks over a
    * (doc_id, text) frame — shared by [[q56ChunkDedup]] and the
    * streaming ledger dedup
    * ([[graft.streaming.StreamingChunkDedup]]). */
  def chunkify(d: DataFrame, cw: Int): DataFrame =
    withWords(d).select(col("doc_id"),
      posexplode(transform(sequence(lit(0), chunkCount(cw) - lit(1)),
        i => array_join(slice(words, i * cw + lit(1), lit(cw)), " ")))
        .as(Seq("idx", "chunk")))

  /** First occurrence per chunk value — minimum (doc_id, idx), the
    * pair packed into one long so the min stays a HashAggregate (see
    * [[q56ChunkDedup]] scaladoc). The explicit long cast matters:
    * streaming callers supply their own schema, and an IntegerType
    * doc_id would otherwise shift in 32-bit arithmetic — wrapping
    * negative from doc_id 2048 up and silently corrupting the
    * winners. */
  def firstOccurrence(chunked: DataFrame): DataFrame =
    chunked.groupBy(col("chunk"))
      .agg(min(shiftleft(col("doc_id").cast("long"), 20)
        .bitwiseOR(col("idx").cast("long"))).as("keep"))
      .select(shiftright(col("keep"), 20).as("doc_id"),
        col("keep").bitwiseAND(lit((1L << 20) - 1)).cast("int").as("idx"),
        col("chunk"))

  /** Per-doc survivors regrouped and re-joined in original chunk
    * order (collect_list has no cross-shuffle order guarantee —
    * array_sort on (idx, chunk) restores it deterministically). */
  def reassemble(kept: DataFrame): DataFrame =
    kept.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
            s => s.getField("chunk")), " ").as("clean_text"))

  // --------------------------------------------------------------- q57
  /** Sequence packing — the training-shard assembly step: documents
    * are packed greedily, in deterministic doc_id order WITHIN each
    * source, into bins of `budget` tokens (bin id = exclusive running
    * token count ÷ budget — contiguous fill, reproducible across
    * runs and cluster layouts). Packing is inherently order-dependent,
    * so the running sum is scoped per source: the shuffle keys on
    * source and each group's ordered cumsum runs independently —
    * parallelism is the number of sources (at web scale, plenty),
    * never a single global sort. Training pipelines pack per shard
    * anyway; a global packing order across 100 TB would serialize on
    * one task for no modeling benefit. */
  def q57PackBins(spark: SparkSession, dir: String, budget: Int = 512)
      : DataFrame =
    binAssign(docs(spark, dir), budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("bin"))
      .orderBy("doc_id")

  /** q57's bin assignment with the text kept alongside — shared by the
    * bin listing (q57) and the sequence materialization (q63). */
  private def binAssign(documents: DataFrame, budget: Int): DataFrame = {
    val d = withWords(documents)
      .select(col("doc_id"), col("source"), col("text"),
        size(words).cast("long").as("n_tokens"))
    val excl = coalesce(
      sum(col("n_tokens")).over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    d.withColumn("bin", floor(excl / lit(budget.toLong)))
  }

  // --------------------------------------------------------------- q63
  /** Sequence materialization — the step after [[q57PackBins]]'s bin
    * assignment: each (source, bin) becomes ONE packed training
    * sequence, its documents joined in doc_id order with an `<eos>`
    * separator (the concatenate-and-delimit shape LLM pretraining
    * shards use). Determinism: `collect_list` carries no order
    * guarantee across shuffles, so the list is collected as (doc_id,
    * text) structs and `array_sort`ed before joining — doc_id is
    * unique, so the sort is total and the output reproducible on any
    * partitioning (the DuckDB mirror is `string_agg(... ORDER BY)`).
    *
    * Scale shape: one shuffle keyed (source, bin); each group's
    * payload is bounded by the token budget (plus the one overflowing
    * document), so per-group state is O(budget), never O(source) —
    * the aggregate cannot skew however large a source is. */
  // --------------------------------------------------------------- q111
  /** Seeded epoch shuffle — the training-order permutation: each
    * (epoch, doc) pair gets a deterministic md5 key; docs are
    * hash-bucketed into shards by that key and ordered within the
    * shard by it. Different epochs reorder deterministically with NO
    * movement of the underlying corpus — only this thin ordering
    * table is recomputed, and a trainer resumes mid-epoch from
    * (shard, pos) alone.
    *
    * Scale shape: the permutation is shard-LOCAL — one hash-partition
    * exchange on (epoch, shard) and a per-shard sort of |corpus|/S
    * keys; a naive `ORDER BY random()` global sort serializes the
    * whole corpus through a total order at 100 TB. Ties (md5
    * collisions) break on doc_id so the order is total and the DuckDB
    * replay bit-identical. */
  def q111EpochShuffle(spark: SparkSession, dir: String,
      epochs: Int = 2, shards: Int = 8): DataFrame = {
    val keyed = docs(spark, dir).select(col("doc_id"))
      .withColumn("epoch",
        explode(sequence(lit(0L), lit(epochs - 1L))))
      .withColumn("hk",
        conv(substring(md5(
          concat(col("epoch"), lit(":"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("shard", pmod(col("hk"), lit(shards.toLong)))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("hk"), col("doc_id"))).cast("long"))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  def q63PackConcat(spark: SparkSession, dir: String, budget: Int = 512)
      : DataFrame =
    binAssign(docs(spark, dir), budget)
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")),
          " <eos> ").as("packed_text"))
      .orderBy(col("source"), col("bin"))

  // --------------------------------------------------------------- q90
  /** Vocabulary-growth (token novelty) curve over ingest batches: with
    * doc_id order standing in for arrival order and `doc_id div 100`
    * as the batch, count per batch the distinct tokens seen and the
    * tokens seen for the FIRST time, plus the running vocabulary
    * size. A flattening curve is the classic crawl-saturation signal
    * (Heaps' law bend) — the evidence for when more crawling stops
    * buying new vocabulary.
    *
    * Cross-engine exactness: all BIGINT counts; Spark `div` truncates
    * where DuckDB `//` floors, so negative doc_ids fail loudly (q71
    * discipline) instead of silently bucketing off-by-one.
    *
    * Scale shape: the distinct (bucket, token) projection is the one
    * corpus-sized shuffle; first-seen is a min-agg over it (tokens ≪
    * corpus). The running vocabulary size is a TWO-PHASE prefix sum —
    * the curve grows Θ(corpus/100), so a global `Window.orderBy` over
    * it would funnel every bucket row through one task: instead (1)
    * range-partition the curve by bucket (partition ids ordered by
    * range), (2) running sum PARTITIONED by partition id, (3) offsets
    * = exclusive prefix over the per-partition totals, computed as a
    * triangular broadcast self-join (≤ one row per shuffle partition —
    * config-bounded — so the ≤P² join is trivial and NO unpartitioned
    * window exists anywhere in the plan), (4) broadcast the offsets
    * back and add map-side. */
  def q90VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val bucket = when(col("doc_id") >= 0L, expr("doc_id div 100"))
      .otherwise(raise_error(lit(
        "q90: negative doc_id — Spark div (truncate) and DuckDB // (floor) diverge")))
    val tok = docs(spark, dir)
      .select(bucket.as("bucket"),
        explode(split(col("text"), "\\s+")).as("token"))
      .distinct()
      .localCheckpoint() // two consumers: first-seen + per-batch counts
    val firstSeen = tok.groupBy(col("token"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_tokens"))
    val perBucket = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_distinct_tokens"))
    val curve = perBucket.join(firstSeen, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new_tokens"))
    val parts = curve.repartitionByRange(col("bucket"))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint() // pin _pid: both consumers must see ONE assignment
    val within = parts.withColumn("_within",
      sum(col("n_new_tokens")).over(
        Window.partitionBy(col("_pid")).orderBy(col("bucket"))))
    val totals = parts.groupBy(col("_pid"))
      .agg(sum(col("n_new_tokens")).as("_t"))
      .localCheckpoint() // ≤ one row per shuffle partition; 2 consumers
    val offsets = totals.select(col("_pid"))
      .join(broadcast(totals.toDF("_ppid", "_pt")),
        col("_ppid") < col("_pid"), "left")
      .groupBy(col("_pid"))
      .agg(coalesce(sum(col("_pt")), lit(0L)).as("_off"))
    within.join(broadcast(offsets), Seq("_pid"))
      .withColumn("vocab_size", col("_within") + col("_off"))
      .select("bucket", "n_distinct_tokens", "n_new_tokens", "vocab_size")
      .orderBy("bucket")
  }

  // --------------------------------------------------------------- q91
  /** Character-distribution chi-square against uniform, in pure
    * integer arithmetic — a gibberish/encoding-noise signal: natural
    * language has a sharply non-uniform letter distribution, base64
    * blobs and mashed keyboards sit near uniform. With per-letter
    * counts c_i and n = Σc_i the statistic is Σ(26·c_i − n)² — the
    * χ² numerator rescaled by 26²n so it stays integral (the q70 TVD
    * rescaling trick). Under uniform its expectation is 650·n, so the
    * non-uniformity flag fires above 1300·n (2×). Exact while
    * n < ~7·10⁸ letters per document (the Σ stays under 2⁶³).
    *
    * Scale shape: embarrassingly parallel — 26 codegen'd
    * length/translate diffs per row, no shuffle at all before the
    * output sort; at 100 TB this runs at scan speed. */
  def q91CharChisq(spark: SparkSession, dir: String): DataFrame = {
    val letters = 'a' to 'z'
    val withC = letters.foldLeft(
      graft.operators.Spread.byKey(docs(spark, dir).select(col("doc_id"), col("text")),
        col("doc_id"))) { (df, ch) =>
      df.withColumn(s"_c_$ch",
        (length(col("text")) -
          length(translate(col("text"), ch.toString, ""))).cast("long"))
    }
    val nLetters = letters.map(ch => col(s"_c_$ch")).reduce(_ + _)
    val term = (ch: Char) => {
      val d = lit(26L) * col(s"_c_$ch") - col("n_letters")
      d * d
    }
    withC.withColumn("n_letters", nLetters)
      .withColumn("chisq_num", letters.map(term).reduce(_ + _))
      .select(col("doc_id"), col("n_letters"), col("chisq_num"),
        (col("chisq_num") > lit(1300L) * col("n_letters"))
          .cast("long").as("is_nonuniform"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- q93
  /** Per-source bigram diversity — distinct/total word-bigram counts
    * and their type-token ratio: the distinct-n diversity metric
    * (the corpus-level cousin of Self-BLEU) that separates a source of
    * templated/boilerplate pages (low TTR: many repeats of few
    * bigrams) from genuinely varied text, complementing q43's
    * WITHIN-document repetition with ACROSS-document repetition.
    *
    * Cross-engine exactness: integer counts; the ratio is the one
    * IEEE division both engines build; sub-2-token docs contribute
    * zero bigrams (the q18 shingle guard, 2-gram version).
    *
    * Scale shape: totals come from array lengths without exploding;
    * only the distinct count pays the explode, and its dedup is a
    * two-level (source, bigram) aggregate with map-side partials —
    * never a corpus-wide distinct over raw rows. */
  def q93DistinctNgrams(spark: SparkSession, dir: String): DataFrame = {
    // spread by doc_id, not source: the hash key must be
    // high-cardinality or most partitions sit empty (guide §2.5).
    // Project to (doc_id, source, text) BEFORE the spread (ADVICE r21)
    // so the repartition exchange carries only the columns the kernel
    // needs — Spread's own narrow-projection contract.
    val d = withWords(graft.operators.Spread.byKey(
        docs(spark, dir).select(col("doc_id"), col("source"), col("text")),
        col("doc_id"))
        .select(col("source"), col("text")))
      .select(col("source"), col("_ws"))
      .localCheckpoint() // two consumers: totals + distinct explode
    val totals = d.groupBy(col("source")).agg(
      sum(greatest(size(col("_ws")) - 1, lit(0)).cast("long"))
        .as("n_bigrams"))
    val dist = d.select(col("source"), explode(bigramsExpr).as("bg"))
      .distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_distinct_bigrams"))
    totals.join(dist, Seq("source"), "left")
      .na.fill(0L, Seq("n_distinct_bigrams"))
      .withColumn("ttr",
        when(col("n_bigrams") > 0,
          col("n_distinct_bigrams").cast("double") /
            col("n_bigrams").cast("double")))
      .orderBy("source")
  }

  // -------------------------------------------------------------- q104
  /** Word-5-gram array over `_ws`, <5-token-guarded (the q43 bigram
    * guard at n=5 — `sequence(0, negative)` counts DOWN). */
  private def fivegramsExpr = expr(
    """CASE WHEN size(_ws) >= 5 THEN
      |  transform(sequence(0, size(_ws) - 5),
      |    i -> concat_ws(' ', _ws[i], _ws[i+1], _ws[i+2], _ws[i+3], _ws[i+4]))
      |ELSE array() END""".stripMargin)

  /** Character-MASS repetition metrics — the other half of the Gopher
    * repetition family (Rae et al. 2021 table A1): q43 measures the
    * fraction of duplicate n-GRAMS; these measure the fraction of
    * CHARACTERS captured by (a) the single most frequent word-bigram
    * and (b) all word-5-grams occurring more than once. A page that
    * repeats one long boilerplate sentence has a low duplicate-bigram
    * ratio but a huge duplicate-5-gram character mass — the mass view
    * is what catches it. Reference text surface for provenance:
    * `etl/03_transform_and_load.py:47-49` (normalization only; the
    * repetition family is extension scope).
    *
    * Exactness: masses are pure BIGINT (occurrences × gram length);
    * the threshold flags are integer cross-multiplications
    * (`5·top2_chars ≥ n_chars` ⇔ fraction ≥ 0.2, `20·dup5_chars ≥
    * 3·n_chars` ⇔ fraction ≥ 0.15 — Gopher's published cutoffs), so
    * no float ever crosses an engine boundary. The top bigram
    * tie-breaks by the lexicographically LARGEST gram among max
    * counts (`max(struct(cnt, gram))` ≡ the oracle's `ORDER BY cnt
    * DESC, gram DESC` row_number) — a total order, engine-portable on
    * the binary collation both engines default to.
    *
    * Scale shape: both n-gram grains ride ONE explode → ONE
    * (doc, tag, gram) hash-agg (map-side combined — within a doc a
    * repeated gram collapses before the exchange) → ONE per-doc agg;
    * the argmax is `max(struct)` (no window), the base table joins
    * back only for row conservation (empty docs keep their row, flags
    * fail closed at mass 0). Nothing here is corpus²; the widest
    * intermediate is the token stream itself. */
  def q104RepetitionMass(spark: SparkSession, dir: String): DataFrame = {
    val tagged = withWords(graft.operators.Spread.byKey(docs(spark, dir), col("doc_id")))
      .withColumn("_bg", bigramsExpr).withColumn("_fg", fivegramsExpr)
      .select(col("doc_id"), explode(concat(
          transform(col("_bg"), g => struct(lit("b").as("tag"), g.as("gram"))),
          transform(col("_fg"), g => struct(lit("f").as("tag"), g.as("gram")))))
        .as("tg"))
      .select(col("doc_id"), col("tg.tag").as("tag"), col("tg.gram").as("gram"))
    val counts = tagged.groupBy(col("doc_id"), col("tag"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val perDoc = counts.groupBy(col("doc_id")).agg(
      max(when(col("tag") === "b", struct(col("cnt"), col("gram"))))
        .as("_top"),
      sum(when(col("tag") === "f" && col("cnt") >= 2,
          col("cnt") * length(col("gram")).cast("long")).otherwise(lit(0L)))
        .as("_dup5"))
    val top2Chars =
      coalesce(col("_top.cnt") * length(col("_top.gram")).cast("long"), lit(0L))
    val dup5Chars = coalesce(col("_dup5"), lit(0L))
    docs(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_chars"),
        col("_top.gram").as("top2_gram"),
        coalesce(col("_top.cnt"), lit(0L)).as("top2_cnt"),
        top2Chars.as("top2_chars"),
        dup5Chars.as("dup5_chars"),
        (lit(5L) * top2Chars >= col("n_chars")).as("top2_flag"),
        (lit(20L) * dup5Chars >= lit(3L) * col("n_chars")).as("dup5_flag"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- q95
  /** Size of the subword vocabulary (top-K character n-grams) and the
    * n-gram length range. Shared by the Spark derivation and the
    * DuckDB oracle — one constant, no drift. */
  val SubwordVocabK = 150
  private val SubwordNgramLens = Seq(2, 3, 4)

  /** Corpus-derived subword vocabulary as a LITERAL array column: the
    * [[SubwordVocabK]] most frequent character n-grams (lengths
    * [[SubwordNgramLens]]) over all whitespace words, ties broken by
    * gram for a total order. Counted at VOCABULARY scale: the corpus
    * collapses to a (word, count) wordcount first (q48's shape — the
    * one corpus-sized shuffle, map-side combined), and grams explode
    * off the DISTINCT words weighted by their counts — Σ(weight) ≡
    * the per-occurrence count exactly, but the explode emits
    * |vocabulary| × word-length rows instead of corpus-characters × 3
    * (Zipf: vocabulary ≪ occurrences). The driver collect is bounded
    * at K rows by construction — the q80 codebook-inlining precedent —
    * so the scoring pass that consumes it is a pure map with the
    * vocabulary baked into codegen. */
  /** Driver-side memo of derived vocabularies, keyed by the corpus
    * files' metadata fingerprint (the [[graft.Tables.fileFingerprint]]
    * content-address — same staleness-impossible contract as the
    * signature index): a production tokenizer vocabulary is trained
    * once and shipped as an artifact, so re-deriving it per query
    * would charge the wordcount to every consumer. ≤ K strings per
    * corpus — bounded driver memory. Read through [[memo]] (compute
    * outside the CHM bin lock, bounded), never `computeIfAbsent` —
    * the r15/r16 review finding on [[lmThresholdCache]] applies here
    * identically: an unrelated request hashing to the same bin must
    * not block behind a corpus wordcount. */
  private val vocabCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def subwordVocabLit(spark: SparkSession, dir: String): Column = {
    val key = graft.Tables.fileFingerprint(spark, s"$dir/documents.parquet")
    val grams = memo(vocabCache, key) {
      val gramsOfWord = expr(
        s"""flatten(transform(array(${SubwordNgramLens.mkString(", ")}), n ->
           |  CASE WHEN length(w) >= n
           |       THEN transform(sequence(1, length(w) - n + 1),
           |                      p -> substring(w, p, n))
           |       ELSE array() END))""".stripMargin)
      withWords(docs(spark, dir))
        .select(explode(words).as("w")).filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .select(col("wc"), explode(gramsOfWord).as("gram"))
        .groupBy("gram").agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("gram"))
        .limit(SubwordVocabK)
        .select("gram").collect() // ≤ K rows — bounded by construction
        .toSeq.map(_.getString(0))
    }
    if (grams.isEmpty) typedLit(Seq.empty[String])
    else array(grams.map(lit): _*)
  }

  /** Subword-aware token accounting: per-document token count under
    * greedy longest-match tokenization ([[graft.functions.SubwordCount]])
    * against the corpus-derived [[subwordVocabLit]] vocabulary — the
    * BPE/wordpiece-unit denominator that budget/packing/mixture
    * operators need, where whitespace counts (q13) misallocate
    * no-whitespace scripts (a CJK "word" is one whitespace token but
    * many subword units).
    *
    * Cross-engine exactness: the vocabulary is an exact top-K (BIGINT
    * counts, gram tiebreak) and the greedy walk is deterministic, so
    * the DuckDB recursive-CTE replay reproduces every count; all
    * outputs BIGINT.
    *
    * Scale shape: vocabulary = one wordcount to K rows; scoring is
    * map-ONLY — the greedy matcher runs inside whole-stage codegen
    * with the vocabulary shipped as a codegen reference, no join, no
    * shuffle before the presentation sort. At 100 TB this runs at
    * scan speed, unlike a tokenize-then-explode plan which would 2×
    * the corpus on the wire. */
  def q95SubwordCount(spark: SparkSession, dir: String): DataFrame = {
    val vocab = subwordVocabLit(spark, dir)
    withWords(docs(spark, dir))
      .withColumn("_wf", filter(words, w => length(w) > lit(0)))
      .select(col("doc_id"),
        size(col("_wf")).cast("long").as("n_words"),
        graft.functions.SubwordCount.subwordCount(col("_wf"), vocab)
          .as("n_subwords"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- q96
  /** q79's token-budget head re-denominated in SUBWORD units: walk
    * each language's documents in the md5-uniform order and take
    * documents until a fixed subword budget fills, truncating the
    * boundary document. Budgets in whitespace units under-charge
    * no-whitespace scripts ~|word|-fold; charging subword units is
    * how a mixture plan stays language-fair.
    *
    * Scale shape: q79's — the window runs over the (doc_id,
    * n_subwords) projection (16 bytes/row), never the text; the
    * subword counts themselves are the q95 map-only pass. */
  def q96SubwordBudget(spark: SparkSession, dir: String): DataFrame = {
    val budget = 4000L
    val vocab = subwordVocabLit(spark, dir)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("sample_key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withWords(docs(spark, dir))
      .withColumn("_wf", filter(words, x => length(x) > lit(0)))
      .select(col("doc_id"), col("lang"),
        graft.functions.SubwordCount.subwordCount(col("_wf"), vocab)
          .as("n_subwords"),
        uniformKey)
      .withColumn("cum_before",
        coalesce(sum(col("n_subwords")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .withColumn("take_subwords",
        least(col("n_subwords"), lit(budget) - col("cum_before")))
      .select(col("doc_id"), col("lang"), col("n_subwords"),
        col("cum_before"), col("take_subwords"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------- q137
  /** DSIR-style data selection via hashed-unigram importance — the
    * shape of Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling" (arXiv:2302.03169): score every candidate
    * document by how much more its hashed-token profile resembles a
    * TARGET distribution (here the corpus's English documents — the
    * stand-in for "looks like the eval domain") than the candidate
    * pool itself, and keep the top-[[DsirK]]. DSIR's per-feature
    * weight is the log-ratio `log(p_target[b] / p_raw[b])`; logs are
    * libm-rounded and engine-divergent, so the weight here is the
    * order-preserving integer parts-per-million rate difference
    * `tc[b]·10⁶ div Ttot − rc[b]·10⁶ div Rtot` — the same
    * integer-exact-factor discipline as q121's BM25, which is what
    * lets DuckDB replay every weight and every score bit-for-bit.
    * Buckets are the engine-neutral md5-prefix-long family
    * (q116's r=0 slice) mod [[DsirBuckets]].
    *
    * Scale shape: ONE tokenize pass builds the (doc, bucket) grain
    * (map-side explode, one grain-keyed partial agg); bucket weights
    * are a [[DsirBuckets]]-row aggregate OF THE GRAIN (never a second
    * corpus pass) broadcast back to it; doc scores are one
    * doc_id-keyed partial agg; the cut is TakeOrderedAndProject — no
    * corpus-sized join side, no global sort, and weight magnitudes
    * are corpus-size-free (≤ 10⁶), so scores stay in BIGINT at any
    * scale factor. */
  val DsirBuckets = 1024
  val DsirK = 25
  def q137DsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("token")), 1, 8), 16, 10)
      .cast("long") % DsirBuckets
    val grain = docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(wordsCol).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("doc_id"), col("lang"), col("source"), bucket.as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds weights AND scoring: tokenize runs once
    val byBucket = grain.groupBy(col("bucket"))
      .agg(
        sum(when(col("lang") === "en", col("n")).otherwise(0L)).as("tc"),
        sum(when(col("lang") =!= "en", col("n")).otherwise(0L)).as("rc"))
    // totals: a 1-row aggregate of the B-row frame (bounded crossJoin)
    val tot = byBucket.agg(sum(col("tc")).as("ttot"), sum(col("rc")).as("rtot"))
    val weights = byBucket.crossJoin(tot)
      .select(col("bucket"),
        (expr("tc * 1000000 div ttot") - expr("rc * 1000000 div rtot"))
          .as("w"))
    grain.filter(col("lang") =!= "en")
      .join(broadcast(weights), "bucket")
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(
        sum(col("n") * col("w")).as("score"),
        sum(col("n")).as("n_tokens"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(DsirK)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("score"))
  }

  // -------------------------------------------------------------- q141
  /** Incremental maintenance of the DSIR bucket-count table over the
    * versioned lake — [[q137DsirSelect]]'s weights kept current under
    * ingest AND takedown, on the q117/q127 pattern: the per-bucket
    * class counts (tc, rc) are a LINEAR statistic of the token stream,
    * so maintenance is plain addition — `counts(v) = counts(v−1) +
    * counts(Δ) − counts(R)` bucket-for-bucket, exact — and each
    * version costs one map-only pass over the CHANGE's tokens plus a
    * [[DsirBuckets]]-row aggregate, never a corpus re-scan. The
    * subtraction is class-conditional, so it needs the removal
    * contract to carry text AND lang (the rm3 contract of
    * [[versionedCorpusWithRemoval]]); a tombstone batch missing either
    * forces the loud full rebuild, never a silently drifted weight
    * table. Output: version 3's maintained counts with the derived
    * parts-per-million integer weight; the oracle rebuilds every row
    * from the SURVIVING corpus only, so hash equality proves
    * subtract ≡ rebuild-over-survivors for the selection weights a
    * curation pipeline would serve. */
  def q141IncrDsir(spark: SparkSession, dir: String): DataFrame = {
    val base = versionedCorpusWithRemoval(spark, dir)
    dsirCountsAt(spark, base, 1L) // chain origin (cached artifact)
    dsirCountsAt(spark, base, 2L) // delta add
    val counts = dsirCountsAt(spark, base, 3L) // the tombstone subtract
    val tot = counts.agg(sum(col("tc")).as("ttot"), sum(col("rc")).as("rtot"))
    counts.crossJoin(tot)
      .select(col("bucket"), col("tc"), col("rc"),
        (expr("tc * 1000000 div ttot") - expr("rc * 1000000 div rtot"))
          .as("w"))
      .orderBy(col("bucket"))
  }

  /** Per-bucket class counts of a documents frame — the linear
    * statistic behind [[q137DsirSelect]]'s weights (md5-prefix bucket,
    * target = `lang == "en"`). */
  private[graft] def dsirCountsOf(df: DataFrame): DataFrame =
    df.select(col("lang"), explode(split(col("text"), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("lang"),
        (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % DsirBuckets).as("bucket"))
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("rc"))

  private[graft] def dsirArtifact(lakeBase: String, v: Long): String =
    s"$lakeBase-dsir-b$DsirBuckets-v$v"

  /** The maintained count table AT lake version `v` ([[q141IncrDsir]]'s
    * engine). */
  private[graft] def dsirCountsAt(spark: SparkSession, lakeBase: String,
      v: Long): DataFrame =
    graft.sources.ArtifactStore.readOrPublish(
      spark, dsirArtifact(lakeBase, v))(
      incrementalDsirFrame(spark, lakeBase, v))

  /** Maintenance frame behind [[dsirCountsAt]]: previous artifact
    * present ⇒ union prev counts, the delta's counts, and the
    * tombstone batch's NEGATED counts, then one [[DsirBuckets]]-row
    * re-aggregation — additivity makes the merge exact, and buckets
    * that net to (0, 0) are dropped so the maintained table is
    * row-identical to a from-scratch build. Subtraction requires
    * tombstones carrying text AND lang (class-conditional counts);
    * anything less forces the full rebuild, the same loud-fallback
    * discipline as [[graft.queries.Analytics.incrementalCmsFrame]]. */
  private[graft] def incrementalDsirFrame(spark: SparkSession,
      lakeBase: String, v: Long): DataFrame = {
    import graft.sources.{ArtifactStore, Versioned}
    val hasDelta =
      Versioned.tableExists(spark, lakeBase, "documents_delta", v)
    val hasRemoved =
      Versioned.tableExists(spark, lakeBase, "documents_removed", v)
    lazy val removed = Versioned.readAt(spark, lakeBase, "documents_removed", v)
    val removedUsable = hasRemoved &&
      removed.columns.contains("text") && removed.columns.contains("lang")
    ArtifactStore.readIfPresent(spark, dsirArtifact(lakeBase, v - 1)) match {
      case Some(prev)
          if (hasDelta || removedUsable) && (!hasRemoved || removedUsable) =>
        val parts = Seq(
          Some(prev.select(col("bucket"), col("tc"), col("rc"))),
          if (hasDelta) Some(dsirCountsOf(
            Versioned.readAt(spark, lakeBase, "documents_delta", v)))
          else None,
          if (removedUsable) Some(dsirCountsOf(removed)
            .select(col("bucket"), (-col("tc")).as("tc"),
              (-col("rc")).as("rc")))
          else None).flatten
        parts.reduce(_.unionByName(_))
          .groupBy(col("bucket"))
          .agg(sum(col("tc")).as("tc"), sum(col("rc")).as("rc"))
          .filter(col("tc") =!= 0 || col("rc") =!= 0)
      case _ => dsirCountsOf(
        Versioned.readAt(spark, lakeBase, "documents", v))
    }
  }

  // -------------------------------------------------------------- q142
  /** CCNet-style language-model quality bucketing — the shape of
    * Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data" (arXiv:1911.00359): train a unigram
    * LM on an in-domain corpus (here the English documents, the q137
    * target class), score every document by its mean per-token
    * surprisal, and split the corpus into head/middle/tail perplexity
    * terciles — the curation cut CCNet feeds to training-data
    * selection. KenLM's log-probabilities are libm floats and
    * engine-divergent, so surprisal here is the integer-exact
    * half-bit discrete log the q137/q121 discipline demands:
    *
    *   D      = T + V + 1              (add-one mass: T = en tokens,
    *                                    V = [[LmVocabK]] vocab slots,
    *                                    +1 the pooled OOV class)
    *   qrec   = least(D div (c+1), 3·10⁹)   — reciprocal probability,
    *                                    c = en count (0 for OOV)
    *   s      = len(bin(qrec²)) − 1    = ⌊2·log₂ qrec⌋ — surprisal in
    *                                    HALF-BITS, exact in both
    *                                    engines via binary bit-length
    *
    * The 3·10⁹ cap bounds qrec² inside BIGINT (9·10¹⁸ < 2⁶³) and caps
    * surprisal at 62 half-bits = 31 bits — beyond any ranking signal
    * (a once-in-2³¹-tokens event); it also makes every downstream
    * magnitude corpus-size-free: score = surp·10³ div n_tokens ≤
    * 62,000 regardless of scale factor, so no product in the query
    * can overflow at any corpus size. Tercile thresholds come from an
    * exact HISTOGRAM of the bounded score domain (≤ 62,001 distinct
    * values — corpus-size-free), not a global rank: the cumulative
    * window runs over the histogram rows, so the one ordered window
    * in the plan is bounded by the score DOMAIN, not the corpus (the
    * q121 lesson, applied). Threshold semantics (ties share a bucket)
    * rather than rank semantics is what makes the cut deterministic
    * without a corpus-wide sort; the price is that a score value
    * holding more than a tercile of mass absorbs its whole tie into
    * the lower bucket (the synthetic corpus — one token pool for every
    * language — degenerates this way; Zipf-distributed real text does
    * not), which is the CCNet trade too: its cuts come from held-out
    * perplexity thresholds, not per-document ranks.
    *
    * Scale shape: ONE tokenize pass builds the (doc, token, tf) grain
    * (map-side combine), localCheckpointed for its two consumers; the
    * LM is a top-[[LmVocabK]] cut of the grain's en re-aggregation
    * (TakeOrderedAndProject — no global sort) broadcast back; scoring
    * is a broadcast left-join + one doc-keyed partial agg; bucketing
    * broadcasts a 1-row threshold frame. No corpus-sized join side,
    * no unbounded window, no second tokenize. */
  val LmVocabK = 2048
  def q142LmBucket(spark: SparkSession, dir: String): DataFrame = {
    val grain = docs(spark, dir)
      .select(col("doc_id"), col("lang"), explode(wordsCol).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds LM training AND scoring: tokenize once
    val enCounts = grain.filter(col("lang") === "en")
      .groupBy(col("token")).agg(sum(col("tf")).as("c"))
    val vocab = enCounts
      .orderBy(col("c").desc, col("token")).limit(LmVocabK)
    val tot = enCounts.agg(sum(col("c")).as("t")) // 1 row, bounded
    val scored = scoreGrain(grain, vocab, tot)
      .withColumn("score_mhb", expr("surp * 1000 div n_tokens"))
      .localCheckpoint() // feeds the histogram, N, and the final cut
    tercileCut(scored)
  }

  /** THE surprisal scoring kernel — q142 feeds it the single-pass
    * grain under a freshly trained LM, [[lmScoreOf]] under the frozen
    * artifact; the qrec cap and half-bit formula live here once
    * (mirrored only by the oracle SQL). `div`, not `/` — long÷long
    * through double rounds to nearest and can land on the wrong side
    * of an integer once the LM mass passes 2⁵³ tokens. */
  private def scoreGrain(grain: DataFrame, vocab: DataFrame,
      tot: DataFrame): DataFrame =
    grain
      .join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(tot)) // 1-row LM mass rides to every token
      .select(col("doc_id"), col("lang"), col("tf"),
        coalesce(col("c"), lit(0L)).as("cc"), col("t"))
      .withColumn("qrec",
        least(expr(s"(t + ${LmVocabK + 1}) div (cc + 1)"),
          lit(3000000000L)))
      .withColumn("s",
        (length(bin(col("qrec") * col("qrec"))) - lit(1)).cast("long"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("s")).as("surp"))

  /** The tercile threshold-cut shared by [[q142LmBucket]] and
    * [[q143IncrLmBucket]]: exact terciles over the BOUNDED score
    * domain — a histogram, one domain-sized cumulative window, and a
    * 1-row threshold reduction broadcast back over the scored frame.
    * Input must carry (doc_id, lang, n_tokens, surp, score_mhb) and
    * be materialized (both the histogram and the final cut consume
    * it). */
  private def tercileCut(scored: DataFrame): DataFrame =
    cutWith(scored, lmThresholdsOf(scored)).orderBy(col("doc_id"))

  /** The 1-row (t1, t2) tercile thresholds of a scored frame — the
    * global statistic behind the cut, separated out so the serving
    * path ([[qualityServe]]) can compute it straight off the standing
    * artifact without materializing the corpus. */
  private[graft] def lmThresholdsOf(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy(col("score_mhb")).agg(count(lit(1)).as("hn"))
    // unpartitioned window, BOUNDED: the score histogram holds ≤
    // 62,001 rows by the score cap however large the corpus —
    // adjudicated-benign single-partition warning (r19 #3)
    val histW = Window.orderBy(col("score_mhb"))
    hist
      .withColumn("cum", sum(col("hn")).over(histW))
      .crossJoin(broadcast(hist.agg(sum(col("hn")).as("nd"))))
      .agg(
        min(when(col("cum") * 3 >= col("nd"), col("score_mhb"))).as("t1"),
        min(when(col("cum") * 3 >= col("nd") * 2, col("score_mhb"))).as("t2"))
  }

  /** Apply a broadcast threshold frame to scored rows. */
  private def cutWith(scored: DataFrame, thresholds: DataFrame): DataFrame =
    scored.crossJoin(broadcast(thresholds))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("surp"),
        col("score_mhb"),
        when(col("score_mhb") <= col("t1"), lit("head"))
          .when(col("score_mhb") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))

  // -------------------------------------------------------------- q143
  /** Incremental maintenance of the LM-score chain under a FROZEN
    * language model — [[q142LmBucket]]'s scores kept current across
    * corpus versions on the frozen-codebook pattern of the IVF/PQ
    * chains ([[graft.queries.Similarity]]): CCNet's production
    * posture is exactly this — the quality LM is trained once on the
    * reference corpus and every later crawl snapshot is scored under
    * it (Wenzek et al. 2020, §3.3), because a per-version retrain
    * both re-reads the corpus and silently re-buckets every
    * previously scored document.
    *
    * Chain algebra: a document's (n_tokens, surp) under a frozen LM
    * is a pure per-doc function, so the scored artifact is DOC-KEYED
    * and maintenance is the cheapest kind in the ledger —
    * `scores(v) = scores(v−1) ∪ score(Δv) ∖ tombstones(v)` — one
    * map-side pass over the delta's tokens plus a broadcast
    * anti-join; the standing artifact is carried by reference, never
    * re-scored, and ID-ONLY tombstones are EXACT (contrast the CMS
    * and DSIR chains, whose linear counters need the removed TEXT to
    * subtract): removal ≡ never-ingested with no contract beyond the
    * ids. The tercile thresholds are NOT maintained state — they
    * recompute per read from the bounded score-domain histogram
    * (≤ 62,001 rows regardless of corpus size), which is what makes
    * serving the cut O(domain), not O(corpus), at any version.
    *
    * Output: version 3's maintained scores bucketed by the recomputed
    * thresholds. The oracle rebuilds from scratch — LM from v1's en
    * class, every SURVIVOR scored under it — so hash equality proves
    * append+tombstone maintenance ≡ full recompute under the frozen
    * model. */
  def q143IncrLmBucket(spark: SparkSession, dir: String): DataFrame = {
    val base = versionedCorpusWithRemoval(spark, dir)
    lmScoresAt(spark, base, 1L) // chain origin: trains + freezes the LM
    lmScoresAt(spark, base, 2L) // delta append under the frozen LM
    lmBucketsOf(lmScoresAt(spark, base, 3L)) // id-only tombstone cut
  }

  /** Bucket a (doc_id, lang, n_tokens, surp) scores frame — the
    * serve-side cut shared by [[q143IncrLmBucket]] and the streaming
    * twin ([[graft.streaming.StreamingLmScores]]): derive the bounded
    * integer score, then the tercile threshold cut. O(domain) beyond
    * one pass over the scores. */
  private[graft] def lmBucketsOf(scores: DataFrame): DataFrame =
    tercileCut(scores
      .withColumn("score_mhb", expr("surp * 1000 div n_tokens"))
      .localCheckpoint()) // feeds the histogram AND the final cut

  private[graft] def lmArtifact(lakeBase: String): String =
    s"$lakeBase-lm-k$LmVocabK"
  private[graft] def lmScoreArtifact(lakeBase: String, v: Long): String =
    s"$lakeBase-lmscore-k$LmVocabK-v$v"

  /** Train the unigram LM of [[q142LmBucket]] from a documents
    * frame's en class: the top-[[LmVocabK]] (token, c) rows plus one
    * NULL-token row carrying the total en mass T (NULL can never
    * collide with a real token, and a left join by token never
    * matches it). */
  private[graft] def lmOf(df: DataFrame): DataFrame = {
    val enc = df.filter(col("lang") === "en")
      .select(explode(split(col("text"), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    enc.orderBy(col("c").desc, col("token")).limit(LmVocabK)
      .unionByName(enc.agg(coalesce(sum(col("c")), lit(0L)).as("c"))
        .select(lit(null).cast("string").as("token"), col("c")))
  }

  /** Score a documents frame under a frozen LM artifact —
    * [[q142LmBucket]]'s surprisal arithmetic verbatim (half-bit
    * discrete log, BIGINT-capped), with the LM read from `lm` instead
    * of retrained. Map-side except the doc-keyed partial agg. */
  private[graft] def lmScoreOf(df: DataFrame, lm: DataFrame): DataFrame = {
    val vocab = lm.filter(col("token").isNotNull)
    val tot = lm.filter(col("token").isNull).select(col("c").as("t"))
    scoreGrain(
      df.select(col("doc_id"), col("lang"),
          explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("doc_id"), col("lang"), col("token"))
        .agg(count(lit(1)).as("tf")),
      vocab, tot)
  }

  /** The frozen LM of a chain: trained on first touch from the OLDEST
    * version still committed (version 1 in the maintained flow, where
    * the chain builds at every publish; a cold start on a GC'd lake
    * freezes the oldest surviving snapshot), content-addressed and
    * never retrained — every later version scores under it by
    * construction. */
  private[graft] def lmAt(spark: SparkSession, lakeBase: String): DataFrame =
    graft.sources.ArtifactStore.readOrPublish(spark, lmArtifact(lakeBase)) {
      import graft.sources.Versioned
      val origin = Versioned.listVersions(spark, lakeBase).headOption
        .getOrElse(sys.error(
          s"frozen-LM chain: no committed version at $lakeBase"))
      lmOf(Versioned.readAt(spark, lakeBase, "documents", origin))
    }

  /** The maintained doc-keyed score table AT lake version `v`
    * ([[q143IncrLmBucket]]'s engine). */
  private[graft] def lmScoresAt(spark: SparkSession, lakeBase: String,
      v: Long): DataFrame =
    graft.sources.ArtifactStore.readOrPublish(
      spark, lmScoreArtifact(lakeBase, v))(
      incrementalLmScoreFrame(spark, lakeBase, v))

  /** Maintenance frame behind [[lmScoresAt]]: previous artifact
    * present ⇒ union it with the DELTA's scores under the frozen LM
    * and anti-join the tombstone ids — prev rows carried verbatim
    * (the frozen model is what licenses that), removal exact on ids
    * alone because the artifact is doc-keyed. The delta contract
    * (new doc_ids only, as every doc-keyed chain here assumes) is
    * the ingest side's invariant. No usable prior ⇒ full build from
    * the version's documents. */
  private[graft] def incrementalLmScoreFrame(spark: SparkSession,
      lakeBase: String, v: Long): DataFrame = {
    import graft.sources.{ArtifactStore, Versioned}
    // lazy: the removal-only branch is an anti-join of prev and ids —
    // it must not pay (or cold-train!) the LM it never reads
    lazy val lm = lmAt(spark, lakeBase)
    val hasDelta =
      Versioned.tableExists(spark, lakeBase, "documents_delta", v)
    val hasRemoved =
      Versioned.tableExists(spark, lakeBase, "documents_removed", v)
    ArtifactStore.readIfPresent(spark, lmScoreArtifact(lakeBase, v - 1)) match {
      case Some(prev) if hasDelta || hasRemoved =>
        val added = if (hasDelta)
          prev.unionByName(lmScoreOf(
            Versioned.readAt(spark, lakeBase, "documents_delta", v), lm))
        else prev
        if (hasRemoved)
          added.join(
            Versioned.readAt(spark, lakeBase, "documents_removed", v)
              .select(col("doc_id")),
            Seq("doc_id"), "left_anti")
        else added
      case _ => lmScoreOf(
        Versioned.readAt(spark, lakeBase, "documents", v), lm)
    }
  }

  // -------------------------------------------------------------- q144
  /** Integer-exact multinomial Naive Bayes language classifier — the
    * shape of fastText's language-ID / quality-filter stage (Joulin
    * et al. 2017) reduced to its exactly-replayable core: train
    * class-conditional unigram models (one per `lang`) with add-one
    * smoothing over a shared top-[[NbVocabK]] vocabulary, score every
    * document under EVERY class by prior + likelihood surprisal, and
    * predict the argmin. All arithmetic is the q142 half-bit discrete
    * log — class priors included — so prediction, not just score,
    * replays bit-exactly cross-engine (a float NB can flip argmin in
    * the last ulp; an integer one cannot).
    *
    * Scale shape: ONE tokenize pass builds the (doc, lang, token, tf)
    * grain (map-side combine, localCheckpointed for its four
    * consumers); the vocabulary is a TakeOrderedAndProject cut; the
    * class-stat matrix is ≤ K·C rows and the prior/total frames C and
    * 1 rows — all broadcast. Scoring expands the grain C-fold (every
    * token priced under every class — the irreducible NB cost), but
    * the expansion is map-side (broadcast nested-loop against the
    * C-row class frame) feeding a (doc, class)-keyed partial agg; the
    * argmin is a doc_id-PARTITIONED window (never global). C = the
    * corpus's distinct langs, bounded by construction. */
  val NbVocabK = 2048
  def q144NbClassify(spark: SparkSession, dir: String): DataFrame = {
    val grain = docs(spark, dir)
      .select(col("doc_id"), col("lang"), explode(wordsCol).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // vocab + class stats + priors + scoring
    val vocab = grain.groupBy(col("token")).agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("token")).limit(NbVocabK)
      .select(col("token"))
    // class-conditional token counts over the shared vocab (≤ K·C
    // rows) and per-class token mass (C rows)
    val classCounts = grain.join(broadcast(vocab), Seq("token"))
      .groupBy(col("lang"), col("token")).agg(sum(col("tf")).as("cnt"))
      .select(col("lang").as("cls"), col("token"), col("cnt"))
    val classTotals = grain.groupBy(col("lang"))
      .agg(sum(col("tf")).as("tc"))
      .select(col("lang").as("cls"), col("tc"))
    // priors from document counts, same half-bit discipline
    val docCounts = grain.select(col("doc_id"), col("lang")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("ndocs"))
    val priors = docCounts
      .crossJoin(broadcast(docCounts.agg(sum(col("ndocs")).as("nd"))))
      .select(col("lang").as("cls"),
        least(expr("nd div ndocs"), lit(3000000000L)).as("qp"))
      .select(col("cls"),
        (length(bin(col("qp") * col("qp"))) - lit(1)).cast("long").as("ps"))
    // price every (token, class) pair: C-fold map-side expansion.
    // lang is DROPPED from the expansion (r22, the r21 "not yet"
    // note): it is functionally dependent on doc_id, so carrying it
    // through C×|grain| expansion rows and the (doc, cls) partial-agg
    // keys paid bytes for nothing — the truth label joins back ON THE
    // ARGMIN OUTPUT (|docs| rows), riding the doc_id partitioning the
    // window already established, against a narrow (doc_id, lang)
    // corpus projection. At 100 TB that swaps lang through C×|grain|
    // rows for one |docs|-narrow exchange.
    val perClass = grain.select(col("doc_id"), col("token"), col("tf"))
      .crossJoin(broadcast(classTotals))
      .join(broadcast(classCounts), Seq("cls", "token"), "left")
      .withColumn("qrec",
        least(expr(s"(tc + ${NbVocabK + 1}) div (coalesce(cnt, 0L) + 1)"),
          lit(3000000000L)))
      .withColumn("s",
        (length(bin(col("qrec") * col("qrec"))) - lit(1)).cast("long"))
      .groupBy(col("doc_id"), col("cls"))
      .agg(sum(col("tf") * col("s")).as("lsurp"))
      .join(broadcast(priors), "cls")
      .select(col("doc_id"), col("cls"),
        (col("lsurp") + col("ps")).as("surp"))
    // argmin per doc, ties to the lexicographically first class —
    // doc_id-partitioned window, C rows per partition key
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("surp"), col("cls"))
    perClass
      .withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") === 1)
      .join(docs(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("cls").as("pred"),
        col("surp"))
      .orderBy(col("doc_id"))
  }

  /** REST serving seam for the frozen-LM quality chain (`GET
    * /quality`): the tercile verdict at the corpus lake's CURRENT
    * version — a publish+maintain immediately changes what is served,
    * the /search contract. Unlike the batch queries' [[lmBucketsOf]]
    * (whose localCheckpoint is right when histogram and cut share one
    * ad-hoc computation), serving reads the STANDING artifact
    * directly: checkpointing here would pin the whole scored corpus
    * in executor memory per call, and worse, block the per-doc
    * filter from reaching the parquet scan — a materialization
    * barrier is a pushdown barrier. So: one artifact scan histograms
    * the bounded domain into the 1-row thresholds (global by
    * definition), and the doc probe is a second scan with the
    * doc_id predicate pushed to parquet plus a broadcast cross.
    * With a doc_id: that document's row (empty result = unknown id,
    * not an error). Without: the bucket distribution — three rows. */
  def qualityServe(spark: SparkSession, dir: String,
      docId: Option[Long]): DataFrame = {
    import graft.sources.Versioned
    val base = Dedup.versionedCorpus(spark, dir)
    val v = Versioned.currentVersion(spark, base).getOrElse(
      sys.error(s"quality: no committed version at $base"))
    val scored = lmScoresAt(spark, base, v)
      .withColumn("score_mhb", expr("surp * 1000 div n_tokens"))
    // thresholds are a pure function of the (immutable,
    // content-addressed) score artifact — memoize per artifact path
    // so a repeat call costs the doc probe only, never the histogram
    // scan (the /index/maintain repeat-call discipline)
    val key = lmScoreArtifact(base, v)
    val (t1, t2) = memo(lmThresholdCache, key) {
      val r = lmThresholdsOf(scored).head()
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))
    }
    import spark.implicits._
    val thresholds = // 1-row local frame: cutWith stays THE cut logic
      Seq((t1, t2)).toDF("t1", "t2")
    docId match {
      case Some(id) => cutWith(scored.filter(col("doc_id") === id), thresholds)
      case None => cutWith(scored, thresholds).groupBy(col("bucket"))
        .agg(count(lit(1)).as("n")).orderBy(col("bucket"))
    }
  }

  private val lmThresholdCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Option[Long], Option[Long])]()

  // -------------------------------------------------------------- q145
  /** BPE tokenizer training — Sennrich et al. 2016 ("Neural Machine
    * Translation of Rare Words with Subword Units"): learn the
    * [[BpeRounds]] most valuable byte-pair merges from the corpus's
    * word-frequency table. Classic BPE trains on the VOCABULARY, not
    * the corpus — one corpus pass builds (word, n), and every merge
    * round after that touches ≤ [[BpeWordCap]] rows (the top words by
    * count, the codebook-cut discipline of the LM/IVF families), so
    * training cost is decoupled from corpus size the same way a
    * centroid fit is.
    *
    * Determinism is the hard part, solved structurally: a word's
    * symbol sequence is encoded as a string with each symbol wrapped
    * in its own spaces (`'ab'` → `' a  b '`, adjacent symbols meeting
    * at a double space), so applying merge (x, y) is ONE literal
    * `replace(s, ' x  y ', ' xy ')` — and because both engines scan
    * left-to-right non-overlapping, the replacement IS the greedy
    * leftmost merge of standard BPE ('a a a' merges once), with each
    * consumed boundary space re-emitted so back-to-back pairs
    * ('x y x y') all merge in one round. Ties in the pair argmax
    * break on (count desc, left, right). The per-round argmax is a
    * 1-row collect (bounded, like the codebook collects); rounds that
    * exhaust all pairs stop early on both engines (the oracle's
    * exhaustion-safe LEFT JOIN keeps later stages alive with a
    * never-matching sentinel pattern).
    *
    * Output: the learned merge table (round, l, r, cnt) — the
    * tokenizer model itself, the artifact a training pipeline ships.
    * The oracle replays all [[BpeRounds]] rounds as chained CTEs. */
  val BpeRounds = 8
  val BpeWordCap = 8192
  private def spacedChars(c: Column): Column =
    regexp_replace(c, "(.)", " $1 ")

  /** The (word, n, spaced-symbols) training table — capped for
    * training ([[q145BpeMerges]]), uncapped for application
    * ([[q146BpeApply]]). */
  private def bpeWords(spark: SparkSession, dir: String,
      cap: Option[Int]): DataFrame =
    bpeWordsOf(docs(spark, dir), cap)

  /** The capped training table, exposed for `graft.Probe bpe`'s
    * loop-cost probe (which measures the merge loop in isolation from
    * the one distributed word-count scan). */
  private[graft] def bpeTrainingTable(spark: SparkSession,
      dir: String): DataFrame = bpeWords(spark, dir, Some(BpeWordCap))

  private def bpeWordsOf(d: DataFrame, cap: Option[Int]): DataFrame = {
    val w = d.select(explode(wordsCol).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    // the capped training table is collected ONCE by bpeTrain (the
    // merge loop runs in driver memory); the uncapped application
    // table is consumed once, lazily — neither needs pinning
    cap.fold(w)(k => w.orderBy(col("n").desc, col("word")).limit(k))
      .withColumn("s", spacedChars(col("word")))
  }

  /** Trained models memoized BY CONTENT ADDRESS ([[bpeModelArtifact]]
    * — rounds/cap/corpus-fingerprint), never by directory path: three
    * consumers (merge table, segmentation, fertility eval) sharing one
    * JVM must not retrain, but a dir-keyed memo would serve a STALE
    * tokenizer from a long-lived serving JVM after an in-place corpus
    * replacement at the same path (review finding, r15) — the
    * fingerprint key makes that a miss, exactly like
    * [[lmThresholdCache]]'s artifact keys. */
  private val bpeModels =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String, Long)]]()

  /** The persisted tokenizer model of a corpus dir: the merge table
    * as a content-addressed artifact (round/cap/corpus-fingerprint in
    * the address — a parameter or corpus change is a new artifact,
    * the LM/IVF/PQ codebook discipline). The in-JVM memo above is a
    * read-through cache; the artifact is what lets a later JVM (a
    * serving process, the next verify run) consume the tokenizer
    * without retraining it. */
  private[graft] def bpeModelArtifact(spark: SparkSession,
      dir: String): String = {
    val key = graft.Tables.fileFingerprint(spark, s"$dir/documents.parquet")
    s"${Dedup.indexBase}/bpe-r$BpeRounds-k$BpeWordCap-$key"
  }

  private[graft] def bpeLearn(spark: SparkSession, dir: String)
      : Seq[(String, String, Long)] = {
    val art = bpeModelArtifact(spark, dir)
    memo(bpeModels, art) {
      import spark.implicits._
      graft.sources.ArtifactStore.readOrPublish(spark, art) {
          bpeTrain(bpeWords(spark, dir, Some(BpeWordCap))).zipWithIndex
            .map { case ((l, r, c), i) => ((i + 1).toLong, l, r, c) }
            .toDF("round", "l", "r", "cnt")
        }
        .orderBy(col("round")).collect()
        .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    }
  }

  /** Train on an arbitrary documents frame, memoized under `key` —
    * [[q148BpeDrift]] freezes a model on the standing slice only.
    * `key` must be CONTENT-ADDRESSED by the caller (a fingerprinted
    * artifact path + slice tag), per [[bpeModels]]'s contract. */
  private[graft] def bpeLearnOn(key: String, d: => DataFrame)
      : Seq[(String, String, Long)] =
    memo(bpeModels, key)(bpeTrain(bpeWordsOf(d, Some(BpeWordCap))))

  /** One tokenized word: its subwords in order and their model-stable
    * ids. A single-codepoint subword's id is its codepoint; a merged
    * symbol's id is `0x110000 + round - 1` (beyond the Unicode range,
    * so the two spaces can never collide), keyed by the FIRST round
    * that produced the symbol string. */
  final case class Tokenized(word: String, subwords: Seq[String],
      ids: Seq[Long])

  /** Serve the corpus dir's standing tokenizer over raw text (r18,
    * the train→apply→serve completion for the BPE family — BM25/ANN's
    * `/search`//`/knn` posture): segmentation runs DRIVER-SIDE against
    * the memoized, content-addressed merge table ([[bpeLearn]] — a
    * corpus replacement at the same path is a model MISS, never a
    * stale tokenizer), so a request after warm-up runs ZERO Spark
    * jobs. The per-word fold is `String.replace` in learned order —
    * bit-identical to [[graft.functions.BpeApply]]'s corpus-scan
    * kernel and the training loop by construction; the spaced-symbol
    * encoding mirrors `spacedChars` (one " c " per CODEPOINT — Java
    * regex "." matches whole surrogate pairs, so astral chars are one
    * symbol there and must be here too). Returns (model content
    * address, merge count, per-word segmentations). */
  /** Serving kit for one tokenizer model: the replace tables and the
    * merged-symbol id map, memoized BY CONTENT ADDRESS — rebuilding
    * the id map per request is O(vocabulary), which at a real 32k
    * vocabulary would dominate the per-request cost; keyed like
    * [[bpeModels]], so a corpus replacement is a kit MISS, never a
    * stale tokenizer. */
  private val tokenizeKits = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[String], Array[String], Map[String, Long])]()

  def tokenizeText(spark: SparkSession, dir: String, text: String)
      : (String, Int, Seq[Tokenized]) = {
    val artPath = bpeModelArtifact(spark, dir)
    val art = new org.apache.hadoop.fs.Path(artPath).getName
    val (pats, reps, idOf) =
      memo(tokenizeKits, artPath)(tokenizeKitOf(bpeLearn(spark, dir)))
    val words = text.split("\\s+").filter(_.nonEmpty).toSeq
    val toks = words.map(tokenizeWord(pats, reps, idOf, _))
    (art, pats.length, toks)
  }

  /** One model's serving kit from its learned merges: replace tables
    * in learned order + the merged-symbol id map (id = 0x110000 +
    * round - 1, first-producing round wins). Shared by [[tokenizeText]]
    * and [[graft.BpeEncodeSpec]]'s driver-side reference fold. */
  private[graft] def tokenizeKitOf(merges: Seq[(String, String, Long)])
      : (Array[String], Array[String], Map[String, Long]) = {
    val idB = scala.collection.mutable.HashMap.empty[String, Long]
    merges.zipWithIndex.foreach { case ((l, r, _), i) =>
      if (!idB.contains(l + r)) idB(l + r) = 0x110000L + i
    }
    (merges.map { case (l, r, _) => s" $l  $r " }.toArray,
      merges.map { case (l, r, _) => s" $l$r " }.toArray,
      idB.toMap)
  }

  /** The per-word serving fold: spaced-codepoint encode, replace in
    * learned order, symbol→id. THE reference semantics
    * [[graft.functions.BpeEncode]]'s distributed kernel must match. */
  private[graft] def tokenizeWord(pats: Array[String], reps: Array[String],
      idOf: Map[String, Long], w: String): Tokenized = {
    val sb = new java.lang.StringBuilder(w.length * 3)
    w.codePoints().forEach { cp =>
      sb.append(' ').append(Character.toChars(cp)).append(' '); ()
    }
    var s = sb.toString
    var i = 0
    while (i < pats.length) { s = s.replace(pats(i), reps(i)); i += 1 }
    val subs = s.trim.split("  ").toSeq
    Tokenized(w, subs, subs.map(sym =>
      idOf.getOrElse(sym, sym.codePointAt(0).toLong)))
  }

  /** The merge loop behind q145–q148, IN DRIVER MEMORY. The
    * distributed part of BPE training is the one corpus scan that
    * built the (word, n) table feeding `state0`; the state itself is
    * ≤ [[BpeWordCap]] rows BY CONSTRUCTION, so the per-round
    * pair-count/argmax/replace is an in-memory-sized problem — one
    * bounded collect here, then `rounds` rounds of plain Scala. The
    * r15 shape (one Spark job per round) was correct but the wrong
    * substrate: at a realistic 32k-merge vocabulary it is 32,000
    * sequential job LAUNCHES — days of scheduler overhead for kilobytes
    * of state (`graft.Probe bpe` measures the difference at 512
    * rounds). Semantics are bit-identical to the Spark loop and the
    * oracle's chained CTEs: `String.replace` IS the same literal
    * leftmost non-overlapping scan as Spark's `replace`, and ties in
    * the argmax break on (count desc, l, r) under unsigned UTF-8 byte
    * order — Spark's and DuckDB's string order, NOT
    * `String.compareTo`'s UTF-16 code units ([[KernelPropertySpec]]
    * pins the loop against an independent index-scan implementation). */
  private[graft] def bpeTrain(state0: DataFrame, rounds: Int = BpeRounds)
      : Seq[(String, String, Long)] = {
    // ≤ BpeWordCap rows by construction — a bounded collect
    var state: Array[(String, Long)] = state0.select(col("s"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    for (_ <- 1 to rounds if !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      state.foreach { case (s, n) =>
        val syms = s.trim.split("  ")
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.reduce { (a, b) =>
          val cmp =
            if (a._2 != b._2) if (a._2 > b._2) -1 else 1
            else {
              val lc = utf8Compare(a._1._1, b._1._1)
              if (lc != 0) lc else utf8Compare(a._1._2, b._1._2)
            }
          if (cmp <= 0) a else b
        }
        merges += ((l, r, c))
        val pat = s" $l  $r "; val rep = s" $l$r "
        state = state.map { case (s, n) => (s.replace(pat, rep), n) }
      }
    }
    merges.toSeq
  }

  /** Unsigned UTF-8 byte comparison — the string order Spark's
    * UTF8String and DuckDB's memcmp both use; `String.compareTo`
    * (UTF-16 code units) disagrees beyond the BMP. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Apply the learned merges over a frame carrying the spaced-symbol
    * column `s` — THE merge-application site (q146/q147/q148): the
    * double-space encoding and the literal-replace semantics live
    * here once, mirrored only by the oracle generator's chain. ONE
    * [[graft.functions.BpeApply]] expression holding the whole merge
    * table, not a fold of per-merge `replace` nodes: the apply path
    * is the corpus-wide scan, and the fold's plan grew linearly in
    * vocabulary size — superlinear analysis cost and an interpreted
    * codegen fallback at a real 32k vocabulary (review finding, r16).
    * Plan size is now O(1) in merges; per-row cost unchanged. */
  private def applyMerges(d: DataFrame,
      merges: Seq[(String, String, Long)]): DataFrame =
    d.withColumn("s", graft.functions.BpeApply.applyBpe(col("s"),
      merges.map { case (l, r, _) => (l, r) }))

  /** The per-key fertility aggregate shared by q147 (key = lang) and
    * q148 (key = cls): subwords/word and chars/subword in exact ppm
    * over a segmented (key, word, n, s) frame. */
  private def fertilityBy(segmented: DataFrame, key: String): DataFrame =
    segmented
      .select(col(key), col("n"),
        size(split(trim(col("s")), "  ")).cast("long").as("sub"),
        length(col("word")).cast("long").as("chars"))
      .groupBy(col(key))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("sub")).as("n_subwords"),
        sum(col("n") * col("chars")).as("n_chars"))
      .withColumn("fertility_ppm",
        expr("n_subwords * 1000000 div n_words"))
      .withColumn("chars_per_sub_ppm",
        expr("n_chars * 1000000 div n_subwords"))
      .orderBy(col(key))

  def q145BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeLearn(spark, dir).zipWithIndex
      .map { case ((l, r, c), i) => ((i + 1).toLong, l, r, c) }
      .toDF("round", "l", "r", "cnt")
      .orderBy(col("round"))
  }

  // -------------------------------------------------------------- q146
  /** Apply the learned BPE model corpus-wide: segment EVERY distinct
    * word (no cap — train on the head, apply everywhere) by folding
    * the [[q145BpeMerges]] merges in learned order, then report the
    * top-100 subword tokens by corpus occurrence count. The
    * application is ONE [[graft.functions.BpeApply]] expression over
    * the (word, n) table (r17: plan size O(1) in vocabulary) —
    * segmenting a 100 TB corpus is a scan whose per-row cost is the
    * merge count, with no shuffle beyond the final bounded token
    * aggregate and TakeOrdered head. */
  def q146BpeApply(spark: SparkSession, dir: String): DataFrame =
    applyMerges(bpeWords(spark, dir, None), bpeLearn(spark, dir))
      .select(col("n"), explode(split(trim(col("s")), "  ")).as("token"))
      .groupBy(col("token")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(100)

  // -------------------------------------------------------------- q147
  /** Tokenizer fertility evaluation — the metric multilingual
    * tokenizer teams actually track (subwords emitted per word, and
    * characters absorbed per subword, per language): a tokenizer
    * trained on a mixed corpus systematically over-fragments the
    * languages under-represented in its training head, and fertility
    * disparity is how that shows up before any model is trained.
    * Integer-exact in parts-per-million:
    *
    *   fertility_ppm   = Σ n·subwords(w) · 10⁶ div Σ n
    *   chars_per_sub_ppm = Σ n·chars(w) · 10⁶ div Σ n·subwords(w)
    *
    * under the [[q145BpeMerges]] model (trained on the GLOBAL word
    * head, applied per (lang, word) — the train-on-head
    * apply-everywhere posture q146 established). Scale shape: one
    * corpus pass builds the (lang, word, n) grain; segmentation is
    * the same single map-side [[graft.functions.BpeApply]] kernel;
    * the result is one bounded per-lang aggregate. No joins, no
    * windows. */
  def q147BpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val grain = docs(spark, dir)
      .select(col("lang"), explode(wordsCol).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n"))
      .withColumn("s", spacedChars(col("word")))
    fertilityBy(applyMerges(grain, bpeLearn(spark, dir)), "lang")
  }

  // -------------------------------------------------------------- q148
  /** Tokenizer drift probe — [[q147BpeFertility]]'s metric under a
    * model FROZEN on the standing corpus slice, evaluated side by
    * side on standing vs fresh-delta documents (the same md5-uniform
    * split every maintenance fixture uses: delta = u < 0.1). A
    * production tokenizer is trained once and applied to every later
    * crawl; its fertility on data it never saw is the signal that
    * says when the frozen vocabulary has gone stale — the
    * tokenizer-side twin of q125's sketch-drift probe. The fertility
    * GAP (delta − standing) is the drift; on a shifted corpus it
    * rises because unseen character sequences fall back to finer
    * segmentation. Same scale shape as q147: one grain pass, one
    * map-side BpeApply kernel, a 2-row aggregate. */
  def q148BpeDrift(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeLearnOn(s"${bpeModelArtifact(spark, dir)}#standing",
      docs(spark, dir).filter(uniformKeyOf(col("doc_id")) >= lit(0.1)))
    val grain = docs(spark, dir)
      .select(
        when(uniformKeyOf(col("doc_id")) >= lit(0.1), lit("standing"))
          .otherwise(lit("delta")).as("cls"),
        explode(wordsCol).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("cls"), col("word")).agg(count(lit(1)).as("n"))
      .withColumn("s", spacedChars(col("word")))
    fertilityBy(applyMerges(grain, merges), "cls")
  }

  // -------------------------------------------------------------- q158
  /** Fixed probe words for the tokenizer-serving oracle: a common
    * English word (merges under most corpora), a repeated-pair word,
    * a rare-letter word (stays near character-level), and a non-ASCII
    * word (codepoint-id path). Constants — the oracle must replay the
    * EXACT same probes. */
  private val TokenizeProbes =
    Seq("the", "abab", "aqzwx", "ñandú")

  /** The tokenizer SERVING kernel under the oracle gate (r18): the
    * same driver-side segmentation `POST /tokenize` serves
    * ([[tokenizeText]] — `String.replace` in learned order over the
    * spaced-symbol encoding, ids = codepoint | 0x110000+round), run
    * over [[TokenizeProbes]] against the corpus dir's standing model,
    * exploded to (word, pos, subword, id) rows. The DuckDB oracle
    * retrains the model with the shared chained CTEs and replays the
    * probe segmentation + id assignment in SQL, so a hash match
    * proves the serving path end-to-end — train, apply, AND the id
    * scheme — not just the corpus-scan kernel (q146). Driver-side by
    * design: serving a request is zero Spark jobs; the distributed
    * part (training's one corpus scan) is q145's. */
  def q158TokenizeServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, _, toks) = tokenizeText(spark, dir, TokenizeProbes.mkString(" "))
    toks.flatMap(t => t.subwords.zip(t.ids).zipWithIndex.map {
        case ((s, id), i) => (t.word, i.toLong, s, id)
      })
      .toDF("word", "pos", "subword", "id")
      .orderBy(col("word"), col("pos"))
  }

  /** q158's chain source: the probe words as literal values. */
  private def tokenizeProbeCtes: String = bpeChainCtes("pw", "word",
    s""",
       |probes AS (SELECT * FROM (VALUES ${TokenizeProbes.map(w =>
          s"('$w')").mkString(", ")}) AS t(word))""".stripMargin,
    "probes")

  // -------------------------------------------------------------- q159
  /** The packed-sequence separator id: one reserved value above the
    * whole model id space (codepoints end at 0x10FFFF; merge ids are
    * 0x110000 + round, so 0x200000 is clear for any vocabulary under
    * 983,040 merges — far past real tokenizers). */
  val EosId: Long = 0x200000L

  /** Corpus-scale token-ID encoding — THE tokenize-for-training step
    * (r19, the train→apply→serve family's corpus face): every
    * document's text becomes its `array<bigint>` token ids under the
    * standing model via ONE codegen'd [[graft.functions.BpeEncode]]
    * kernel — a pure map over the corpus, no shuffle, plan size O(1)
    * in vocabulary. Ids follow [[tokenizeText]]'s scheme exactly
    * (codepoint | 0x110000+round), so `POST /tokenize` and the
    * training shards can never disagree. The ids surface here as a
    * CSV projection only for the oracle hash; [[q160PackIds]] consumes
    * the same arrays to build real packed training sequences.
    *
    * Scale shape: segmentation cost is per DISTINCT word thanks to the
    * kernel's Zipf memo; the only post-scan work is a per-row
    * projection. At 100 TB this is scan-bound — exactly what a
    * tokenize pass should be. */
  def q159TokenIds(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeLearn(spark, dir).map { case (l, r, _) => (l, r) }
    docs(spark, dir)
      // zero-token docs (empty/whitespace-only text) are outside the
      // corpus-encoding contract, matching the oracle's word-position
      // join exactly (advice-low, r19) — and what q160/q161 consume.
      // The predicate is `has a word` (≡ n_tokens > 0: every word
      // yields ≥ 1 id) spelled on the RAW text: a `n_tokens > 0`
      // filter above the projection gets pushed BELOW it with the
      // alias re-substituted, running the encode kernel twice per row
      .filter(col("text").rlike("\\S"))
      .select(col("doc_id"),
        graft.functions.BpeEncode.encodeIds(col("text"), merges).as("ids"))
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"),
        array_join(transform(col("ids"), _.cast("string")), ",")
          .as("ids_csv"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------- q160
  /** Sequence packing over REAL token ids — [[q57PackBins]]'s bin
    * assignment and [[q63PackConcat]]'s materialization re-based from
    * whitespace-token proxies onto the model's actual ids
    * ([[q159TokenIds]]): budgets count model tokens, and each
    * (source, bin) emits its packed id sequence with [[EosId]] between
    * documents — the artifact a trainer memory-maps. Same determinism
    * discipline as q63 (struct array_sort on unique doc_id; the
    * oracle's `string_agg ... ORDER BY`), same per-source scoping so
    * the running sum never serializes globally; per-group state stays
    * O(budget). */
  def q160PackIds(spark: SparkSession, dir: String, budget: Int = 512)
      : DataFrame = {
    val merges = bpeLearn(spark, dir).map { case (l, r, _) => (l, r) }
    // zero-token documents (empty/whitespace-only text) are OUT of the
    // packing contract — on both sides: the DuckDB oracle's docids CTE
    // joins through word positions and so never sees them, and a
    // training shard has no use for a contentless document (advice-low,
    // r19; BpeEncodeSpec's empty-doc fixture pins the edge). Spelled on
    // the raw text (q159's pushdown note) so the encode runs once.
    // Deliberately NOT materialized and NOT spread (r21, measured —
    // packFixedParts' note): checkpoint and spread both cost more
    // here than the memo-warm second encode they'd save.
    val d = docs(spark, dir).filter(col("text").rlike("\\S"))
      .select(col("doc_id"), col("source"),
        graft.functions.BpeEncode.encodeIds(col("text"), merges).as("ids"))
      .select(col("doc_id"), col("source"),
        size(col("ids")).cast("long").as("n_tokens"),
        array_join(transform(col("ids"), _.cast("string")), ",")
          .as("ids_csv"))
    // The per-source exclusive running sum runs over a SKINNY
    // projection — (source, doc_id, n_tokens), ~24 B/row — and the
    // resulting bin assignment hash-joins back to the id payload at
    // doc grain (VERDICT r19 #1): WindowExec sorts its child's
    // COMPLETE rows in ONE task per partition key, so a window whose
    // frame carries ids_csv makes one task per source sort that
    // source's entire encoded corpus. Skinny rows sort fine at any
    // corpus size (billions of docs ≈ tens of GB spread over sources);
    // the payload only ever moves through fully-parallel hash
    // exchanges.
    val excl = coalesce(
      sum(col("n_tokens")).over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    val bins = d.select(col("source"), col("doc_id"), col("n_tokens"))
      .withColumn("bin", floor(excl / lit(budget.toLong)))
      .select(col("source"), col("doc_id"), col("bin"))
    d.join(bins, Seq("source", "doc_id"))
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("ids_csv")))),
            x => x.getField("ids_csv")),
          s",$EosId,").as("packed_ids"))
      .orderBy(col("source"), col("bin"))
  }

  // -------------------------------------------------------------- q161
  /** FIXED-length sequence packing with document SPLITTING — the
    * exact shard shape a trainer consumes: per source, the token-id
    * stream (documents in doc_id order, [[EosId]] after each) is cut
    * into sequences of exactly `seqLen` ids, documents split across
    * sequence boundaries (GPT-style packing; [[q160PackIds]]'s
    * greedy doc-granularity bins never split and so under-fill).
    * Every sequence except each source's last carries exactly
    * `seqLen` ids — the spec asserts it; the tail keeps its honest
    * length rather than inventing padding.
    *
    * Scale shape: NO token-grain shuffle. Each document computes its
    * stream offset from a per-source doc-grain running sum (one
    * window over doc rows), then explodes into only the 1 + ⌊n/L⌋
    * sequences it overlaps, contributing an `slice(ids)` segment to
    * each — the exchange stays at (doc, overlapped-seq) grain, and
    * the per-(source, seq) group holds ≤ seqLen ids by construction
    * (skew-proof however large a source or document is). */
  /** Thread-local collector of checkpointed intermediates: a serving
    * handler (`GET /pack/stats`) installs a buffer, the pack family
    * registers every localCheckpoint it creates on that thread, and
    * the handler unpersists EXACTLY those RDDs on the way out —
    * replacing the pre/post diff of the context-global persistent-RDD
    * registry, which raced with concurrent requests and could evict
    * an in-flight query's lineage-truncated blocks (ADVICE r20
    * medium). Null (no buffer installed) for every batch/bench
    * caller, whose cleanup discipline is Bench.once's snapshot. */
  private[graft] val checkpointTracker =
    new ThreadLocal[scala.collection.mutable.Buffer[
      org.apache.spark.sql.Dataset[_]]]
  private def trackedCheckpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    Option(checkpointTracker.get()).foreach(_ += out)
    out
  }

  /** The (source, doc_id, seq, part, off) grain behind q161/q162:
    * each document's token ids + EOS explode into the fixed-length
    * sequences the doc overlaps, with its segment (`part`) and the
    * segment's offset within the sequence (`off`). */
  private def packFixedParts(spark: SparkSession, dir: String, L: Long)
      : DataFrame = {
    val merges = bpeLearn(spark, dir).map { case (l, r, _) => (l, r) }
    // zero-token docs out of the stream, both sides — q160's contract
    // (raw-text spelling per q159's pushdown note). Deliberately NOT
    // materialized and NOT spread (r21, both measured): the encode is
    // memo-warm cheap at bench scale, so a localCheckpoint costs more
    // than the second encode pass it saves, and a spread repartition
    // added a text shuffle under BOTH self-join branches. The real
    // retirement of the double encode is the ids-input seam VERDICT
    // r20 names (read token ids from the lake; zero encode passes).
    val d = docs(spark, dir).filter(col("text").rlike("\\S"))
      .select(col("doc_id"), col("source"),
        graft.functions.BpeEncode.encodeIds(col("text"), merges).as("ids"))
      .select(col("doc_id"), col("source"), col("ids"),
        size(col("ids")).cast("long").as("n"))
    // stream offset: docs occupy [start, start + n] (ids then EOS).
    // Same skinny-window + doc-grain-join shape as q160 (VERDICT r19
    // #1): the running sum sorts only (source, doc_id, n) rows, never
    // the id arrays — no per-source task ever holds a source's full
    // token payload in a sort buffer.
    val start = coalesce(
      sum(col("n") + 1).over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    val offsets = d.select(col("source"), col("doc_id"), col("n"))
      .withColumn("start", start)
      .select(col("source"), col("doc_id"), col("start"))
    d.join(offsets, Seq("source", "doc_id"))
      .withColumn("ext", concat(col("ids"), array(lit(EosId))))
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
      .withColumn("off",
        greatest(col("start") - col("seq") * lit(L), lit(0L)))
  }

  def q161PackFixed(spark: SparkSession, dir: String, seqLen: Int = 256)
      : DataFrame = {
    val L = seqLen.toLong
    packFixedParts(spark, dir, L)
      // `off` (from the shared grain): where each document's segment
      // begins WITHIN the sequence — the attention-mask boundaries a
      // trainer needs alongside the ids (0 for a continuation
      // segment that opens the sequence)
      .groupBy(col("source"), col("seq"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("part")).cast("long")).as("n_ids"),
        array_join(
          transform(
            flatten(transform(
              array_sort(collect_list(struct(col("doc_id"), col("part")))),
              x => x.getField("part"))),
            _.cast("string")),
          ",").as("ids_csv"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("off")))),
            x => x.getField("off").cast("string")),
          ",").as("bounds_csv"))
      .orderBy(col("source"), col("seq"))
  }

  // -------------------------------------------------------------- q162
  /** Packing-efficiency audit — the monitoring face of the packing
    * ladder (q82's posture for IVF, here for training shards): per
    * source, how well [[q161PackFixed]]'s fixed-length sequences are
    * used. Trainer teams track exactly these: sequence count, total
    * stream tokens, how many sequences are FULL (every one but each
    * source's tail, by construction — the audit proves the invariant
    * corpus-wide rather than assuming it), fill rate in exact ppm,
    * and how many documents SPLIT across a boundary (the
    * attention-mask cost of fixed-length packing; greedy q160 bins
    * trade it for under-fill). Same grain as q161, re-aggregated —
    * one extra bounded pass, no new corpus scan shape. */
  def q162PackStats(spark: SparkSession, dir: String, seqLen: Int = 256)
      : DataFrame = {
    val L = seqLen.toLong
    // drop the id arrays BEFORE the checkpoint: the audit needs only
    // segment sizes, and the two consumers (per-seq and per-doc
    // aggregates) must not each re-run the encode+window+explode
    // chain — one corpus pass materializes the ~24-byte/row grain
    // (q90's two-consumer idiom)
    val grain = trackedCheckpoint(packFixedParts(spark, dir, L)
      .select(col("source"), col("doc_id"), col("seq"),
        size(col("part")).cast("long").as("p_ids")))
    val perSeq = grain.groupBy(col("source"), col("seq"))
      .agg(sum(col("p_ids")).as("seq_ids"))
    val perDoc = grain.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_seqs_of_doc"))
    val seqStats = perSeq.groupBy(col("source")).agg(
      count(lit(1)).as("n_seqs"),
      sum(col("seq_ids")).as("n_stream_ids"),
      sum(when(col("seq_ids") === L, 1L).otherwise(0L)).as("full_seqs"))
    val docStats = perDoc.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("n_seqs_of_doc") > 1, 1L).otherwise(0L))
        .as("split_docs"))
    seqStats.join(docStats, Seq("source"))
      .withColumn("fill_ppm",
        // the ×10⁶ blow-up runs in DECIMAL(38,0): in bigint it wraps
        // silently (non-ANSI) past ~9.2e12 stream tokens — inside the
        // corpus sizes this audit targets (ADVICE r20 low). `div`
        // truncates identically on decimal and bigint operands, and
        // IntegralDivide returns BIGINT either way, so the value and
        // schema are unchanged wherever the old form didn't wrap.
        expr(s"cast(n_stream_ids as decimal(38,0)) * 1000000" +
          s" div (n_seqs * $L)"))
      .select(col("source"), col("n_seqs"), col("n_stream_ids"),
        col("full_seqs"), col("n_docs"), col("split_docs"),
        col("fill_ppm"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_pack_stats"     -> ((s: SparkSession, d: String) => q162PackStats(s, d)),
    "q161_pack_fixed"     -> ((s: SparkSession, d: String) => q161PackFixed(s, d)),
    "q159_token_ids"      -> (q159TokenIds _),
    "q160_pack_ids"       -> ((s: SparkSession, d: String) => q160PackIds(s, d)),
    "q158_tokenize_serve" -> (q158TokenizeServe _),
    "q148_bpe_drift"      -> (q148BpeDrift _),
    "q147_bpe_fertility"  -> (q147BpeFertility _),
    "q146_bpe_apply"      -> (q146BpeApply _),
    "q145_bpe_merges"     -> (q145BpeMerges _),
    "q144_nb_classify"    -> (q144NbClassify _),
    "q143_incr_lm"        -> (q143IncrLmBucket _),
    "q142_lm_bucket"      -> (q142LmBucket _),
    "q137_dsir_select"    -> (q137DsirSelect _),
    "q141_incr_dsir"      -> (q141IncrDsir _),
    "q95_subword_count"   -> (q95SubwordCount _),
    "q96_subword_budget"  -> (q96SubwordBudget _),
    "q93_distinct_ngrams" -> (q93DistinctNgrams _),
    "q91_char_chisq"    -> (q91CharChisq _),
    "q90_vocab_growth"  -> (q90VocabGrowth _),
    "q53_decontaminate" -> (q53Decontaminate _),
    "q60_bloom_decontam" -> (q60BloomDecontam _),
    "q110_window_decontam" -> (q110WindowDecontam _),
    "q111_epoch_shuffle" -> ((s: SparkSession, d: String) => q111EpochShuffle(s, d)),
    "q64_contam_attr"   -> (q64ContamAttribution _),
    "q54_sample_mix"    -> (q54SampleMix _),
    "q55_source_cap"    -> ((s: SparkSession, d: String) => q55SourceCap(s, d)),
    "q56_chunk_dedup"   -> ((s: SparkSession, d: String) => q56ChunkDedup(s, d)),
    "q57_pack_bins"     -> ((s: SparkSession, d: String) => q57PackBins(s, d)),
    "q63_pack_concat"   -> ((s: SparkSession, d: String) => q63PackConcat(s, d)),
    "q48_vocab"         -> ((s: SparkSession, d: String) => q48Vocab(s, d)),
    "q101_inverted_index" -> ((s: SparkSession, d: String) => q101InvertedIndex(s, d)),
    "q121_bm25_topk"    -> ((s: SparkSession, d: String) => q121Bm25Topk(s, d)),
    "q128_bm25_grain"   -> ((s: SparkSession, d: String) => q128Bm25FromGrain(s, d)),
    "q129_bm25_removal" -> ((s: SparkSession, d: String) => q129Bm25Removal(s, d)),
    "q130_bm25_search"  -> ((s: SparkSession, d: String) => q130SearchBm25(s, d)),
    "q131_bm25_serve"   -> ((s: SparkSession, d: String) => q131Bm25Serve(s, d)),
    "q122_incr_tf_index" -> (q122IncrTfIndex _),
    "q126_tombstone_index" -> (q126TombstoneIndex _),
    "q123_incr_vocab"   -> ((s: SparkSession, d: String) => q123IncrVocab(s, d)),
    "q46_pii_scrub"     -> (q46PiiScrub _),
    "q47_boilerplate"   -> ((s: SparkSession, d: String) => q47BoilerplateStrip(s, d)),
    "q43_repetition"    -> (q43Repetition _),
    "q104_repetition_mass" -> (q104RepetitionMass _),
    "q65_gopher_gate"   -> (q65GopherGate _),
    "q66_composition"   -> (q66Composition _),
    "q67_freq_spectrum" -> (q67FreqSpectrum _),
    "q74_mixture_plan"  -> (q74MixturePlan _),
    "q75_chunk_windows" -> (q75ChunkWindows _),
    "q77_quantile_gate" -> (q77QuantileGate _),
    "q79_token_budget"  -> (q79TokenBudget _),
    "q84_keywords"      -> (q84Keywords _),
    "q33_prep_pipeline" -> (q33PrepPipeline _),
    "q13_token_count"   -> (q13TokenCount _),
    "q14_quality_score" -> (q14QualityScore _),
    "q61_quality_gate"  -> (q61QualityGate _),
    "q15_lang_id"       -> (q15LangId _),
    "q16_fingerprint"   -> (q16Fingerprint _),
    "q17_exact_dedup"   -> (q17ExactDedup _))

  private val compositionOracleSql =
    """WITH t AS (
      | SELECT source, lang,
      |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok
      | FROM documents),
      |c AS (
      | SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      | FROM t GROUP BY source, lang)
      |SELECT source, lang, n_docs, n_tokens,
      | CAST(n_tokens AS DOUBLE)
      |  / CAST((SELECT SUM(n_tokens) FROM c) AS DOUBLE) AS token_share
      |FROM c ORDER BY source, lang""".stripMargin

  // q53: same guarded 3-gram construction as the q18 oracle; the
  // eval set is the doc_id % 50 = 0 slice; per-doc gram lists are
  // list_distinct so count(*) is the distinct overlap. Shared with
  // q60, whose Bloom-prefiltered plan must produce the identical
  // flag set (no false negatives + exact verify join).
  private val decontamOracleSql =
    """WITH w AS (
        | SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |g AS (
        | SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3 THEN
        |   list_transform(range(1, len(ws) - 1),
        |     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |  ELSE [] END) AS gs FROM w),
        |ev AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 50 = 0),
        |cg AS (SELECT doc_id, unnest(gs) AS g FROM g WHERE doc_id % 50 <> 0),
        |h AS (SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n
        |      FROM cg JOIN ev ON cg.g = ev.g GROUP BY cg.doc_id)
        |SELECT d.doc_id, COALESCE(h.n, 0) AS n_shared_ngrams,
        | COALESCE(h.n, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
        |LEFT JOIN h ON h.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin

  /** Shared CTE chain for the subword oracles: vocabulary = exact
    * top-K n-grams (same K/lengths/tiebreak as [[subwordVocabLit]]);
    * the greedy longest-match walk is a recursive CTE over DISTINCT
    * words (pos advances by the longest matching vocab gram, else 1),
    * joined back per document. Must be prefixed by `WITH RECURSIVE`. */
  private val subwordCtes =
    s"""wl AS (
       | SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
       | FROM documents),
       |wl2 AS (SELECT doc_id, w FROM wl WHERE length(w) > 0),
       |grams AS (
       | SELECT substr(w, p.p, ns.n) AS gram, CAST(count(*) AS BIGINT) AS cnt
       | FROM wl2
       | CROSS JOIN LATERAL (SELECT unnest(generate_series(1, length(w))) AS p) p
       | CROSS JOIN (VALUES ${SubwordNgramLens.map(n => s"($n)").mkString(",")}) ns(n)
       | WHERE p.p + ns.n - 1 <= length(w)
       | GROUP BY 1),
       |vocab AS (SELECT gram FROM grams ORDER BY cnt DESC, gram LIMIT $SubwordVocabK),
       |dw AS (SELECT DISTINCT w FROM wl2),
       |walk AS (
       | SELECT w, 1 AS pos, 0 AS cnt FROM dw
       | UNION ALL
       | SELECT w,
       |  pos + COALESCE((SELECT MAX(length(v.gram)) FROM vocab v
       |                  WHERE v.gram = substr(walk.w, walk.pos, length(v.gram))), 1),
       |  cnt + 1
       | FROM walk WHERE pos <= length(w)),
       |wcnt AS (SELECT w, MAX(cnt) AS n_sub FROM walk GROUP BY w),
       |per_doc AS (
       | SELECT wl2.doc_id, CAST(SUM(wcnt.n_sub) AS BIGINT) AS n_subwords,
       |  CAST(COUNT(*) AS BIGINT) AS n_words
       | FROM wl2 JOIN wcnt USING (w) GROUP BY wl2.doc_id)""".stripMargin

  /** q48's vocabulary replay — shared verbatim by q123, whose
    * maintained-grain derivation must land on exactly this table. */
  private val q48OracleSql: String =
    """WITH t AS (
      | SELECT unnest(string_split_regex(text, '\s+')) AS token
      | FROM documents),
      |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
      |      FROM t GROUP BY token)
      |SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank,
      |       token, n
      |FROM c ORDER BY n DESC, token LIMIT 100""".stripMargin

  /** q101's full inverted-index replay over an arbitrary source —
    * shared verbatim by q122 (maintained grain must land on exactly
    * this index) and q126 (ditto, over the surviving documents only).
    * The [[graft.queries.Dedup]] q18/q114 sharing precedent. */
  private def q101OracleOver(src: String): String =
    s"""WITH tf AS (
      | SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      | FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      |       FROM $src)
      | GROUP BY term, doc_id),
      |p AS (
      | SELECT term, doc_id, tf,
      |  row_number() OVER (PARTITION BY term
      |    ORDER BY tf DESC, doc_id) AS r
      | FROM tf),
      |post AS (
      | SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY r)
      |   AS postings
      | FROM p WHERE r <= 10 GROUP BY term),
      |s AS (
      | SELECT term, CAST(count(*) AS BIGINT) AS df,
      |  CAST(sum(tf) AS BIGINT) AS tf_total
      | FROM tf GROUP BY term),
      |h AS (
      | SELECT s.term, s.df, s.tf_total, post.postings,
      |  row_number() OVER (ORDER BY s.df DESC, s.term) AS hr
      | FROM s JOIN post ON s.term = post.term)
      |SELECT term, df, tf_total, postings
      |FROM h WHERE hr <= 300 ORDER BY df DESC, term""".stripMargin

  private val q101OracleSql: String = q101OracleOver("documents")

  /** The BM25 from-scratch replay over corpus relation `rel` — shared
    * VERBATIM (over `documents`) by q121 (inline grain) and q128
    * (maintained-grain serving), and over the survivor subquery by
    * q129 (post-removal serving): same tokenization as q101; integer
    * BM25 — every per-term score is one BIGINT floor division (`//`
    * here, `DIV` in Spark; all operands positive, so floor = trunc
    * agrees), and the query set re-derives from the same
    * (count desc, term) vocabulary ranking. */
  private def bm25OracleSqlOver(rel: String, rankLo: Int = 11,
      rankHi: Int = 20): String =
    s"""WITH w AS (
      | SELECT doc_id, string_split_regex(text, '\\s+') AS ws
      | FROM $rel),
      |tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
      |tf AS (
      | SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      | FROM tok GROUP BY term, doc_id),
      |lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS len FROM w),
      |st AS (
      | SELECT CAST(SUM(len) AS BIGINT) AS totlen,
      |        CAST(COUNT(*) AS BIGINT) AS nd
      | FROM lens),
      |vr AS (
      | SELECT term,
      |  row_number() OVER (ORDER BY count(*) DESC, term) AS rk
      | FROM tok GROUP BY term),
      |qt AS (
      | SELECT CAST((rk - $rankLo) // 2 AS BIGINT) AS query_id, term
      | FROM vr WHERE rk BETWEEN $rankLo AND $rankHi),
      |qs AS (
      | SELECT query_id, string_agg(term, ' ' ORDER BY term) AS query
      | FROM qt GROUP BY query_id),
      |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM tf GROUP BY term),
      |sc AS (
      | SELECT qt.query_id, tf.doc_id,
      |  CAST(SUM(
      |    ((1000 * (st.nd - dft.df + 1)) // (dft.df + 1)) *
      |    ((1000 * 22 * (st.totlen // st.nd) * tf.tf)
      |     // (10 * (st.totlen // st.nd) * tf.tf
      |         + 3 * (st.totlen // st.nd) + 9 * lens.len))
      |  ) AS BIGINT) AS score
      | FROM qt
      | JOIN tf USING (term)
      | JOIN dft USING (term)
      | JOIN lens ON lens.doc_id = tf.doc_id
      | CROSS JOIN st
      | GROUP BY qt.query_id, tf.doc_id),
      |rk2 AS (
      | SELECT query_id, doc_id, score,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank
      | FROM sc)
      |SELECT r.query_id, qs.query, CAST(r.rank AS BIGINT) AS rank,
      | r.doc_id, r.score
      |FROM rk2 r JOIN qs USING (query_id)
      |WHERE r.rank <= 10 ORDER BY r.query_id, r.rank""".stripMargin

  private val bm25OracleSql: String = bm25OracleSqlOver("documents")

  /** The q145/q146 oracle's shared CTE chain, generated because the
    * round count is a constant: one CTE triple (pair counts, argmax,
    * merged state) per round. Exhaustion safety: if a round's best-
    * pair CTE is empty, the LEFT JOIN + COALESCE degrade the round's
    * replace to a never-matching chr(1) pattern, so later rounds (and
    * the q146 application chain) see the state unchanged — exactly
    * the Spark driver loop's early stop. */
  private def bpeOracleCtes: String = bpeOracleCtesOver("TRUE")

  /** Training-chain CTEs with a doc-level predicate — q148 trains the
    * drift probe's frozen model on the standing slice only. */
  private def bpeOracleCtesOver(docsWhere: String): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w AS (
       | SELECT word, CAST(COUNT(*) AS BIGINT) AS n
       | FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
       |       FROM documents WHERE $docsWhere)
       | WHERE word <> '' GROUP BY word),
       |st0 AS (
       | SELECT word, n, regexp_replace(word, '(.)', ' \\1 ', 'g') AS s
       | FROM (SELECT word, n FROM w ORDER BY n DESC, word LIMIT $BpeWordCap))""".stripMargin
    for (r <- 1 to BpeRounds) sb ++= s""",
       |p$r AS (
       | SELECT n, unnest(list_transform(range(1, len(syms)),
       |   i -> {'l': syms[i], 'r': syms[i + 1]})) AS pr
       | FROM (SELECT n, string_split(trim(s), '  ') AS syms FROM st${r - 1})),
       |b$r AS (
       | SELECT pr.l AS l, pr.r AS r, CAST(SUM(n) AS BIGINT) AS cnt
       | FROM p$r GROUP BY pr.l, pr.r
       | ORDER BY cnt DESC, l, r LIMIT 1),
       |st$r AS (
       | SELECT word, n,
       |  replace(s, COALESCE(' ' || b$r.l || '  ' || b$r.r || ' ', chr(1)),
       |             COALESCE(' ' || b$r.l || b$r.r || ' ', '')) AS s
       | FROM st${r - 1} LEFT JOIN b$r ON TRUE)""".stripMargin
    sb.toString
  }

  /** q147's chain source: the (lang, word, n) grain. */
  private def bpeFertilityCtes: String = bpeChainCtes("al", "lang, word, n",
    s""",
       |wl AS (
       | SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n
       | FROM (SELECT lang,
       |        unnest(string_split_regex(text, '\\s+')) AS word
       |       FROM documents)
       | WHERE word <> '' GROUP BY lang, word)""".stripMargin, "wl")

  /** ONE merge-application chain generator for every BPE oracle
    * (q146/q147/q148) — the exhaustion-safe chr(1)-sentinel replace
    * lives here once, the SQL twin of [[applyMerges]]. `srcCtes`
    * prepends any grain CTE the chain segments, `carry` the columns
    * it must keep alongside `s`. */
  private def bpeChainCtes(prefix: String, carry: String,
      srcCtes: String, srcName: String): String = {
    val sb = new StringBuilder
    sb ++= srcCtes
    sb ++= s""",
       |${prefix}0 AS (
       | SELECT $carry, regexp_replace(word, '(.)', ' \\1 ', 'g') AS s
       | FROM $srcName)""".stripMargin
    for (r <- 1 to BpeRounds) sb ++= s""",
       |$prefix$r AS (
       | SELECT $carry,
       |  replace(s, COALESCE(' ' || b$r.l || '  ' || b$r.r || ' ', chr(1)),
       |             COALESCE(' ' || b$r.l || b$r.r || ' ', '')) AS s
       | FROM $prefix${r - 1} LEFT JOIN b$r ON TRUE)""".stripMargin
    sb.toString
  }

  /** The fixed-length-packing chain shared by the q161/q162 oracles
    * (rides [[tokenIdCtes]]'s `docids`): per-source stream offsets,
    * the per-(doc, overlapped-seq) explode, and the sliced segments
    * with their in-sequence offsets — the SQL twin of
    * [[packFixedParts]] at L = 256. */
  private def packFixedOracleCtes: String = s""",
       |streams AS (
       | SELECT source, doc_id, n_tokens, ids_csv,
       |  CAST(COALESCE(SUM(n_tokens + 1) OVER (PARTITION BY source
       |        ORDER BY doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS start
       | FROM docids),
       |parts0 AS (
       | SELECT source, doc_id, n_tokens, ids_csv, start,
       |  unnest(range(start // 256, (start + n_tokens) // 256 + 1)) AS seq
       | FROM streams),
       |parts AS (
       | SELECT source, doc_id, seq,
       |  list_slice(string_split(ids_csv, ',') || ['$EosId'],
       |    CAST(greatest(0, seq * 256 - start) + 1 AS BIGINT),
       |    CAST(least(n_tokens, seq * 256 + 255 - start) + 1 AS BIGINT))
       |    AS part,
       |  CAST(greatest(start - seq * 256, 0) AS BIGINT) AS off
       | FROM parts0)""".stripMargin

  /** q148's chain source: the class-split (cls, word, n) grain —
    * standing vs delta by the md5-uniform key. */
  private def bpeDriftCtes: String = bpeChainCtes("ad", "cls, word, n",
    s""",
       |wd AS (
       | SELECT cls, word, CAST(COUNT(*) AS BIGINT) AS n
       | FROM (SELECT CASE WHEN (${md5UniformSql("doc_id")}) >= 0.1
       |              THEN 'standing' ELSE 'delta' END AS cls,
       |        unnest(string_split_regex(text, '\\s+')) AS word
       |       FROM documents)
       | WHERE word <> '' GROUP BY cls, word)""".stripMargin, "wd")

  /** q146's chain source: the UNCAPPED word table. */
  private def bpeApplyCtes: String =
    bpeChainCtes("af", "word, n", "", "w")

  /** The merged-symbol→id map CTE shared by the q158/q159/q160
    * oracles: id = 0x110000 (1114112) + the FIRST round producing the
    * symbol string − 1 — [[tokenizeKitOf]]'s putIfAbsent discipline. */
  private def mergeSymsCte: String = s""",
       |merge_syms AS (
       | SELECT sym, 1114112 + min(round) - 1 AS id
       | FROM (${(1 to BpeRounds).map(r =>
          s"SELECT $r AS round, l || r AS sym FROM b$r")
          .mkString("\n        UNION ALL ")})
       | GROUP BY sym)""".stripMargin

  /** The token-id grain CTEs shared by the q159/q160 oracles (ride
    * [[bpeOracleCtes]] + [[bpeApplyCtes]] + [[mergeSymsCte]]): the
    * apply chain's segmented DISTINCT words become per-word id CSVs
    * (`wids`), each document's ordered word list joins them back
    * (`docw`), and `docids` re-assembles the per-document id sequence
    * — the SQL twin of one [[graft.functions.BpeEncode]] map. `extra`
    * carries additional doc columns (q160: source). */
  private def tokenIdCtes(extra: String): String = {
    val carry = if (extra.isEmpty) "" else s"$extra, "
    s""",
       |wseg AS (
       | SELECT word, unnest(list_transform(range(1, len(syms) + 1),
       |   i -> {'pos': i, 'sub': syms[i]})) AS e
       | FROM (SELECT word, string_split(trim(s), '  ') AS syms
       |       FROM af$BpeRounds)),
       |wids AS (
       | SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sub,
       |  string_agg(CAST(CAST(COALESCE(ms.id, unicode(e.sub)) AS BIGINT)
       |    AS VARCHAR), ',' ORDER BY e.pos) AS ids_csv
       | FROM wseg LEFT JOIN merge_syms ms ON ms.sym = e.sub
       | GROUP BY word),
       |docw AS (
       | SELECT ${carry}doc_id, wi.i AS widx, wi.w AS word
       | FROM (SELECT ${carry}doc_id,
       |        unnest(list_transform(range(1, len(ws) + 1),
       |          i -> {'i': i, 'w': ws[i]})) AS wi
       |       FROM (SELECT ${carry}doc_id,
       |              string_split_regex(text, '\\s+') AS ws
       |             FROM documents))
       | WHERE wi.w <> ''),
       |docids AS (
       | SELECT ${carry}d.doc_id, CAST(SUM(w.n_sub) AS BIGINT) AS n_tokens,
       |  string_agg(w.ids_csv, ',' ORDER BY d.widx) AS ids_csv
       | FROM docw d JOIN wids w USING (word)
       | GROUP BY ${carry}d.doc_id)""".stripMargin
  }

  /** The fertility final SELECT shared by the q147/q148 oracles —
    * the SQL twin of [[fertilityBy]]. */
  private def fertilityOracleSelect(key: String, src: String): String = s"""
       |SELECT $key,
       | CAST(SUM(n) AS BIGINT) AS n_words,
       | CAST(SUM(n * sub) AS BIGINT) AS n_subwords,
       | CAST(SUM(n * chars) AS BIGINT) AS n_chars,
       | CAST((SUM(n * sub) * 1000000) // SUM(n) AS BIGINT)
       |   AS fertility_ppm,
       | CAST((SUM(n * chars) * 1000000) // SUM(n * sub) AS BIGINT)
       |   AS chars_per_sub_ppm
       |FROM (SELECT $key, n,
       |       CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS sub,
       |       CAST(length(word) AS BIGINT) AS chars
       |      FROM $src)
       |GROUP BY $key ORDER BY $key""".stripMargin

  val oracle: Map[String, String] = Map(
    // q145/q146: full replay of BPE training — every merge round's
    // pair argmax and greedy leftmost application re-derived in
    // chained CTEs over the identical double-space symbol encoding
    // (replace() is leftmost non-overlapping in both engines).
    "q145_bpe_merges" ->
      (bpeOracleCtes + "\n" +
        (1 to BpeRounds).map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, l, r, cnt FROM b$r")
          .mkString("", "\nUNION ALL\n", "\nORDER BY round")),
    "q146_bpe_apply" ->
      (bpeOracleCtes + bpeApplyCtes + s"""
       |SELECT token, CAST(SUM(n) AS BIGINT) AS cnt
       |FROM (SELECT n, unnest(string_split(trim(s), '  ')) AS token
       |      FROM af$BpeRounds)
       |GROUP BY token ORDER BY cnt DESC, token LIMIT 100""".stripMargin),
    // q158: serving replay — the trained merges applied to the fixed
    // probe words; ids = 0x110000 + first round producing the symbol
    // (merge products) | the codepoint (single-codepoint symbols) —
    // the exact scheme tokenizeText serves over POST /tokenize.
    "q158_tokenize_serve" ->
      (bpeOracleCtes + tokenizeProbeCtes + mergeSymsCte + s""",
       |segs AS (
       | SELECT word, unnest(list_transform(range(1, len(syms) + 1),
       |   i -> {'pos': i - 1, 'sub': syms[i]})) AS e
       | FROM (SELECT word, string_split(trim(s), '  ') AS syms
       |       FROM pw$BpeRounds))
       |SELECT word, CAST(e.pos AS BIGINT) AS pos, e.sub AS subword,
       | CAST(COALESCE(ms.id, unicode(e.sub)) AS BIGINT) AS id
       |FROM segs LEFT JOIN merge_syms ms ON ms.sym = e.sub
       |ORDER BY word, pos""".stripMargin),
    // q159: corpus-grain id replay — training chain + the uncapped
    // apply chain segment every distinct word; per-doc sequences are
    // re-assembled from ordered word positions and hashed as CSV.
    // A match proves BpeEncode's distributed kernel ≡ the serving id
    // scheme on EVERY document, not just q158's probe words.
    "q159_token_ids" ->
      (bpeOracleCtes + bpeApplyCtes + mergeSymsCte + tokenIdCtes("") + s"""
       |SELECT doc_id, n_tokens, ids_csv
       |FROM docids ORDER BY doc_id""".stripMargin),
    // q160: packing replay — the same per-doc id sequences, binned by
    // the exclusive running token count per source (q57's integer
    // arithmetic) and concatenated with the EOS id between documents
    // (q63's ordered string_agg discipline).
    "q160_pack_ids" ->
      (bpeOracleCtes + bpeApplyCtes + mergeSymsCte + tokenIdCtes("source") +
        s""",
       |binned AS (
       | SELECT source, doc_id, n_tokens, ids_csv,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
       |         ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |       // 512 AS BIGINT) AS bin
       | FROM docids)
       |SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       | CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       | string_agg(ids_csv, ',$EosId,' ORDER BY doc_id) AS packed_ids
       |FROM binned GROUP BY source, bin
       |ORDER BY source, bin""".stripMargin),
    // q161: fixed-length packing replay — the same per-doc id
    // sequences + EOS form each source's stream (exclusive running
    // offset over n+1), every doc explodes into the sequences it
    // overlaps, and list_slice re-cuts the same segments Spark's
    // slice() takes (both 1-based inclusive of the computed bounds).
    "q161_pack_fixed" ->
      (bpeOracleCtes + bpeApplyCtes + mergeSymsCte + tokenIdCtes("source") +
        packFixedOracleCtes + s"""
       |SELECT source, CAST(seq AS BIGINT) AS seq,
       | CAST(COUNT(*) AS BIGINT) AS n_docs,
       | CAST(SUM(len(part)) AS BIGINT) AS n_ids,
       | string_agg(array_to_string(part, ','), ',' ORDER BY doc_id)
       |   AS ids_csv,
       | string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
       |   AS bounds_csv
       |FROM parts GROUP BY source, seq
       |ORDER BY source, seq""".stripMargin),
    // q162: packing-efficiency replay — the q161 grain re-aggregated
    // per source (sequence fill, full-sequence count, split docs).
    "q162_pack_stats" ->
      (bpeOracleCtes + bpeApplyCtes + mergeSymsCte + tokenIdCtes("source") +
        packFixedOracleCtes + s""",
       |perseq AS (
       | SELECT source, seq, CAST(SUM(len(part)) AS BIGINT) AS seq_ids
       | FROM parts GROUP BY source, seq),
       |perdoc AS (
       | SELECT source, doc_id, COUNT(*) AS nsq
       | FROM parts GROUP BY source, doc_id),
       |seqstats AS (
       | SELECT source, CAST(COUNT(*) AS BIGINT) AS n_seqs,
       |  CAST(SUM(seq_ids) AS BIGINT) AS n_stream_ids,
       |  CAST(SUM(CASE WHEN seq_ids = 256 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS full_seqs
       | FROM perseq GROUP BY source),
       |docstats AS (
       | SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN nsq > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS split_docs
       | FROM perdoc GROUP BY source)
       |SELECT s.source, n_seqs, n_stream_ids, full_seqs, n_docs,
       | split_docs,
       | CAST(n_stream_ids * 1000000 // (n_seqs * 256) AS BIGINT)
       |   AS fill_ppm
       |FROM seqstats s JOIN docstats d USING (source)
       |ORDER BY source""".stripMargin),
    // q147: fertility replay — the trained merges (shared CTE chain)
    // applied to the (lang, word, n) grain, per-lang ppm aggregates.
    "q147_bpe_fertility" ->
      (bpeOracleCtes + bpeFertilityCtes +
        fertilityOracleSelect("lang", s"al$BpeRounds")),
    // q148: drift replay — the training chain runs over the standing
    // slice only; the per-class fertility aggregates run over the
    // whole corpus split by the same md5-uniform key.
    "q148_bpe_drift" ->
      (bpeOracleCtesOver(s"(${md5UniformSql("doc_id")}) >= 0.1") +
        bpeDriftCtes + fertilityOracleSelect("cls", s"ad$BpeRounds")),
    // q143: from-scratch replay of the FROZEN-LM chain — LM trained on
    // version 1's en class (the standing md5-slice ≥ 0.1), every
    // SURVIVOR (corpus minus the [0.1, 0.15) removal slice) scored
    // under it, terciles from the bounded histogram. Hash equality
    // proves append+id-tombstone maintenance ≡ full recompute.
    "q143_incr_lm" ->
      s"""WITH v1 AS (
         | SELECT lang, text FROM documents
         | WHERE (${md5UniformSql("doc_id")}) >= 0.1),
         |surv AS (
         | SELECT doc_id, lang, text FROM documents
         | WHERE NOT ((${md5UniformSql("doc_id")}) >= 0.1
         |        AND (${md5UniformSql("doc_id")}) < 0.15)),
         |enc AS (
         | SELECT token, CAST(COUNT(*) AS BIGINT) AS c
         | FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS token
         |       FROM v1 WHERE lang = 'en')
         | WHERE token <> '' GROUP BY token),
         |vocab AS (
         | SELECT token, c FROM enc ORDER BY c DESC, token LIMIT $LmVocabK),
         |tot AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS t FROM enc),
         |g AS (
         | SELECT doc_id, lang, token, CAST(COUNT(*) AS BIGINT) AS tf
         | FROM (SELECT doc_id, lang,
         |        unnest(string_split_regex(text, '\\s+')) AS token
         |       FROM surv)
         | WHERE token <> '' GROUP BY doc_id, lang, token),
         |ts AS (
         | SELECT g.doc_id, g.lang, g.tf,
         |  least((tot.t + ${LmVocabK + 1}) // (COALESCE(v.c, 0) + 1),
         |        3000000000) AS qrec
         | FROM g LEFT JOIN vocab v USING (token) CROSS JOIN tot),
         |sc AS (
         | SELECT doc_id, lang,
         |  CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |  CAST(SUM(tf * (length(bin(qrec * qrec)) - 1)) AS BIGINT) AS surp
         | FROM ts GROUP BY doc_id, lang),
         |sc2 AS (
         | SELECT doc_id, lang, n_tokens, surp,
         |  CAST((surp * 1000) // n_tokens AS BIGINT) AS score_mhb
         | FROM sc),
         |hist AS (
         | SELECT score_mhb, CAST(COUNT(*) AS BIGINT) AS hn
         | FROM sc2 GROUP BY score_mhb),
         |cumh AS (
         | SELECT score_mhb, SUM(hn) OVER (ORDER BY score_mhb) AS cum
         | FROM hist),
         |nd AS (SELECT CAST(SUM(hn) AS BIGINT) AS nd FROM hist),
         |thr AS (
         | SELECT MIN(CASE WHEN cum * 3 >= nd THEN score_mhb END) AS t1,
         |        MIN(CASE WHEN cum * 3 >= nd * 2 THEN score_mhb END) AS t2
         | FROM cumh, nd)
         |SELECT s.doc_id, s.lang, s.n_tokens, s.surp, s.score_mhb,
         | CASE WHEN s.score_mhb <= thr.t1 THEN 'head'
         |      WHEN s.score_mhb <= thr.t2 THEN 'middle'
         |      ELSE 'tail' END AS bucket
         |FROM sc2 s CROSS JOIN thr
         |ORDER BY s.doc_id""".stripMargin,
    // q144: full NB replay — shared top-K vocabulary, class-conditional
    // counts, add-one smoothing, half-bit surprisal for likelihood AND
    // prior, argmin with lexicographic tie-break. Every value BIGINT.
    "q144_nb_classify" ->
      s"""WITH tok AS (
         | SELECT doc_id, lang,
         |  unnest(string_split_regex(text, '\\s+')) AS token
         | FROM documents),
         |g AS (
         | SELECT doc_id, lang, token, CAST(COUNT(*) AS BIGINT) AS tf
         | FROM tok WHERE token <> '' GROUP BY doc_id, lang, token),
         |vocab AS (
         | SELECT token FROM (
         |  SELECT token, CAST(SUM(tf) AS BIGINT) AS n
         |  FROM g GROUP BY token)
         | ORDER BY n DESC, token LIMIT $NbVocabK),
         |cc AS (
         | SELECT g.lang AS cls, g.token, CAST(SUM(g.tf) AS BIGINT) AS cnt
         | FROM g JOIN vocab USING (token) GROUP BY g.lang, g.token),
         |ct AS (
         | SELECT lang AS cls, CAST(SUM(tf) AS BIGINT) AS tc
         | FROM g GROUP BY lang),
         |dc AS (
         | SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs
         | FROM g GROUP BY lang),
         |ndall AS (SELECT CAST(SUM(ndocs) AS BIGINT) AS nd FROM dc),
         |pri AS (
         | SELECT lang AS cls,
         |  CAST(length(bin(least(nd // ndocs, 3000000000)
         |                  * least(nd // ndocs, 3000000000))) - 1
         |       AS BIGINT) AS ps
         | FROM dc CROSS JOIN ndall),
         |ts AS (
         | SELECT g.doc_id, g.lang, ct.cls, g.tf,
         |  least((ct.tc + ${NbVocabK + 1}) // (COALESCE(cc.cnt, 0) + 1),
         |        3000000000) AS qrec
         | FROM g CROSS JOIN ct
         | LEFT JOIN cc ON cc.cls = ct.cls AND cc.token = g.token),
         |pc AS (
         | SELECT doc_id, lang, cls,
         |  CAST(SUM(tf * (length(bin(qrec * qrec)) - 1)) AS BIGINT) AS lsurp
         | FROM ts GROUP BY doc_id, lang, cls)
         |SELECT pc.doc_id, pc.lang, pc.cls AS pred,
         | CAST(pc.lsurp + pri.ps AS BIGINT) AS surp
         |FROM pc JOIN pri USING (cls)
         |QUALIFY row_number() OVER (
         |  PARTITION BY pc.doc_id ORDER BY pc.lsurp + pri.ps, pc.cls) = 1
         |ORDER BY pc.doc_id""".stripMargin,
    // q142: full replay — unigram LM trained on the en class (top-K
    // vocabulary, count-desc/token tiebreak), half-bit discrete-log
    // surprisal via binary bit-length (bin() in both engines), tercile
    // thresholds from the bounded score histogram. Every value BIGINT;
    // both engines truncate non-negative integer division identically.
    "q142_lm_bucket" ->
      s"""WITH tok AS (
         | SELECT doc_id, lang,
         |  unnest(string_split_regex(text, '\\s+')) AS token
         | FROM documents),
         |g AS (
         | SELECT doc_id, lang, token, CAST(COUNT(*) AS BIGINT) AS tf
         | FROM tok WHERE token <> '' GROUP BY doc_id, lang, token),
         |enc AS (
         | SELECT token, CAST(SUM(tf) AS BIGINT) AS c
         | FROM g WHERE lang = 'en' GROUP BY token),
         |vocab AS (
         | SELECT token, c FROM enc ORDER BY c DESC, token LIMIT $LmVocabK),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM enc),
         |ts AS (
         | SELECT g.doc_id, g.lang, g.tf,
         |  least((tot.t + ${LmVocabK + 1}) // (COALESCE(v.c, 0) + 1),
         |        3000000000) AS qrec
         | FROM g LEFT JOIN vocab v USING (token) CROSS JOIN tot),
         |sc AS (
         | SELECT doc_id, lang,
         |  CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |  CAST(SUM(tf * (length(bin(qrec * qrec)) - 1)) AS BIGINT) AS surp
         | FROM ts GROUP BY doc_id, lang),
         |sc2 AS (
         | SELECT doc_id, lang, n_tokens, surp,
         |  CAST((surp * 1000) // n_tokens AS BIGINT) AS score_mhb
         | FROM sc),
         |hist AS (
         | SELECT score_mhb, CAST(COUNT(*) AS BIGINT) AS hn
         | FROM sc2 GROUP BY score_mhb),
         |cumh AS (
         | SELECT score_mhb, SUM(hn) OVER (ORDER BY score_mhb) AS cum
         | FROM hist),
         |nd AS (SELECT CAST(SUM(hn) AS BIGINT) AS nd FROM hist),
         |thr AS (
         | SELECT MIN(CASE WHEN cum * 3 >= nd THEN score_mhb END) AS t1,
         |        MIN(CASE WHEN cum * 3 >= nd * 2 THEN score_mhb END) AS t2
         | FROM cumh, nd)
         |SELECT s.doc_id, s.lang, s.n_tokens, s.surp, s.score_mhb,
         | CASE WHEN s.score_mhb <= thr.t1 THEN 'head'
         |      WHEN s.score_mhb <= thr.t2 THEN 'middle'
         |      ELSE 'tail' END AS bucket
         |FROM sc2 s CROSS JOIN thr
         |ORDER BY s.doc_id""".stripMargin,
    // q141: every maintained count and weight rebuilt from the
    // SURVIVING corpus only — subtract ≡ rebuild-over-survivors
    "q141_incr_dsir" ->
      s"""WITH surv AS (
         | SELECT lang, text FROM documents
         | WHERE NOT ((${md5UniformSql("doc_id")}) >= 0.1
         |        AND (${md5UniformSql("doc_id")}) < 0.15)),
         |t AS (
         | SELECT lang,
         |  CAST(list_sum(list_transform(range(1, 9),
         |    i -> (strpos('0123456789abcdef', substr(md5(token), i, 1)) - 1)
         |         * (1::BIGINT << (4 * (8 - i))))) AS BIGINT) % 1024 AS bucket
         | FROM (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS token
         |       FROM surv)
         | WHERE token <> ''),
         |bb AS (
         | SELECT bucket,
         |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc,
         |  CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS rc
         | FROM t GROUP BY bucket),
         |tot AS (
         | SELECT CAST(SUM(tc) AS BIGINT) AS ttot,
         |        CAST(SUM(rc) AS BIGINT) AS rtot FROM bb)
         |SELECT bucket, tc, rc,
         | (tc * 1000000) // ttot - (rc * 1000000) // rtot AS w
         |FROM bb, tot ORDER BY bucket""".stripMargin,
    // q137: full replay — md5-prefix buckets (q116's r=0 slice),
    // parts-per-million integer weights (both engines truncate
    // non-negative integer division identically), BIGINT scores
    "q137_dsir_select" ->
      """WITH t AS (
        | SELECT doc_id, lang, source,
        |  CAST(list_sum(list_transform(range(1, 9),
        |    i -> (strpos('0123456789abcdef', substr(md5(token), i, 1)) - 1)
        |         * (1::BIGINT << (4 * (8 - i))))) AS BIGINT) % 1024 AS bucket
        | FROM (SELECT doc_id, lang, source,
        |        unnest(string_split_regex(text, '\s+')) AS token
        |       FROM documents)
        | WHERE token <> ''),
        |g AS (
        | SELECT doc_id, lang, source, bucket, CAST(COUNT(*) AS BIGINT) AS n
        | FROM t GROUP BY doc_id, lang, source, bucket),
        |bb AS (
        | SELECT bucket,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS BIGINT) AS tc,
        |  CAST(SUM(CASE WHEN lang <> 'en' THEN n ELSE 0 END) AS BIGINT) AS rc
        | FROM g GROUP BY bucket),
        |tot AS (
        | SELECT CAST(SUM(tc) AS BIGINT) AS ttot,
        |        CAST(SUM(rc) AS BIGINT) AS rtot FROM bb),
        |w AS (
        | SELECT bucket,
        |  (tc * 1000000) // ttot - (rc * 1000000) // rtot AS w
        | FROM bb, tot)
        |SELECT g.doc_id, g.lang, g.source,
        | CAST(SUM(g.n) AS BIGINT) AS n_tokens,
        | CAST(SUM(g.n * w.w) AS BIGINT) AS score
        |FROM g JOIN w USING (bucket)
        |WHERE g.lang <> 'en'
        |GROUP BY g.doc_id, g.lang, g.source
        |ORDER BY score DESC, g.doc_id
        |LIMIT 25""".stripMargin,
    // q95: recursive-CTE replay of the greedy longest-match walk;
    // empty documents surface with zero counts via the LEFT JOIN
    "q95_subword_count" ->
      s"""WITH RECURSIVE
         |$subwordCtes
         |SELECT d.doc_id,
         | CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
         | CAST(COALESCE(p.n_subwords, 0) AS BIGINT) AS n_subwords
         |FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // q96: q79's budget-head window over subword counts
    "q96_subword_budget" ->
      s"""WITH RECURSIVE
         |$subwordCtes,
         |t AS (
         | SELECT d.doc_id, d.lang,
         |  CAST(COALESCE(p.n_subwords, 0) AS BIGINT) AS n_subwords,
         |  ${md5UniformSql("d.doc_id")} AS sample_key
         | FROM documents d LEFT JOIN per_doc p USING (doc_id)),
         |c AS (
         | SELECT doc_id, lang, n_subwords,
         |  CAST(COALESCE(SUM(n_subwords) OVER (PARTITION BY lang
         |    ORDER BY sample_key, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS cum_before
         | FROM t)
         |SELECT doc_id, lang, n_subwords, cum_before,
         | CAST(least(n_subwords, 4000 - cum_before) AS BIGINT) AS take_subwords
         |FROM c WHERE cum_before < 4000 ORDER BY doc_id""".stripMargin,
    // q93: DuckDB range(1, len) is empty for len ≤ 1 — the short-doc
    // guard Spark needs a CASE for comes free; one shared IEEE ratio
    "q93_distinct_ngrams" ->
      """WITH w AS (
        | SELECT source, string_split_regex(text, '\s+') AS ws
        | FROM documents),
        |tot AS (
        | SELECT source,
        |  CAST(SUM(GREATEST(len(ws) - 1, 0)) AS BIGINT) AS n_bigrams
        | FROM w GROUP BY source),
        |dist AS (
        | SELECT source, CAST(COUNT(DISTINCT bg) AS BIGINT)
        |   AS n_distinct_bigrams
        | FROM (SELECT source,
        |        unnest(list_transform(range(1, len(ws)),
        |          i -> ws[i] || ' ' || ws[i+1])) AS bg
        |       FROM w)
        | GROUP BY source)
        |SELECT tot.source, n_bigrams,
        | COALESCE(n_distinct_bigrams, 0) AS n_distinct_bigrams,
        | CASE WHEN n_bigrams > 0 THEN
        |  CAST(COALESCE(n_distinct_bigrams, 0) AS DOUBLE)
        |    / CAST(n_bigrams AS DOUBLE) END AS ttr
        |FROM tot LEFT JOIN dist ON dist.source = tot.source
        |ORDER BY tot.source""".stripMargin,
    // q91: replace-diff letter counts (≡ Spark's translate-diff);
    // the integer χ² numerator is the same expression tree
    "q91_char_chisq" -> {
      val letters = 'a' to 'z'
      val cs = letters.map(ch =>
        s"CAST(length(text) - length(replace(text, '$ch', '')) AS BIGINT) AS c_$ch")
        .mkString(",\n |  ")
      val n = letters.map(ch => s"c_$ch").mkString(" + ")
      val chisq = letters.map(ch =>
        s"(26 * c_$ch - n_letters) * (26 * c_$ch - n_letters)")
        .mkString("\n |   + ")
      s"""WITH l AS (
        | SELECT doc_id,
        |  $cs
        | FROM documents),
        |t AS (
        | SELECT *, ($n) AS n_letters FROM l)
        |SELECT doc_id, n_letters,
        | ($chisq) AS chisq_num,
        | CAST(CASE WHEN ($chisq) > 1300 * n_letters
        |      THEN 1 ELSE 0 END AS BIGINT) AS is_nonuniform
        |FROM t ORDER BY doc_id""".stripMargin
    },
    // q90: same distinct (bucket, token) projection; cumulative SUM
    // over the unique bucket key — frame semantics identical
    "q90_vocab_growth" ->
      """WITH tok AS (
        | SELECT DISTINCT doc_id // 100 AS bucket, token
        | FROM (SELECT doc_id,
        |        unnest(string_split_regex(text, '\s+')) AS token
        |       FROM documents)),
        |fs AS (
        | SELECT first_bucket AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_new_tokens
        | FROM (SELECT token, MIN(bucket) AS first_bucket
        |       FROM tok GROUP BY token)
        | GROUP BY first_bucket),
        |pb AS (
        | SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens
        | FROM tok GROUP BY bucket)
        |SELECT pb.bucket, n_distinct_tokens,
        | COALESCE(n_new_tokens, 0) AS n_new_tokens,
        | CAST(SUM(COALESCE(n_new_tokens, 0)) OVER (ORDER BY pb.bucket)
        |   AS BIGINT) AS vocab_size
        |FROM pb LEFT JOIN fs ON fs.bucket = pb.bucket
        |ORDER BY pb.bucket""".stripMargin,
    // q84: integer/string-exact (tf desc, df asc, term asc) ranking;
    // df re-aggregates the distinct (doc, term) pairs, as in Spark
    "q84_keywords" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        | FROM documents),
        |tf AS (
        | SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        | FROM tok GROUP BY doc_id, term),
        |dfq AS (
        | SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        | FROM tf GROUP BY term),
        |r AS (
        | SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |    ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS BIGINT) AS rank
        | FROM tf JOIN dfq USING (term))
        |SELECT doc_id, rank, term, tf, df
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // q77: q14's exact score, then a pure-integer quantile cut —
    // keep iff 10·q_rank <= 3·n + 9 (⇔ q_rank <= ceil(0.3n))
    "q77_quantile_gate" ->
      """WITH t AS (
        | SELECT doc_id, lang, string_split_regex(text, '\s+') AS w
        | FROM documents),
        |s AS (
        | SELECT doc_id, lang,
        |  (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE) / CAST(len(w) AS DOUBLE))
        |    * (CAST(least(len(w), 100) AS DOUBLE) / 100.0) AS quality_score
        | FROM t),
        |r AS (
        | SELECT doc_id, lang, quality_score,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY quality_score DESC, doc_id) AS BIGINT) AS q_rank,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        | FROM s)
        |SELECT doc_id, lang, quality_score, q_rank
        |FROM r WHERE q_rank * 10 <= n * 3 + 9 ORDER BY doc_id""".stripMargin,
    // q79: cumulative BIGINT token sum in the md5-uniform order, head
    // under a 2000-token budget per language, boundary doc truncated
    "q79_token_budget" ->
      s"""WITH t AS (
        | SELECT doc_id, lang,
        |  CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
        |  ${md5UniformSql("doc_id")} AS sample_key
        | FROM documents),
        |c AS (
        | SELECT doc_id, lang, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY sample_key, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before
        | FROM t)
        |SELECT doc_id, lang, n_tokens, cum_before,
        | CAST(least(n_tokens, 2000 - cum_before) AS BIGINT) AS take_tokens
        |FROM c WHERE cum_before < 2000 ORDER BY doc_id""".stripMargin,
    "q53_decontaminate" -> decontamOracleSql,
    "q60_bloom_decontam" -> decontamOracleSql,
    // q111: the epoch:doc md5 key replayed via the nibble-weighted
    // sum; shard and within-shard order derive from the same key, so
    // both engines produce one total order
    "q111_epoch_shuffle" ->
      """WITH e AS (
        | SELECT doc_id, unnest(range(0, 2)) AS epoch FROM documents),
        |k AS (
        | SELECT epoch, doc_id,
        |  CAST(list_sum(list_transform(range(1, 9),
        |    i -> (strpos('0123456789abcdef',
        |           substr(md5(CAST(epoch AS VARCHAR) || ':'
        |                      || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |         * (1::BIGINT << (4 * (8 - i))))) AS BIGINT) AS hk
        | FROM e)
        |SELECT CAST(epoch AS BIGINT) AS epoch,
        | CAST(hk % 8 AS BIGINT) AS shard,
        | CAST(ROW_NUMBER() OVER (PARTITION BY epoch, hk % 8
        |        ORDER BY hk, doc_id) AS BIGINT) AS pos,
        | doc_id
        |FROM k ORDER BY epoch, shard, pos""".stripMargin,
    // q110: eval windows collapse to DISTINCT before the join (the
    // persisted-index shape), train positions count via the join
    "q110_window_decontam" ->
      """WITH ev AS (
        | SELECT DISTINCT unnest(list_transform(
        |   range(1, greatest(length(text) - 39, 0) + 1),
        |   i -> substr(text, i, 40))) AS w
        | FROM documents WHERE doc_id % 50 = 0),
        |tg AS (
        | SELECT doc_id, unnest(list_transform(
        |   range(1, greatest(length(text) - 39, 0) + 1),
        |   i -> substr(text, i, 40))) AS w
        | FROM documents WHERE doc_id % 50 <> 0),
        |hits AS (
        | SELECT tg.doc_id, count(*) AS contam_windows
        | FROM tg JOIN ev USING (w) GROUP BY tg.doc_id)
        |SELECT d.doc_id,
        | CAST(greatest(length(d.text) - 39, 0) AS BIGINT) AS n_windows,
        | CAST(coalesce(h.contam_windows, 0) AS BIGINT) AS contam_windows,
        | CAST(CASE WHEN coalesce(h.contam_windows, 0) > 0
        |      THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 50 <> 0
        |ORDER BY d.doc_id""".stripMargin,
    "q66_composition" -> compositionOracleSql,
    // q74: exact integer token counts (q13 split semantics); shares
    // and rates are identical IEEE trees both engines build the same:
    // the raw-weight CASE and the closed-form raw_sum (presence
    // flags, one term per pinned language — never a float sum over
    // rows, whose grouping would be partition-dependent) mirror the
    // Spark expression trees node for node; `lang IS NULL OR` keeps
    // the null-language group counted in n_other exactly as Spark does
    "q74_mixture_plan" ->
      """WITH cells AS (
        | SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY lang),
        |t AS (
        | SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
        |  CAST(COUNT(CASE WHEN lang IS NULL OR lang NOT IN ('en','es')
        |             THEN 1 END) AS BIGINT) AS n_other,
        |  CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS has_en,
        |  CAST(COUNT(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS has_es
        | FROM cells),
        |r AS (
        | SELECT lang, n_docs, n_tokens, total,
        |  CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS actual_share,
        |  CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'es' THEN 0.2
        |       ELSE 0.3 / CAST(n_other AS DOUBLE) END AS raw,
        |  CAST(has_en AS DOUBLE) * 0.5 + CAST(has_es AS DOUBLE) * 0.2 +
        |   CASE WHEN n_other > 0
        |        THEN CAST(n_other AS DOUBLE) * (0.3 / CAST(n_other AS DOUBLE))
        |        ELSE 0.0 END AS raw_sum
        | FROM cells CROSS JOIN t)
        |SELECT lang, n_docs, n_tokens, actual_share,
        | raw / raw_sum AS target_share,
        | raw / raw_sum * CAST(total AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |   AS rate
        |FROM r ORDER BY lang""".stripMargin,
    // q75: DuckDB range() excludes its stop exactly where Spark's
    // sequence(0, size-1, step) includes size-1 — both enumerate the
    // same starts; 1-based inclusive list slice ws[st+1 : st+64]
    // clamps like Spark's slice(ws, st+1, 64)
    "q75_chunk_windows" ->
      s"""WITH w AS (
        | SELECT doc_id, string_split_regex(text, '\\s+') AS ws,
        |  range(0,
        |    greatest(len(string_split_regex(text, '\\s+'))
        |               - ${ChunkWindow - ChunkStride} - 1, 0) + 1,
        |    $ChunkStride) AS sts
        | FROM documents),
        |u AS (
        | SELECT doc_id, ws,
        |  unnest(list_transform(range(0, len(sts)),
        |    i -> {'i': i, 'st': sts[i+1]})) AS u
        | FROM w)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
        | CAST(u.st AS BIGINT) AS start,
        | CAST(least($ChunkWindow, len(ws) - u.st) AS BIGINT)
        |   AS n_chunk_tokens,
        | md5(array_to_string(ws[u.st+1 : u.st+$ChunkWindow], ' '))
        |   AS chunk_md5
        |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,
    "q67_freq_spectrum" ->
      """WITH t AS (
        | SELECT unnest(string_split_regex(text, '\s+')) AS tok
        | FROM documents),
        |f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        |      FROM t GROUP BY tok)
        |SELECT freq, CAST(COUNT(*) AS BIGINT) AS n_tokens
        |FROM f GROUP BY freq ORDER BY freq""".stripMargin,
    // q64: same gram construction; the argmax is rebuilt as
    // max-then-min-tie-break — identical RESULT to the Spark
    // double-aggregate shape (q56 precedent: oracle may use a
    // different formulation of the same deterministic pick)
    "q64_contam_attr" ->
      """WITH w AS (
        | SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |g AS (
        | SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3 THEN
        |   list_transform(range(1, len(ws) - 1),
        |     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |  ELSE [] END) AS gs FROM w),
        |ev AS (SELECT DISTINCT doc_id AS eval_id, unnest(gs) AS g
        |       FROM g WHERE doc_id % 50 = 0),
        |cg AS (SELECT doc_id, unnest(gs) AS g FROM g WHERE doc_id % 50 <> 0),
        |hits AS (
        | SELECT cg.doc_id, ev.eval_id, CAST(count(*) AS BIGINT) AS n
        | FROM cg JOIN ev ON cg.g = ev.g GROUP BY cg.doc_id, ev.eval_id),
        |m AS (SELECT doc_id, MAX(n) AS n_shared FROM hits GROUP BY doc_id)
        |SELECT h.doc_id, MIN(h.eval_id) AS top_eval_id, m.n_shared
        |FROM hits h JOIN m ON h.doc_id = m.doc_id AND h.n = m.n_shared
        |GROUP BY h.doc_id, m.n_shared
        |ORDER BY h.doc_id""".stripMargin,
    // q54: the md5-hex → uint32 → [0,1) key rebuilt digit-by-digit
    // (strpos over the lowercase hex alphabet, shift multipliers) —
    // exact integers, so the double division and the < compare are
    // bit-identical to Spark's conv(substring(md5(...)))
    "q54_sample_mix" ->
      s"""WITH u AS (
        | SELECT doc_id, lang,
        |  ${md5UniformSql("doc_id")} AS sample_key,
        |  CAST(CASE WHEN lang = 'en' THEN 0.25 WHEN lang = 'es' THEN 0.5
        |       ELSE 1.0 END AS DOUBLE) AS rate
        | FROM documents)
        |SELECT doc_id, lang, sample_key, rate FROM u
        |WHERE sample_key < rate ORDER BY doc_id""".stripMargin,
    // q57: integer arithmetic end-to-end — DuckDB `//` (integer
    // division; a plain `/` + CAST would ROUND, not floor) mirrors
    // Spark's floor(long/long); exclusive frame + COALESCE for the
    // first row of each source
    "q57_pack_bins" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        | FROM documents)
        |SELECT doc_id, source, n_tokens,
        | CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |        ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 512 AS BIGINT) AS bin
        |FROM t ORDER BY doc_id""".stripMargin,
    // q63: q57's bin assignment, then ordered string_agg — DuckDB's
    // ORDER BY inside the aggregate mirrors Spark's array_sort over
    // (doc_id, text) structs (doc_id unique ⇒ total order both sides)
    "q63_pack_concat" ->
      """WITH t AS (
        | SELECT doc_id, source, text,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        | FROM documents),
        |b AS (
        | SELECT doc_id, source, text, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |         ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |       // 512 AS BIGINT) AS bin
        | FROM t)
        |SELECT source, bin,
        | CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        | string_agg(text, ' <eos> ' ORDER BY doc_id) AS packed_text
        |FROM b GROUP BY source, bin
        |ORDER BY source, bin""".stripMargin,
    // q56: same fixed-10-word chunking both sides (list slices clamp
    // identically); the oracle picks first occurrences with a rank
    // window — same RESULT as Spark's min(struct) aggregate — and
    // reassembles with ORDER BY inside string_agg
    "q56_chunk_dedup" ->
      """WITH w AS (
        | SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |ch0 AS (
        | SELECT doc_id, list_transform(
        |   range(0, CAST(ceil(len(ws)/10.0) AS BIGINT)),
        |   i -> array_to_string(ws[(10*i+1):(10*i+10)], ' ')) AS chunks
        | FROM w),
        |ch AS (
        | SELECT doc_id,
        |  CAST(unnest(range(0, len(chunks))) AS INT) AS idx,
        |  unnest(chunks) AS chunk
        | FROM ch0),
        |r AS (
        | SELECT doc_id, idx, chunk,
        |  row_number() OVER (PARTITION BY chunk
        |                     ORDER BY doc_id, idx) AS rn
        | FROM ch),
        |p AS (
        | SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |  string_agg(chunk, ' ' ORDER BY idx) AS clean_text
        | FROM r WHERE rn = 1 GROUP BY doc_id)
        |SELECT w.doc_id,
        | CAST(ceil(len(ws)/10.0) AS INT) AS n_chunks,
        | COALESCE(p.n_kept, 0) AS n_kept,
        | COALESCE(p.clean_text, '') AS clean_text
        |FROM w LEFT JOIN p ON w.doc_id = p.doc_id
        |ORDER BY w.doc_id""".stripMargin,
    // q55: q54's digit-by-digit md5 key; pass-through-or-rank is
    // expressed as one predicate (n <= K keeps all, else rn <= K)
    "q55_source_cap" ->
      s"""WITH u AS (
        | SELECT doc_id, source,
        |  ${md5UniformSql("doc_id")} AS sample_key
        | FROM documents),
        |c AS (SELECT source, count(*) AS n FROM u GROUP BY source),
        |r AS (
        | SELECT u.doc_id, u.source, u.sample_key, c.n,
        |  row_number() OVER (PARTITION BY u.source
        |                     ORDER BY u.sample_key, u.doc_id) AS rn
        | FROM u JOIN c USING (source))
        |SELECT doc_id, source, sample_key FROM r
        |WHERE n <= 10 OR rn <= 10
        |ORDER BY doc_id""".stripMargin,
    "q48_vocab" -> q48OracleSql,
    // q123: vocabulary-from-maintained-grain must be indistinguishable
    // from vocabulary-from-corpus — the oracle IS q48's definition
    "q123_incr_vocab" -> q48OracleSql,
    // q101: same \s+ split as q48; posting order (tf desc, doc_id) and
    // the head cut (df desc, term) are total orders, so string_agg's
    // ORDER BY reproduces Spark's sorted-struct render exactly
    "q101_inverted_index" -> q101OracleSql,
    // q122: the maintained, term-bucketed grain must serve an index a
    // reader cannot tell from a rebuilt one — the oracle IS q101's
    // from-scratch definition over the full corpus
    "q122_incr_tf_index" -> q101OracleSql,
    // q126: the from-scratch index over the SURVIVING documents only —
    // removal through the chain must be indistinguishable from never
    // having ingested the removed docs
    "q126_tombstone_index" -> q101OracleOver(
      s"(SELECT doc_id, text FROM documents " +
        s"WHERE NOT ((${md5UniformSql("doc_id")}) >= 0.1 " +
        s"AND (${md5UniformSql("doc_id")}) < 0.15))"),
    // q121: same tokenization as q101; integer BM25 — every per-term
    // score is one BIGINT floor division (// here, DIV in Spark; all
    // operands positive, so floor = trunc agrees), and the query set
    // re-derives from the same (count desc, term) vocabulary ranking
    "q121_bm25_topk" -> bm25OracleSql,
    // q128: q121's from-scratch SQL VERBATIM — grain-served ranking
    // must be indistinguishable from tokenize-at-query-time ranking
    "q128_bm25_grain" -> bm25OracleSql,
    // q129: the same replay over SURVIVORS only (the [0.1, 0.15)
    // md5-uniform removal slice excluded) — ranking through the
    // tombstoned chain must equal ranking over a corpus that never
    // held the removed docs
    "q129_bm25_removal" -> bm25OracleSqlOver(
      s"(SELECT doc_id, text FROM documents " +
        s"WHERE NOT ((${md5UniformSql("doc_id")}) >= 0.1 " +
        s"AND (${md5UniformSql("doc_id")}) < 0.15))"),
    // q130: the ad-hoc search seam under a deterministic query — the
    // corpus's two heaviest terms, i.e. the same replay with the qt
    // CTE bounded to vocabulary ranks 1–2 (both under query_id 0)
    "q130_bm25_search" ->
      bm25OracleSqlOver("documents", rankLo = 1, rankHi = 2),
    // q131: the SAME replay — the serving path's maintained length and
    // stats artifacts must be indistinguishable from full-grain
    // re-aggregation
    "q131_bm25_serve" ->
      bm25OracleSqlOver("documents", rankLo = 1, rankHi = 2),
    "q46_pii_scrub" ->
      s"""SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '$emailPattern')) AS INT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '$phonePattern')) AS INT) AS n_phones,
        | CASE WHEN len(regexp_extract_all(text, '$emailPattern'))
        |        + len(regexp_extract_all(text, '$phonePattern')) > 0
        |      THEN 1 ELSE 0 END AS has_pii,
        | md5(regexp_replace(regexp_replace(text, '$emailPattern', '<EMAIL>', 'g'),
        |                    '$phonePattern', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // posexplode ↔ the q22-style unnest-of-struct-list (scalar range
    // takes column args; the TABLE range() can't)
    "q47_boilerplate" ->
      """WITH p AS (
        | SELECT doc_id, string_split(text, chr(10)) AS parts FROM documents),
        |l AS (
        | SELECT doc_id, u.pos AS pos, u.line AS line
        | FROM (SELECT doc_id, unnest(list_transform(range(1, len(parts) + 1),
        |        i -> {'pos': i, 'line': parts[i]})) AS u FROM p)),
        |f AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line),
        |k AS (SELECT l.doc_id, l.pos, l.line
        |      FROM l JOIN f USING (line) WHERE f.df < 10),
        |agg AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
        |  md5(string_agg(line, chr(10) ORDER BY pos)) AS cleaned_md5
        | FROM k GROUP BY doc_id)
        |SELECT p.doc_id, CAST(len(p.parts) AS INT) AS n_lines,
        | coalesce(agg.n_lines_kept, 0) AS n_lines_kept,
        | coalesce(agg.cleaned_md5, md5('')) AS cleaned_md5
        |FROM p LEFT JOIN agg ON p.doc_id = agg.doc_id
        |ORDER BY p.doc_id""".stripMargin,
    // DuckDB's range(1, n) is end-exclusive and lists are 1-based, so
    // i -> ws[i]||' '||ws[i+1] over range(1, len) yields exactly the
    // len-1 bigrams of Spark's sequence(0, size-2) over 0-based [].
    "q43_repetition" ->
      """WITH w AS (
        | SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |b AS (
        | SELECT doc_id, ws,
        |  CASE WHEN len(ws) >= 2 THEN
        |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        |  ELSE [] END AS bg
        | FROM w)
        |SELECT doc_id,
        | CAST(len(ws) AS INT) AS n_tokens,
        | CAST(len(list_distinct(ws)) AS INT) AS n_distinct_tokens,
        | CASE WHEN len(ws) > 0 THEN
        |   CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws) END
        |  AS dup_token_ratio,
        | CAST(len(bg) AS INT) AS n_bigrams,
        | CAST(len(list_distinct(bg)) AS INT) AS n_distinct_bigrams,
        | CASE WHEN len(bg) > 0 THEN
        |   CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) END
        |  AS dup_bigram_ratio
        |FROM b ORDER BY doc_id""".stripMargin,
    // q104: char-mass twin of q43 — same split + n-gram construction;
    // top bigram via row_number (cnt DESC, gram DESC ≡ Spark's
    // max(struct)); masses/flags all-integer so hashes can't drift
    "q104_repetition_mass" ->
      """WITH w AS (
        | SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  string_split_regex(text, '\s+') AS ws FROM documents),
        |b AS (
        | SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN
        |   list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        |  ELSE [] END) AS gram FROM w),
        |f AS (
        | SELECT doc_id, unnest(CASE WHEN len(ws) >= 5 THEN
        |   list_transform(range(1, len(ws) - 3), i ->
        |     ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |     ws[i+3] || ' ' || ws[i+4])
        |  ELSE [] END) AS gram FROM w),
        |bc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |top AS (
        | SELECT doc_id, gram AS top2_gram, cnt AS top2_cnt FROM (
        |  SELECT doc_id, gram, cnt, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
        |  FROM bc) WHERE rn = 1),
        |fc AS (
        | SELECT doc_id, CAST(SUM(cnt * length(gram)) AS BIGINT) AS dup5_chars
        | FROM (SELECT doc_id, gram, COUNT(*) AS cnt FROM f GROUP BY 1, 2)
        | WHERE cnt >= 2 GROUP BY 1)
        |SELECT w.doc_id, w.n_chars, top2_gram,
        | CAST(COALESCE(top2_cnt, 0) AS BIGINT) AS top2_cnt,
        | CAST(COALESCE(top2_cnt * length(top2_gram), 0) AS BIGINT)
        |  AS top2_chars,
        | CAST(COALESCE(dup5_chars, 0) AS BIGINT) AS dup5_chars,
        | 5 * COALESCE(top2_cnt * length(top2_gram), 0) >= w.n_chars
        |  AS top2_flag,
        | 20 * COALESCE(dup5_chars, 0) >= 3 * w.n_chars AS dup5_flag
        |FROM w LEFT JOIN top USING (doc_id) LEFT JOIN fc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q65: q43's bigram construction + integer-ratio metrics; rules
    // are COALESCE(..., false) so empty docs fail closed identically
    "q65_gopher_gate" ->
      """WITH w AS (
        | SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |m AS (
        | SELECT doc_id,
        |  CAST(len(ws) AS INT) AS n_tokens,
        |  CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS sum_len,
        |  len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
        |  CASE WHEN len(ws) >= 2 THEN
        |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        |  ELSE [] END AS bg
        | FROM w),
        |r AS (
        | SELECT doc_id, n_tokens,
        |  CASE WHEN n_tokens > 0 THEN
        |    CAST(sum_len AS DOUBLE) / n_tokens END AS mean_word_len,
        |  CASE WHEN n_tokens > 0 THEN
        |    CAST(n_alpha AS DOUBLE) / n_tokens END AS alpha_frac,
        |  CASE WHEN len(bg) > 0 THEN
        |    CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) END
        |   AS dup_bigram_ratio
        | FROM m)
        |SELECT doc_id, n_tokens, mean_word_len, alpha_frac,
        | dup_bigram_ratio,
        | (COALESCE(n_tokens BETWEEN 50 AND 100000, false)
        |  AND COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, false)
        |  AND COALESCE(alpha_frac >= 0.8, false)
        |  AND COALESCE(dup_bigram_ratio <= 0.2, false)) AS pass
        |FROM r ORDER BY doc_id""".stripMargin,
    "q33_prep_pipeline" ->
      """WITH survivors AS (
        | SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |scored AS (
        | SELECT d.source, d.text, string_split_regex(d.text, '\s+') AS w
        | FROM documents d JOIN survivors s ON d.doc_id = s.doc_id),
        |q AS (
        | SELECT source, text, w,
        |  (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
        |     / CAST(len(w) AS DOUBLE))
        |   * (CAST(least(len(w), 100) AS DOUBLE) / 100.0) AS quality
        | FROM scored)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(CAST(len(w) AS BIGINT)) AS BIGINT) AS total_tokens,
        | CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars
        |FROM q WHERE quality >= 0.5 AND length(text) >= 100
        |GROUP BY source ORDER BY source""".stripMargin,
    "q13_token_count" ->
      """SELECT doc_id, lang, length(text) AS n_chars,
        | len(string_split_regex(text, '\s+')) AS n_ws_tokens,
        | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q14_quality_score" ->
      """WITH t AS (
        | SELECT doc_id, string_split_regex(text, '\s+') AS w,
        |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha
        | FROM documents)
        |SELECT doc_id,
        | len(w) AS n_tokens,
        | len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','it'))) AS n_stopwords,
        | CAST(len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS stopword_ratio,
        | CAST(n_alpha AS DOUBLE) / CAST(len(w) AS DOUBLE) AS avg_token_len,
        | (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE) / CAST(len(w) AS DOUBLE))
        |   * (CAST(least(len(w), 100) AS DOUBLE) / 100.0) AS quality_score
        |FROM t ORDER BY doc_id""".stripMargin,
    // q61: q14's exact score construction, then the q37a histogram
    // shape — discrete median = MIN score whose cumulative count
    // reaches 1-based position ceil(0.5*n), per language
    "q61_quality_gate" ->
      """WITH t AS (
        | SELECT doc_id, lang, string_split_regex(text, '\s+') AS w
        | FROM documents),
        |s AS (
        | SELECT doc_id, lang,
        |  (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE) / CAST(len(w) AS DOUBLE))
        |    * (CAST(least(len(w), 100) AS DOUBLE) / 100.0) AS quality_score
        | FROM t),
        |hist AS (
        | SELECT lang, quality_score, COUNT(*) AS c
        | FROM s GROUP BY lang, quality_score),
        |cum AS (
        | SELECT lang, quality_score,
        |  SUM(c) OVER (PARTITION BY lang ORDER BY quality_score) AS cum,
        |  SUM(c) OVER (PARTITION BY lang) AS n
        | FROM hist),
        |th AS (
        | SELECT lang, MIN(CASE WHEN cum >= ceil(n * 0.5)
        |                       THEN quality_score END) AS lang_median
        | FROM cum GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.quality_score, th.lang_median
        |FROM s JOIN th ON s.lang = th.lang
        |WHERE s.quality_score >= th.lang_median
        |ORDER BY s.doc_id""".stripMargin,
    "q15_lang_id" ->
      """WITH t AS (
        | SELECT doc_id, lang, string_split_regex(text, '\s+') AS w FROM documents),
        |s AS (
        | SELECT doc_id, lang,
        |  len(list_filter(w, x -> x IN ('the','a','and','of','to','is'))) AS score_en,
        |  len(list_filter(w, x -> x IN ('el','la','de','que','y','en'))) AS score_es,
        |  len(list_filter(w, x -> x IN ('le','la','et','les','des','un'))) AS score_fr,
        |  len(list_filter(w, x -> x IN ('der','die','und','das','ist','ein'))) AS score_de,
        |  len(list_filter(w, x -> x IN ('de5','shi4','le5','zai4','he2','you3'))) AS score_zh
        | FROM t)
        |SELECT doc_id, lang, score_en, score_es, score_fr, score_de, score_zh,
        | CASE
        |  WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de AND score_en >= score_zh THEN 'en'
        |  WHEN score_es >= score_fr AND score_es >= score_de AND score_es >= score_zh THEN 'es'
        |  WHEN score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
        |  WHEN score_de >= score_zh THEN 'de'
        |  ELSE 'zh' END AS pred_lang,
        | CAST(CASE
        |  WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de AND score_en >= score_zh THEN 'en'
        |  WHEN score_es >= score_fr AND score_es >= score_de AND score_es >= score_zh THEN 'es'
        |  WHEN score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
        |  WHEN score_de >= score_zh THEN 'de'
        |  ELSE 'zh' END = lang AS INT) AS is_correct
        |FROM s ORDER BY doc_id""".stripMargin,
    "q16_fingerprint" ->
      """SELECT doc_id,
        | CASE WHEN length(text) >= 8 THEN
        |   list_min(list_transform(
        |     range(0, CAST(floor((length(text)-8)/4) AS INT) + 1),
        |     i -> md5(substr(text, i*4+1, 8))))
        | ELSE NULL END AS fingerprint,
        | length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q17_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id,
        | COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keeper_doc_id""".stripMargin)
}
