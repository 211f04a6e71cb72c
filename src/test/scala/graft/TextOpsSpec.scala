package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.queries.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  /** documents-shaped dir with texts shorter than one 8-char shingle. */
  private lazy val shortDir: String = {
    val dir = Files.createTempDirectory("graft-short").toString
    Seq(
      (1L, "hi"),            // < 8 chars
      (2L, "1234567"),       // exactly 7
      (3L, "12345678"),      // exactly one shingle
      (4L, "a much longer document body"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q16 fingerprint: <8-char texts get NULL, not end-relative substrings") {
    // regression: unguarded, Spark's sequence(0, negative) counted DOWN
    // and negative substring starts counted from the END of the string —
    // silently diverging from the oracle's NULL on short docs
    val rows = TextOps.q16Fingerprint(spark, shortDir).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("fingerprint"))).toMap
    assert(rows(1L).isEmpty, "2-char text must fingerprint to NULL")
    assert(rows(2L).isEmpty, "7-char text must fingerprint to NULL")
    assert(rows(3L).contains(
      java.security.MessageDigest.getInstance("MD5")
        .digest("12345678".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString))
    assert(rows(4L).nonEmpty)
  }

  test("q13/q14 run clean over degenerate short texts") {
    assert(TextOps.q13TokenCount(spark, shortDir).count() == 4)
    assert(TextOps.q14QualityScore(spark, shortDir).count() == 4)
  }

  test("q43 repetition: known ratios; 1-token docs survive the bigram guard") {
    val rows = TextOps.q43Repetition(spark, shortDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.size == 4) // incl. the 1-token doc (ANSI negative-seq trap)
    rows.values.foreach { r =>
      val nBg = r.getInt(r.fieldIndex("n_bigrams"))
      if (nBg == 0) assert(r.isNullAt(r.fieldIndex("dup_bigram_ratio")))
    }
    // crafted: "a a a b" → 4 tokens 2 distinct → dup_token_ratio 0.5;
    // bigrams [a a, a a, a b] → 3, 2 distinct → 1/3
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q43").toString
    Seq((1L, "a a a b")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val r = TextOps.q43Repetition(spark, dir).head()
    assert(r.getInt(1) == 4 && r.getInt(2) == 2)
    assert(r.getDouble(3) == 0.5)
    assert(r.getInt(4) == 3 && r.getInt(5) == 2)
    assert(math.abs(r.getDouble(6) - 1.0 / 3.0) < 1e-15)
  }

  test("q137 DSIR: target-like candidates outrank disjoint ones; no target leaks") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-q137").toString
    Seq(
      (1L, "alpha beta gamma alpha beta", "en", "tgt"),  // target distribution
      (2L, "alpha gamma beta beta alpha", "en", "tgt"),
      (3L, "alpha beta gamma beta", "de", "cand"),       // target-like candidate
      (4L, "zulu yankee xray zulu", "de", "cand"),       // disjoint candidate
      (5L, "alpha zulu", "fr", "cand"))                  // mixed
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q137DsirSelect(spark, dir).collect()
    assert(rows.forall(_.getString(1) != "en"), "selection must be candidates only")
    assert(rows.length == 3) // fewer candidates than K: all ranked
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    def score(id: Long) = byId(id).getLong(4)
    // doc 3 shares every token with the target: strictly positive and first
    assert(rows.head.getLong(0) == 3L && score(3L) > 0L,
      s"target-like doc must rank first: ${rows.toSeq}")
    // doc 4 shares none: its tokens are over-represented in the raw
    // pool only, so every bucket weight it touches is negative
    assert(score(4L) < 0L, s"disjoint doc must score negative: ${rows.toSeq}")
    assert(score(3L) > score(5L) && score(5L) > score(4L),
      "mixed doc lands between target-like and disjoint")
  }

  test("q142 LM bucketing: hand-computed surprisal, thresholds, buckets") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-q142").toString
    // en LM: aa×6, bb×2 ⇒ T=8, D = 8+2049 = 2057
    //   s(aa)  = bitlen((2057 div 7)²)−1  = bitlen(293²)−1  = 16
    //   s(bb)  = bitlen((2057 div 3)²)−1  = bitlen(685²)−1  = 18
    //   s(oov) = bitlen(2057²)−1          = 22
    Seq(
      (1L, "aa aa aa aa", "en", "t"), // surp 64, score 16000
      (2L, "aa bb bb aa", "en", "t"), // surp 68, score 17000
      (3L, "aa aa aa", "de", "c"),    // surp 48, score 16000
      (4L, "zz zz", "de", "c"),       // all-OOV: surp 44, score 22000
      (5L, "aa zz", "fr", "c"))       // mixed: surp 38, score 19000
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    // N=5, hist cum over scores (16000→2, 17000→1, 19000→1, 22000→1):
    // t1 = 16000 (first cum·3 ≥ 5), t2 = 19000 (first cum·3 ≥ 10)
    val rows = TextOps.q142LmBucket(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(rows == Map(
      1L -> ((4L, 64L, 16000L, "head")),
      2L -> ((4L, 68L, 17000L, "middle")),
      3L -> ((3L, 48L, 16000L, "head")),
      4L -> ((2L, 44L, 22000L, "tail")),
      5L -> ((2L, 38L, 19000L, "middle"))), s"got: $rows")
  }

  test("q142: corpus-scale bucket invariants (coverage, monotone cut, head mass)") {
    // the synthetic corpus draws every language from one token pool, so
    // distribution-SHAPE claims (en head-heavier than de) don't hold
    // here — the invariants below are what the threshold cut GUARANTEES
    // on any input; the value-level check is the DuckDB oracle
    val rows = TextOps.q142LmBucket(spark, SparkSpec.sfDir).collect()
    val n = rows.length
    assert(n > 0)
    val byBucket = rows.groupBy(_.getString(5))
      .view.mapValues(_.map(_.getLong(4))).toMap
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
    // monotone cut: every head score < every middle score < every tail
    def maxOf(b: String) = byBucket.get(b).map(_.max)
    def minOf(b: String) = byBucket.get(b).map(_.min)
    for (hi <- maxOf("head"); lo <- minOf("middle")) assert(hi < lo)
    for (hi <- maxOf("middle"); lo <- minOf("tail")) assert(hi < lo)
    for (hi <- maxOf("head"); lo <- minOf("tail")) assert(hi < lo)
    // cum(t1)·3 ≥ N by construction — head always holds ≥ a third
    assert(byBucket("head").length * 3 >= n)
  }

  test("q145/q146 BPE: hand-computed merges, greedy leftmost semantics, early stop") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bpe").toString
    // words: abab ×2, ab ×1, a ×1
    //  round 1 pairs: (a,b) = 2·2 + 1 = 5, (b,a) = 2 → merge (a,b)
    //    'abab' must merge BOTH (a,b) pairs in one round (back-to-back
    //    pairs re-emit the consumed boundary) → ' ab  ab '
    //  round 2 pairs: (ab,ab) = 2 → merge; then NO pairs remain —
    //    rounds 3..8 must stop early on both engines
    Seq((1L, "abab abab ab a", "en", "t"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val merges = TextOps.q145BpeMerges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq == Seq((1L, "a", "b", 5L), (2L, "ab", "ab", 2L)),
      s"got: ${merges.mkString(", ")}")
    val tokens = TextOps.q146BpeApply(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tokens == Map("abab" -> 2L, "ab" -> 1L, "a" -> 1L),
      s"got: $tokens")
  }

  test("q147: hand-computed fertility under the learned merges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fert").toString
    // same corpus as the q145 fixture: merges (a,b) then (ab,ab) —
    // abab segments to 1 subword (4 chars), ab to 1 (2), a to 1 (1)
    // n_words 4, n_subwords 4, n_chars 11 ⇒ fertility 10⁶, c/s 2.75·10⁶
    Seq((1L, "abab abab ab a", "en", "t"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val r = TextOps.q147BpeFertility(spark, dir).collect()
    assert(r.length == 1 && r(0).getString(0) == "en")
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
      r(0).getLong(4), r(0).getLong(5))
      == ((4L, 4L, 11L, 1000000L, 2750000L)), s"got: ${r(0)}")
  }

  test("q147: corpus-scale invariants — fertility ≥ 1, chars/sub ≥ 1, every lang covered") {
    val rows = TextOps.q147BpeFertility(spark, SparkSpec.sfDir).collect()
    val langs = Tables(spark, SparkSpec.sfDir, "documents")
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet == langs)
    rows.foreach { r =>
      assert(r.getLong(4) >= 1000000L, s"fertility < 1 word: $r")
      assert(r.getLong(5) >= 1000000L, s"subword wider than its chars: $r")
      assert(r.getLong(2) <= r.getLong(3),
        s"more subwords than characters: $r")
    }
  }

  test("q148: drift — the frozen tokenizer fragments unseen delta text") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-drift").toString
    // md5-uniform(1)=0.77 → standing (trains the model);
    // md5-uniform(6)=0.088 → delta (never seen): 'abab' compresses to
    // one subword under its own merges, 'cd' stays character-split
    Seq((1L, "abab abab", "en", "t"), (6L, "cd cd", "en", "t"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.q148BpeDrift(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == Map(
      "standing" -> ((2L, 2L, 8L, 1000000L, 4000000L)),
      "delta"    -> ((2L, 4L, 4L, 2000000L, 1000000L))), s"got: $got")
  }

  test("q148: corpus-scale invariants — both classes, sane ppm bounds") {
    val rows = TextOps.q148BpeDrift(spark, SparkSpec.sfDir).collect()
    assert(rows.map(_.getString(0)).toSet == Set("delta", "standing"))
    rows.foreach { r =>
      assert(r.getLong(4) >= 1000000L && r.getLong(5) >= 1000000L,
        s"impossible ppm: $r")
    }
  }

  test("the BPE model persists as a content-addressed artifact a later JVM can consume") {
    val merges = TextOps.q145BpeMerges(spark, SparkSpec.sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // bypass the in-JVM memo: the artifact on disk must carry the
    // identical merge table (what a fresh serving process would read)
    val art = TextOps.bpeModelArtifact(spark, SparkSpec.sfDir)
    val persisted = graft.sources.ArtifactStore.readIfPresent(spark, art)
      .getOrElse(fail(s"no persisted tokenizer artifact at $art"))
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(persisted.toSeq == merges.toSeq,
      "persisted tokenizer diverged from the served merge table")
  }

  test("q145: corpus-scale merges are well-formed and strictly learned in count order") {
    val rows = TextOps.q145BpeMerges(spark, SparkSpec.sfDir).collect()
    assert(rows.length == TextOps.BpeRounds)
    assert(rows.map(_.getLong(0)).toSeq == (1 to TextOps.BpeRounds).map(_.toLong),
      "rounds must be dense and ordered")
    // merged symbols never contain the encoding delimiters
    assert(rows.forall(r => !r.getString(1).contains(" ")
      && !r.getString(2).contains(" ")))
    assert(rows.forall(_.getLong(3) > 0L))
  }

  test("q143: LM-score maintenance reads artifact+change only; never the corpus") {
    val base = TextOps.versionedCorpusWithRemoval(spark, SparkSpec.sfDir)
    TextOps.lmScoresAt(spark, base, 1L)
    // add branch (v2): prev artifact + delta + the frozen LM — the LM
    // is chain state, the corpus is not
    val add = TextOps.incrementalLmScoreFrame(spark, base, 2L)
    val strayAdd = add.inputFiles.filterNot(f =>
      f.contains(TextOps.lmScoreArtifact(base, 1L)) ||
        f.contains(TextOps.lmArtifact(base)) ||
        changeTableFile("documents_delta", 2L)(f))
    assert(add.inputFiles.nonEmpty && strayAdd.isEmpty,
      s"add maintenance reads beyond artifact+delta+LM: ${strayAdd.take(3).mkString(", ")}")
    TextOps.lmScoresAt(spark, base, 2L)
    // subtract branch (v3): prev artifact + tombstone ids only — no
    // LM read, no corpus read (id-keyed anti-join needs neither)
    val sub = TextOps.incrementalLmScoreFrame(spark, base, 3L)
    val straySub = sub.inputFiles.filterNot(f =>
      f.contains(TextOps.lmScoreArtifact(base, 2L)) ||
        changeTableFile("documents_removed", 3L)(f))
    assert(sub.inputFiles.nonEmpty && straySub.isEmpty,
      s"subtract maintenance reads beyond artifact+tombstones: ${straySub.take(3).mkString(", ")}")
    assert(!sub.inputFiles.exists(f =>
      f.contains("/documents/") || f.contains("_data/documents-")),
      "subtract maintenance re-scans the corpus")
  }

  test("q143: id-only tombstones are exact; the delta scores under the frozen v1 model") {
    import graft.sources.Versioned
    val lb = Files.createTempDirectory("graft-lm-idonly").toString + "/lake"
    val v1docs = Seq((1L, "aa aa aa aa", "en"), (2L, "bb bb", "de"))
      .toDF("doc_id", "text", "lang")
    Versioned.publish(spark, lb, Seq(
      Versioned.TableSpec("documents", v1docs),
      Versioned.TableSpec("documents_delta", v1docs)))
    TextOps.lmScoresAt(spark, lb, 1L)
    // the delta doc's tokens would shift a RETRAINED model; the chain
    // must score it under v1's LM
    val delta = Seq((3L, "aa zz", "fr")).toDF("doc_id", "text", "lang")
    Versioned.publish(spark, lb, Seq(
      Versioned.TableSpec("documents", v1docs.unionByName(delta)),
      Versioned.TableSpec("documents_delta", delta)))
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    val frozenLm = TextOps.lmOf(v1docs)
    val v2 = keyed(TextOps.lmScoresAt(spark, lb, 2L))
    assert(v2(3L) == keyed(TextOps.lmScoreOf(delta, frozenLm))(3L),
      "delta doc not scored under the frozen v1 LM")
    assert(v2.keySet == Set(1L, 2L, 3L))
    // v3: remove doc 2 with an ID-ONLY tombstone — exact here (the
    // artifact is doc-keyed), where the CMS/DSIR chains must rebuild
    Versioned.publish(spark, lb, Seq(
      Versioned.TableSpec("documents",
        v1docs.unionByName(delta).filter(col("doc_id") =!= 2L)),
      Versioned.TableSpec("documents_removed", Seq(2L).toDF("doc_id"))))
    val frame = TextOps.incrementalLmScoreFrame(spark, lb, 3L)
    assert(!frame.inputFiles.exists(f =>
      f.contains("/documents/") || f.contains("_data/documents-")),
      "id-only tombstones must NOT force a corpus rebuild for a doc-keyed chain")
    val got = keyed(TextOps.lmScoresAt(spark, lb, 3L))
    val want = keyed(TextOps.lmScoreOf(
      v1docs.unionByName(delta).filter(col("doc_id") =!= 2L), frozenLm))
    assert(got == want, s"removal ≠ never-ingested: $got vs $want")
  }

  test("q144 NB: hand-computed class stats, priors, argmin, lexicographic ties") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-q144").toString
    // classes: en (docs 1,3), de (doc 2), ax (doc 4 — de's exact twin,
    // planted to force a score tie broken lexicographically)
    // tc: en 6, de 3, ax 3 ⇒ D: en 2055, de/ax 2052
    //   s_en(aa)=16 s_en(bb)=20; s_de/ax(aa)=22 s_de/ax(bb)=18
    // priors (nd=4): en qp=2→ps=2; de/ax qp=4→ps=4
    Seq(
      (1L, "aa aa aa", "en", "t"),
      (2L, "bb bb bb", "de", "t"),
      (3L, "aa aa bb", "en", "t"),
      (4L, "bb bb bb", "ax", "t"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.q144NbClassify(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> (("en", 50L)), // 3·16+2 beats 3·22+4
      2L -> (("ax", 58L)), // de and ax tie at 58 — 'ax' < 'de'
      3L -> (("en", 54L)), // 2·16+20+2
      4L -> (("ax", 58L))), s"got: $got")
  }

  test("q144: corpus-scale invariants — total coverage, preds from the class set") {
    val rows = TextOps.q144NbClassify(spark, SparkSpec.sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "one prediction per document")
    val langs = rows.map(_.getString(1)).toSet
    assert(rows.map(_.getString(2)).toSet.subsetOf(langs),
      "every prediction is an observed class")
    assert(rows.forall(_.getLong(3) >= 0L), "surprisal is non-negative")
  }

  test("q141: DSIR count maintenance reads artifact+change only; id-only tombstones force rebuild") {
    val base = TextOps.versionedCorpusWithRemoval(spark, SparkSpec.sfDir)
    // add branch (v2): prev artifact + delta, never the corpus
    val add = TextOps.incrementalDsirFrame(spark, base, 2L)
    val strayAdd = add.inputFiles.filterNot(f =>
      f.contains(TextOps.dsirArtifact(base, 1L)) ||
        changeTableFile("documents_delta", 2L)(f))
    assert(add.inputFiles.nonEmpty && strayAdd.isEmpty,
      s"add maintenance reads beyond artifact+delta: ${strayAdd.take(3).mkString(", ")}")
    // subtract branch (v3): prev artifact + tombstone table only
    val sub = TextOps.incrementalDsirFrame(spark, base, 3L)
    val straySub = sub.inputFiles.filterNot(f =>
      f.contains(TextOps.dsirArtifact(base, 2L)) ||
        changeTableFile("documents_removed", 3L)(f))
    assert(sub.inputFiles.nonEmpty && straySub.isEmpty,
      s"subtract maintenance reads beyond artifact+tombstones: ${straySub.take(3).mkString(", ")}")
    assert(!sub.inputFiles.exists(f =>
      f.contains("/documents/") || f.contains("_data/documents-")),
      "subtract maintenance re-scans the corpus")
    // no counter may net negative (contract violation would)
    val neg = TextOps.dsirCountsAt(spark, base, 3L)
      .filter(col("tc") < 0 || col("rc") < 0).count()
    assert(neg == 0, s"$neg negative maintained counters")

    // a lake whose tombstones lack lang cannot subtract per class:
    // the chain must fall back to the full rebuild, never drift
    import graft.sources.Versioned
    val lb = Files.createTempDirectory("graft-dsir-idonly").toString + "/lake"
    val d1 = Seq((1L, "alpha beta", "en"), (2L, "gamma delta", "de"))
      .toDF("doc_id", "text", "lang")
    Versioned.publish(spark, lb, Seq(
      Versioned.TableSpec("documents", d1),
      Versioned.TableSpec("documents_delta", d1)))
    TextOps.dsirCountsAt(spark, lb, 1L)
    Versioned.publish(spark, lb, Seq(
      Versioned.TableSpec("documents", d1.filter(col("doc_id") =!= 2L)),
      Versioned.TableSpec("documents_removed",
        Seq((2L, "gamma delta")).toDF("doc_id", "text")))) // no lang
    val fb = TextOps.incrementalDsirFrame(spark, lb, 2L)
    assert(fb.inputFiles.exists(f => f.contains("_data/documents-")),
      "text-only tombstones must force the full rebuild")
    // and the rebuild lands on exactly the survivors' counts
    val got = TextOps.dsirCountsAt(spark, lb, 2L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = TextOps.dsirCountsOf(d1.filter(col("doc_id") =!= 2L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("q104 char-mass: planted masses, max-struct tie-break, guard rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-q104").toString
    Seq(
      (1L, "x y z w v x y z w v"),        // repeated 5-gram, 4-way bigram tie
      (2L, "spam spam spam spam spam x"), // dominant bigram, no dup 5-gram
      (3L, "solo"))                       // <2 tokens: guard row survives
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q104RepetitionMass(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.size == 3, "row conservation incl. the gram-less doc")
    val r1 = rows(1L)
    // bigrams x y / y z / z w / w v all cnt 2 — tie-break picks the
    // lexicographically largest gram, mirroring the oracle's gram DESC
    assert(r1.getAs[String]("top2_gram") == "z w")
    assert(r1.getAs[Long]("top2_cnt") == 2L)
    assert(r1.getAs[Long]("top2_chars") == 6L)
    assert(r1.getAs[Long]("dup5_chars") == 18L) // "x y z w v" ×2 × 9 chars
    assert(r1.getAs[Boolean]("top2_flag") && r1.getAs[Boolean]("dup5_flag"))
    val r2 = rows(2L)
    assert(r2.getAs[String]("top2_gram") == "spam spam")
    assert(r2.getAs[Long]("top2_cnt") == 4L)
    assert(r2.getAs[Long]("top2_chars") == 36L)
    assert(r2.getAs[Long]("dup5_chars") == 0L)
    assert(r2.getAs[Boolean]("top2_flag") && !r2.getAs[Boolean]("dup5_flag"))
    val r3 = rows(3L)
    assert(r3.isNullAt(r3.fieldIndex("top2_gram")))
    assert(r3.getAs[Long]("top2_cnt") == 0L &&
      r3.getAs[Long]("top2_chars") == 0L && r3.getAs[Long]("dup5_chars") == 0L)
    assert(!r3.getAs[Boolean]("top2_flag") && !r3.getAs[Boolean]("dup5_flag"))
  }

  test("q46 detects and masks planted emails/phones; clean docs untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pii").toString
    Seq(
      (1L, "reach me at bob@example.com or 555-123-4567 thanks"),
      (2L, "two mails a@b.io c@d.org no phone"),
      (3L, "nothing sensitive here at all"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q46PiiScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getInt(1) == 1 && rows(1L).getInt(2) == 1
      && rows(1L).getInt(3) == 1)
    assert(rows(2L).getInt(1) == 2 && rows(2L).getInt(2) == 0)
    assert(rows(3L).getInt(3) == 0)
    // clean doc's scrubbed hash is the original text's hash
    val cleanMd5 = spark.sql(
      "SELECT md5(CAST('nothing sensitive here at all' AS BINARY))").head().getString(0)
    assert(rows(3L).getString(4) == cleanMd5)
    assert(rows(1L).getString(4) != cleanMd5)
  }

  test("q47 strips lines shared by >= minDf docs, keeps order, handles all-boilerplate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bp").toString
    val header = "SUBSCRIBE TO OUR NEWSLETTER"
    val docsDf =
      (1L to 12L).map(i => (i, s"$header\nunique body $i\nmore text $i")) :+
        (100L, header) // only boilerplate
    docsDf.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q47BoilerplateStrip(spark, dir, minDf = 10).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.size == 13)
    // header (df=13) stripped everywhere; per-doc unique lines kept in order
    val r1 = rows(1L)
    assert(r1.getInt(1) == 3 && r1.getLong(2) == 2L)
    val expect = spark.sql(
      "SELECT md5(CAST('unique body 1\nmore text 1' AS BINARY))").head().getString(0)
    assert(r1.getString(3) == expect, "kept lines must reassemble in order")
    // all-boilerplate doc: zero lines kept, md5 of empty string
    assert(rows(100L).getLong(2) == 0L)
    assert(rows(100L).getString(3) == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("q53 flags planted eval-set leaks and only those") {
    import spark.implicits._
    val evalSet = Seq(
      (1000L, "what is the capital city of france exactly"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim leak: shares many 3-grams with the eval doc
      (1L, "quiz answer: what is the capital city of france exactly paris"),
      // partial leak: two shared 3-grams ("the capital city",
      // "capital city of")
      (2L, "the capital city of spain is madrid"),
      // clean: overlapping words but no shared 3-gram
      (3L, "france has a capital and a city"),
      // short doc (< 3 tokens): no grams, never contaminated
      (4L, "tiny doc"))
      .toDF("doc_id", "text")
    val out = TextOps.decontaminate(corpus, evalSet).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L)._2 && out(1L)._1 >= 5,
      s"verbatim leak must be heavily flagged: ${out(1L)}")
    assert(out(2L) == (2L, true), s"two shared 3-grams: ${out(2L)}")
    assert(out(3L) == (0L, false), "word overlap without 3-gram overlap is clean")
    assert(out(4L) == (0L, false), "short docs have no grams")
  }

  test("q64 attributes each leak to its strongest eval doc; ties take lowest id") {
    import spark.implicits._
    val evalSet = Seq(
      (1000L, "what is the capital city of france exactly"),
      (1050L, "the capital city of spain is lovely"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // shares 6 grams with 1000, only 2 with 1050 → attributed to 1000
      (1L, "quiz answer: what is the capital city of france exactly paris"),
      // shares 4 grams with 1050 ("the capital city", "capital city of",
      // "city of spain", "of spain is"), 2 with 1000 → attributed to 1050
      (2L, "the capital city of spain is madrid"),
      // exactly ONE shared gram with EACH eval doc → tie → lowest id
      (3L, "zz qq the capital city yy ww"),
      // clean → absent from the attribution output entirely
      (4L, "france spain capitals compared"))
      .toDF("doc_id", "text")
    val out = TextOps.contamAttribution(corpus, evalSet).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._1 == 1000L && out(1L)._2 >= 6, s"doc 1: ${out.get(1L)}")
    assert(out(2L) == (1050L, 4L), s"doc 2: ${out.get(2L)}")
    assert(out(3L) == (1000L, 1L), s"tie must break to lowest id: ${out.get(3L)}")
    assert(!out.contains(4L), "clean docs must not be attributed")
  }

  test("q60 bloom-prefiltered decontamination is bit-identical to q53") {
    // the core claim: no false negatives in the prefilter + exact
    // verify join ⇒ the composition equals the plain broadcast probe,
    // row for row, over the full sf corpus
    val exact = TextOps.q53Decontaminate(spark, SparkSpec.sfDir).collect()
    val bloom = TextOps.q60BloomDecontam(spark, SparkSpec.sfDir).collect()
    assert(exact.length == bloom.length)
    assert(exact.sameElements(bloom), "bloom path diverged from exact path")
  }

  test("bloom probe: hits, null passthrough, aggressive fpp stays exact") {
    import spark.implicits._
    val evalSet = Seq((1000L, "what is the capital city of france exactly"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "quiz answer: what is the capital city of france exactly paris"),
      (2L, "the capital city of spain is madrid"),
      (3L, "france has a capital and a city"),
      (4L, "tiny doc"))
      .toDF("doc_id", "text")
    // fpp 0.5 floods the prefilter with false positives — the verify
    // join must eliminate every one (flags identical to the q53 test)
    val out = TextOps.decontaminateBloom(corpus, evalSet, fpp = 0.5)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L)._2 && out(1L)._1 >= 5)
    assert(out(2L) == (2L, true))
    assert(out(3L) == (0L, false))
    assert(out(4L) == (0L, false))
    // expression-level: null probes stay null (UnaryExpression default),
    // and members are always might-contained (no false negatives)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(10, 0.01)
    bf.putBinary("alpha beta gamma".getBytes("UTF-8"))
    val bc = spark.sparkContext.broadcast(bf)
    val probed = Seq(Some("alpha beta gamma"), None).toDF("g")
      .select(graft.functions.BloomProbe.mightContain($"g", bc).as("hit"))
      .collect()
    assert(probed(0).getBoolean(0), "inserted member must probe true")
    assert(probed(1).isNullAt(0), "null input must yield null, not false")
  }

  test("q61 keeps exactly the docs at/above their language's discrete median") {
    // independent driver-side oracle over the 500-row sf corpus: sort
    // each language's scores, take the value at 1-based position
    // ceil(0.5*n), keep docs with score >= it
    val scored = TextOps.q14QualityScore(spark, SparkSpec.sfDir)
      .select("doc_id", "quality_score")
      .join(Tables(spark, SparkSpec.sfDir, "documents")
        .select("doc_id", "lang"), "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val medians = scored.groupBy(_._3).map { case (lang, rs) =>
      val s = rs.map(_._2).sorted
      lang -> s(math.ceil(0.5 * s.length).toInt - 1)
    }
    val expected = scored.collect {
      case (id, sc, lang) if sc >= medians(lang) => id
    }.toSet
    val out = TextOps.q61QualityGate(spark, SparkSpec.sfDir).collect()
    assert(out.map(_.getLong(0)).toSet == expected)
    // reported threshold matches per row, and the gate held
    out.foreach { r =>
      assert(r.getDouble(3) == medians(r.getString(1)))
      assert(r.getDouble(2) >= r.getDouble(3))
    }
    // sanity: a median gate keeps at least half of every language
    val keptByLang = out.groupBy(_.getString(1)).view.mapValues(_.length)
    scored.groupBy(_._3).foreach { case (lang, rs) =>
      assert(keptByLang.getOrElse(lang, 0) * 2 >= rs.length,
        s"$lang lost more than half its docs to its own median")
    }
  }

  test("q63 packs bins into ordered <eos>-joined sequences") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q63").toString
    Seq(
      (1L, "A", "a b c"), (2L, "A", "d e f"), (3L, "A", "g h i"),
      (4L, "B", "x y"))
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .write.parquet(s"$dir/documents.parquet")
    // budget 6: source A exclusive cumsums 0,3,6 → bins 0,0,1
    val out = TextOps.q63PackConcat(spark, dir, budget = 6).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(("A", 0L)) == (2L, 6L, "a b c <eos> d e f"),
      s"bin A/0 mispacked: ${out(("A", 0L))}")
    assert(out(("A", 1L)) == (1L, 3L, "g h i"))
    assert(out(("B", 0L)) == (1L, 2L, "x y"))
    assert(out.size == 3)
  }

  test("q65 gate: each rule fails exactly its planted violator") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q65").toString
    Seq(
      // passes every rule: 60 distinct medium words
      (1L, (1 to 60).map(i => s"word$i").mkString(" ")),
      // fails ONLY length: 3 tokens
      (2L, "good words here"),
      // fails ONLY alpha: 60 distinct numeric tokens (mean len in range)
      (3L, (100 to 159).map(_.toString).mkString(" ")),
      // fails ONLY dup-bigram: two tokens alternating 30 times
      (4L, Seq.fill(30)("alpha beta").mkString(" ")),
      // fails ONLY word length: 60 distinct very long words
      (5L, (1 to 60).map(i => s"extraordinarilylongword$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextOps.q65GopherGate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("q66/q67: composition cells and frequency spectrum on a known corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q66").toString
    Seq(
      (1L, "A", "en", "a b c"),
      (2L, "A", "es", "d e"),
      (3L, "B", "en", "a a"))
      .toDF("doc_id", "source", "lang", "text")
      .write.parquet(s"$dir/documents.parquet")

    val comp = TextOps.q66Composition(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(comp(("A", "en")) == (1L, 3L, 3.0 / 7.0))
    assert(comp(("A", "es")) == (1L, 2L, 2.0 / 7.0))
    assert(comp(("B", "en")) == (1L, 2L, 2.0 / 7.0))

    val spec = TextOps.q67FreqSpectrum(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a:3, b/c/d/e:1 → four singletons, one 3-frequency token
    assert(spec == Map(1L -> 4L, 3L -> 1L))
  }

  test("q54 sampling is deterministic, rate-respecting, and language-weighted") {
    val a = TextOps.q54SampleMix(spark, SparkSpec.sfDir).collect()
    val b = TextOps.q54SampleMix(spark, SparkSpec.sfDir).collect()
    assert(a.sameElements(b), "identical inputs must sample identically")
    // every surviving key is under its rate by construction
    assert(a.forall(r => r.getDouble(2) < r.getDouble(3)))
    // the dominant language is actually downsampled: survivor fraction
    // for en must be well under the keep-everything languages'
    val total = Tables(spark, SparkSpec.sfDir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_.getString(1)).map { case (l, rs) => l -> rs.length }
    val enFrac = kept.getOrElse("en", 0).toDouble / total("en")
    assert(enFrac > 0.1 && enFrac < 0.4,
      s"en keep-fraction should track its 0.25 rate: $enFrac")
  }

  test("q55 source cap trims every source to K, deterministically") {
    val out = TextOps.q55SourceCap(spark, SparkSpec.sfDir).collect()
    val perSource = out.groupBy(_.getString(1)).map { case (s, rs) => s -> rs.length }
    assert(perSource.values.forall(_ <= 10), s"cap violated: $perSource")
    // every source present in the corpus survives (the cap trims, it
    // never eliminates a domain)
    val nSources = Tables(spark, SparkSpec.sfDir, "documents")
      .select("source").distinct().count()
    assert(perSource.size.toLong == nSources)
    // reproducible subsample: the kept set is a function of the data
    assert(out.sameElements(TextOps.q55SourceCap(spark, SparkSpec.sfDir).collect()))
    // K above every source's count → the pass-through path keeps ALL
    // rows (no source is ranked at all)
    val total = Tables(spark, SparkSpec.sfDir, "documents").count()
    assert(TextOps.q55SourceCap(spark, SparkSpec.sfDir, k = 1000).count() == total)
  }

  test("q56 chunk dedup keeps first occurrences and reassembles in order") {
    import spark.implicits._
    // planted corpus: doc 1 and doc 2 share an exact 10-word chunk
    // (doc 2's SECOND chunk), doc 3 repeats doc 1's chunk twice more
    val shared = (1 to 10).map(i => s"dup$i").mkString(" ")
    val u = (p: String) => (1 to 10).map(i => s"$p$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkdd").toString
    Seq(
      (1L, "en", "srcA", s"$shared ${u("a")}"),
      (2L, "en", "srcA", s"${u("b")} $shared"),
      (3L, "en", "srcB", s"$shared $shared"))
      .toDF("doc_id", "lang", "source", "text")
      .write.parquet(s"$dir/documents.parquet")

    val out = TextOps.q56ChunkDedup(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    // doc 1 owns the first occurrence → survives intact
    assert(out(1L) == (2, 2, s"$shared ${u("a")}"))
    // doc 2 loses only the shared chunk, keeps its own, order intact
    assert(out(2L) == (2, 1, u("b")))
    // doc 3 was nothing but repeats → fully deduplicated away
    assert(out(3L) == (2, 0, ""))
  }

  test("q57 pack bins = exclusive per-source token cumsum over budget") {
    val rows = TextOps.q57PackBins(spark, SparkSpec.sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (src, rs) =>
      var cum = 0L
      rs.sortBy(_._1).foreach { case (id, _, n, bin) =>
        assert(bin == cum / 512,
          s"doc $id of $src: bin $bin != ${cum / 512} (cum $cum)")
        cum += n
      }
    }
    // every source starts its own bin sequence at 0
    assert(rows.groupBy(_._2).values
      .forall(rs => rs.minBy(_._1)._4 == 0L))
  }

  test("q75: chunk windows cover every token with the declared overlap") {
    val W = TextOps.ChunkWindow
    val S = TextOps.ChunkStride
    val rows = TextOps.q75ChunkWindows(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nTok = Tables(spark, sfDir, "documents")
      .select($"doc_id", size(split($"text", "\\s+")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(_._1).toSet == nTok.keySet)
    rows.groupBy(_._1).foreach { case (doc, chunks) =>
      val n = nTok(doc)
      val sorted = chunks.sortBy(_._2)
      // starts are exactly 0, S, 2S, … while < n; idx enumerates them
      sorted.zipWithIndex.foreach { case ((_, idx, start, len), i) =>
        assert(idx == i && start == i.toLong * S)
        assert(len == math.min(W.toLong, n - start), s"doc $doc window $i")
      }
      // full coverage: the last window reaches the last token
      val (_, _, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen == n)
    }
    // content, not just geometry: chunk_md5 IS the md5 of the actual
    // token slice — including the overlapping tokens shared between
    // consecutive windows (recomputed from raw text, Spark-free)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hashes = TextOps.q75ChunkWindows(spark, sfDir)
      .filter($"doc_id" < 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getString(4)).toMap
    val sample = Tables(spark, sfDir, "documents").filter($"doc_id" < 5)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(sample.nonEmpty)
    sample.foreach { case (doc, text) =>
      val toks = text.split("\\s+", -1)
      // the suppression rule, independently restated: starts step S
      // from 0 while the PREVIOUS window has not yet reached the end
      val starts = 0 until math.max(toks.length - (W - S), 1) by S
      assert(starts.map(_.toLong).toSet ==
        hashes.keySet.collect { case (d, st) if d == doc => st },
        s"doc $doc emits the wrong window starts")
      starts.foreach { st =>
        val want = md5hex(toks.slice(st, st + W).mkString(" "))
        assert(hashes((doc, st.toLong)) == want,
          s"doc $doc window at $st hashes wrong content")
      }
    }
  }

  test("q74: mixture plan preserves the token budget and sums shares to 1") {
    val rows = TextOps.q74MixturePlan(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble
    // shares are complete mixtures
    assert(math.abs(rows.map(_.getAs[Double]("actual_share")).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getAs[Double]("target_share")).sum - 1.0) < 1e-9)
    // en/es targets pinned (up to the renormalization ulps); the
    // rest split 30% equally
    val byLang = rows.map(r => r.getString(0) -> r).toMap
    assert(math.abs(byLang("en").getAs[Double]("target_share") - 0.5) < 1e-12)
    assert(math.abs(byLang("es").getAs[Double]("target_share") - 0.2) < 1e-12)
    // executing the plan reproduces the budget: Σ rate·tokens = total
    val planned = rows.map(r =>
      r.getAs[Double]("rate") * r.getAs[Long]("n_tokens")).sum
    assert(math.abs(planned - total) / total < 1e-9,
      s"plan moves the budget: $planned vs $total")
    // and lands each language exactly on its target share
    rows.foreach { r =>
      val landed = r.getAs[Double]("rate") * r.getAs[Long]("n_tokens") / total
      assert(math.abs(landed - r.getAs[Double]("target_share")) < 1e-9)
    }

    // a corpus MISSING a pinned language: raw weights renormalize
    // over what's present, so the mixture stays complete and the
    // budget is still preserved (not silently halved)
    val dir = java.nio.file.Files.createTempDirectory("q74docs").toString
    Seq((1L, "a b c", "es", "s", 5L), (2L, "d e", "fr", "s", 3L),
      (3L, "f g h i", "fr", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val partial = TextOps.q74MixturePlan(spark, dir).collect()
    assert(partial.map(_.getString(0)).sorted.toSeq == Seq("es", "fr"))
    assert(math.abs(partial.map(_.getAs[Double]("target_share")).sum - 1.0)
      < 1e-9, "shares must renormalize to a complete mixture")
    val pTotal = partial.map(_.getAs[Long]("n_tokens")).sum.toDouble
    val pPlanned = partial.map(r =>
      r.getAs[Double]("rate") * r.getAs[Long]("n_tokens")).sum
    assert(math.abs(pPlanned - pTotal) / pTotal < 1e-9,
      s"missing-language corpus breaks the budget: $pPlanned vs $pTotal")
    // es keeps 0.2 : 0.3 proportionality against the others' pool
    val m = partial.map(r => r.getString(0) ->
      r.getAs[Double]("target_share")).toMap
    assert(math.abs(m("es") - 0.2 / 0.5) < 1e-9)
    assert(math.abs(m("fr") - 0.3 / 0.5) < 1e-9)

    // a NULL-language group counts into the others' pool (a null-blind
    // `NOT IN` predicate would hand it an unbacked weight — at worst
    // 0.3/0 = Infinity — and silently break the budget)
    val dirN = java.nio.file.Files.createTempDirectory("q74null").toString
    Seq((1L, "a b", "en", "s", 3L), (2L, "c d e", null, "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dirN/documents.parquet")
    val withNull = TextOps.q74MixturePlan(spark, dirN).collect()
    assert(withNull.forall(r =>
      !r.getAs[Double]("rate").isInfinite && !r.getAs[Double]("rate").isNaN))
    val nTotal = withNull.map(_.getAs[Long]("n_tokens")).sum.toDouble
    val nPlanned = withNull.map(r =>
      r.getAs[Double]("rate") * r.getAs[Long]("n_tokens")).sum
    assert(math.abs(nPlanned - nTotal) / nTotal < 1e-9,
      s"null-lang corpus breaks the budget: $nPlanned vs $nTotal")
  }

  test("q77: keeps exactly ceil(0.3·n) docs per language, the highest-scored ones") {
    val perLang = Tables(spark, sfDir, "documents")
      .groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = TextOps.q77QuantileGate(spark, sfDir)
    val keptByLang = kept.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      val want = (3 * n + 9) / 10 // ceil(0.3n) in integer arithmetic
      assert(keptByLang.getOrElse(lang, 0L) == want,
        s"$lang: kept ${keptByLang.get(lang)} of $n, want $want")
    }
    // kept docs are a prefix of the per-language ranking: every kept
    // score must be >= every dropped score within its language
    val minKept = kept.groupBy($"lang")
      .agg(min($"quality_score").as("mn")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dropped = TextOps.q14QualityScore(spark, sfDir)
      .join(Tables(spark, sfDir, "documents").select("doc_id", "lang"), "doc_id")
      .join(kept.select($"doc_id".as("k_id")), $"doc_id" === $"k_id", "left_anti")
    dropped.select($"lang", $"quality_score").collect().foreach { r =>
      assert(r.getDouble(1) <= minKept(r.getString(0)),
        s"dropped doc outscores a kept one in ${r.getString(0)}")
    }
  }

  test("q84: a rare repeated term outranks common fillers; ties break on rarity then term") {
    val dir = Files.createTempDirectory("graft-kw").toString
    Seq(
      (1L, "the the the zebra zebra cat"), // zebra: tf2 df1; the: tf3 df3
      (2L, "the cat cat dog"),             // cat tf2 beats dog tf1
      (3L, "the dog dog bird bird"))       // bird/dog tf2: bird df1 < dog df2
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val top = TextOps.q84Keywords(spark, dir).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getString(2)).toSeq).toMap
    // doc 1: "the" has tf 3 (beats zebra's 2) but zebra is rarer at
    // equal-tf stage — expected order: the(3), zebra(2,df1), cat(1,df2)
    assert(top(1L) == Seq("the", "zebra", "cat"), s"doc1: ${top(1L)}")
    // doc 2: cat tf 2 first; at tf 1, dog (df 2) outranks the (df 3)
    assert(top(2L) == Seq("cat", "dog", "the"), s"doc2: ${top(2L)}")
    // doc 3: bird and dog both tf 2 — bird wins on df 1 < dog's 2
    assert(top(3L).take(2) == Seq("bird", "dog"), s"doc3: ${top(3L)}")
  }

  test("q79: per-language take_tokens sums to exactly min(budget, available)") {
    val avail = TextOps.q13TokenCount(spark, sfDir)
      .groupBy($"lang").agg(sum($"n_ws_tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val taken = TextOps.q79TokenBudget(spark, sfDir)
      .groupBy($"lang").agg(sum($"take_tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    avail.foreach { case (lang, t) =>
      assert(taken.getOrElse(lang, 0L) == math.min(2000L, t),
        s"$lang: took ${taken.get(lang)} of $t under budget 2000")
    }
    // every emitted row contributes: the boundary doc is truncated,
    // never zero-taken
    val rows = TextOps.q79TokenBudget(spark, sfDir).collect()
    assert(rows.forall(_.getAs[Long]("take_tokens") > 0L))
  }

  test("q90: growth curve matches a driver-side replay; vocab_size telescopes") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bucketTokens = docs
      .flatMap { case (id, t) => t.split("\\s+").map((id / 100) -> _) }
      .distinct
    val perBucket = bucketTokens.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.length.toLong).toMap
    val firstSeen = bucketTokens.groupBy(_._2).view
      .mapValues(_.map(_._1).min).toMap
    val newPer = firstSeen.groupBy(_._2).view
      .mapValues(_.size.toLong).toMap

    val got = TextOps.q90VocabGrowth(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
    got.foreach { case (b, nd, nn, _) =>
      assert(nd == perBucket(b), s"bucket $b distinct count")
      assert(nn == newPer.getOrElse(b, 0L), s"bucket $b new-token count")
    }
    // the cumulative column telescopes to the running sum and ends at
    // the full vocabulary size
    val cum = got.scanLeft(0L)(_ + _._3).drop(1)
    assert(got.map(_._4).toSeq == cum.toSeq)
    assert(got.last._4 == firstSeen.size.toLong)
    // novelty can never exceed the batch's distinct count
    got.foreach { case (_, nd, nn, _) => assert(nn <= nd) }
  }

  test("q93: bigram totals, cross-doc distincts, short-doc guard and null ttr") {
    val dir = Files.createTempDirectory("graft-ttr").toString
    Seq(
      (1L, "a b a b a b", "t1"), // 5 bigrams, 2 distinct
      (2L, "x", "t2"),           // <2 tokens → zero bigrams
      (3L, "p q r", "t3"), (4L, "q r s", "t3")) // 4 bigrams, 3 distinct
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.q93DistinctNgrams(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(got("t1") == ((5L, 2L, Some(0.4))), s"repetitious source: $got")
    assert(got("t2") == ((0L, 0L, None)), s"short-doc source: $got")
    assert(got("t3") == ((4L, 3L, Some(0.75))), s"varied source: $got")
  }

  test("q91: uniform alphabet scores zero; single-letter text is flagged") {
    val dir = Files.createTempDirectory("graft-chisq").toString
    Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz" * 4), // perfectly uniform
      (2L, "aaaa"),                           // maximally skewed
      (3L, "the quick brown fox jumps over the lazy dog")) // english-ish
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.q91CharChisq(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((104L, 0L, 0L)), s"uniform text must score 0: $got")
    // c_a=4, n=4: (26*4-4)^2 + 25*(0-4)^2 = 10000 + 400 = 10400 > 5200
    assert(got(2L) == ((4L, 10400L, 1L)), s"skewed text: $got")
    // the pangram is near-uniform over its letters — sanity: computed
    // n excludes spaces, statistic matches a driver-side replay
    val text3 = "the quick brown fox jumps over the lazy dog"
    val counts = ('a' to 'z').map(ch => text3.count(_ == ch).toLong)
    val n3 = counts.sum
    val chisq3 = counts.map(c => { val d = 26 * c - n3; d * d }).sum
    assert(got(3L) == ((n3, chisq3, if (chisq3 > 1300 * n3) 1L else 0L)))
  }

  test("subword_count expression: greedy longest-match with 1-char fallback") {
    import graft.functions.SubwordCount.subwordCount
    val vocab = array(Seq("ab", "abc", "cd").map(lit): _*)
    val got = Seq(
      (1L, Seq("abcd")),   // "abc" + "d" fallback      -> 2
      (2L, Seq("abab")),   // "ab" + "ab"               -> 2
      (3L, Seq("zzz")),    // 3 single-char fallbacks   -> 3
      (4L, Seq("abcabcd")),// "abc" + "abc" + "d"       -> 3
      (5L, Seq("ab", "cd", "", "x"))) // empties skipped -> 1+1+0+1 = 3
      .toDF("id", "ws")
      .select($"id", subwordCount($"ws", vocab).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("q95: no-whitespace (CJK-shaped) words split into multiple subwords") {
    val dir = Files.createTempDirectory("graft-subword").toString
    Seq(
      (1L, "abcabc"),    // one word, covered by its own 4+2 grams -> 2
      (2L, "abc abd"),   // two words, each a vocab 3-gram         -> 2
      (3L, "xyzzy"),     // "xyzz" + 1-char fallback "y"           -> 2
      (4L, "q"))         // 1-char word: below min gram length     -> 1
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // < K distinct grams in this corpus, so the vocabulary holds ALL
    // its 2..4-grams: greedy takes the longest prefix each step
    val got = TextOps.q95SubwordCount(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((1L, 2L)), 2L -> ((2L, 2L)),
      3L -> ((1L, 2L)), 4L -> ((1L, 1L))), s"got $got")
  }

  test("q95: counts match a driver-side greedy replay on the sf corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wordsOf = (t: String) => t.split("\\s+").filter(_.nonEmpty)
    val gramCounts = scala.collection.mutable.Map.empty[String, Long]
    for ((_, t) <- docs; w <- wordsOf(t); n <- 2 to 4;
         p <- 0 to w.length - n)
      gramCounts.updateWith(w.substring(p, p + n))(c => Some(c.getOrElse(0L) + 1))
    val vocab = gramCounts.toSeq
      .sortBy { case (g, c) => (-c, g) }.take(TextOps.SubwordVocabK)
      .map(_._1).toSet
    def greedy(w: String): Long = {
      var pos = 0; var cnt = 0L
      while (pos < w.length) {
        val l = (math.min(4, w.length - pos) to 2 by -1)
          .find(n => vocab(w.substring(pos, pos + n))).getOrElse(1)
        pos += l; cnt += 1
      }
      cnt
    }
    val want = docs.map { case (id, t) =>
      id -> wordsOf(t).map(greedy).sum }.toMap
    val got = TextOps.q95SubwordCount(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == want)
    // subword count never below whitespace count (every word >= 1 unit)
    val words = TextOps.q95SubwordCount(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(words.forall { case (nw, ns) => ns >= nw })
  }

  test("q96: per-language take_subwords sums to exactly min(budget, available)") {
    val langOf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val avail = TextOps.q95SubwordCount(spark, sfDir).collect()
      .map(r => langOf(r.getLong(0)) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val rows = TextOps.q96SubwordBudget(spark, sfDir).collect()
    val taken = rows.map(r => r.getString(1) -> r.getAs[Long]("take_subwords"))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    avail.foreach { case (lang, t) =>
      assert(taken.getOrElse(lang, 0L) == math.min(4000L, t),
        s"$lang: took ${taken.get(lang)} of $t under budget 4000")
    }
    // boundary doc truncated, never zero-taken; head rows fit whole
    assert(rows.forall(_.getAs[Long]("take_subwords") > 0L))
    assert(rows.forall { r =>
      val (n, cum, take) = (r.getAs[Long]("n_subwords"),
        r.getAs[Long]("cum_before"), r.getAs[Long]("take_subwords"))
      take == math.min(n, 4000L - cum)
    })
  }

  test("q101: posting lists capped at min(df,10), ordered tf desc then doc_id") {
    import org.apache.spark.sql.functions._
    val out = TextOps.q101InvertedIndex(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 300)
    out.foreach { r =>
      val df = r.getAs[Long]("df")
      val posts = r.getAs[String]("postings").split(",")
      assert(posts.length == math.min(df, 10L),
        s"term ${r.getString(0)}: ${posts.length} postings for df=$df")
      assert(posts.distinct.length == posts.length)
      assert(r.getAs[Long]("tf_total") >= df)
    }
    // independent cross-check of one term's df/tf/postings head
    val head = out.head
    val term = head.getString(0)
    val tf = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
      .filter(col("t") === term)
      .groupBy("doc_id").agg(count(lit(1)).as("tf")).collect()
    assert(head.getAs[Long]("df") == tf.length)
    assert(head.getAs[Long]("tf_total") == tf.map(_.getAs[Long]("tf")).sum)
    val expectHead = tf.sortBy(r => (-r.getAs[Long]("tf"), r.getAs[Long]("doc_id")))
      .take(10).map(_.getAs[Long]("doc_id").toString)
    assert(head.getAs[String]("postings").split(",").toSeq == expectHead.toSeq)
  }

  test("q111: epoch shuffle is a deterministic per-epoch permutation, shard-local") {
    val a = TextOps.q111EpochShuffle(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val b = TextOps.q111EpochShuffle(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(a.toSeq == b.toSeq, "two runs must produce the identical order")
    val byEpoch = a.groupBy(_._1)
    assert(byEpoch.keySet == Set(0L, 1L))
    // each epoch is a PERMUTATION: every doc exactly once
    val docs0 = byEpoch(0L).map(_._4).sorted
    assert(docs0.toSeq == byEpoch(1L).map(_._4).sorted.toSeq)
    assert(docs0.distinct.length == docs0.length)
    // epochs genuinely reorder: some doc lands in a different shard
    val s0 = byEpoch(0L).map(t => t._4 -> t._2).toMap
    assert(byEpoch(1L).exists(t => s0(t._4) != t._2),
      "epoch 1 must reshuffle shard assignment for at least one doc")
    // positions are contiguous 1..n within every (epoch, shard)
    a.groupBy(t => (t._1, t._2)).foreach { case (k, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"positions not contiguous in $k") }
    // shard balance: md5 spreads ~uniform (loose 3× bound, no flake)
    val sizes = byEpoch(0L).groupBy(_._2).values.map(_.length)
    assert(sizes.max <= 3 * sizes.min,
      s"shards badly skewed: ${sizes.toSeq.sorted}")
  }

  test("q110 kernel: verbatim spans contaminate; paraphrases do not") {
    import graft.queries.Dedup
    val answer = "the secret benchmark answer is exactly forty-two point seven"
    assert(answer.length >= 40)
    val evalSet = Seq((100L, s"question text here. $answer")).toDF("doc_id", "text")
    val train = Seq(
      // verbatim embed: every window inside the copied span must hit
      (1L, s"some unrelated lead-in prose and then $answer trailing text"),
      // paraphrase: same words reordered — char windows must NOT hit
      (2L, "exactly forty-two point seven is the benchmark answer secret the"),
      (3L, "nothing in common with anything at all in this document body"))
      .toDF("doc_id", "text")
    val got = Dedup.massAgainstWindowIndex(
      train, Dedup.distinctWindowsOf(evalSet))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) > 0, "verbatim span must contaminate")
    // expected count: every 40-window fully inside the longest shared
    // substring. Eval has "…here. $answer", train "…then $answer" —
    // the space BEFORE the answer is shared too, so the common span is
    // " " + answer = 61 chars ⇒ 61 − 40 + 1 = 22 windows
    assert(got(1L) == answer.length + 1 - 40 + 1, s"got ${got(1L)}")
    assert(got(2L) == 0, "reordered words must not contaminate char windows")
    assert(got(3L) == 0)
  }

  test("q122: maintained grain ≡ from-scratch; append reads delta only; term aggs exchange-free") {
    import graft.queries.Dedup
    val base = Dedup.versionedCorpus(spark, sfDir)
    TextOps.tfGrainAt(spark, base, 1L) // v1 first, as q122 does
    val incr = TextOps.tfGrainAt(spark, base, 2L)
    val full = TextOps.tfGrainOf(Tables(spark, sfDir, "documents"))
    assert(incr.exceptAll(full).count() == 0, "maintained grain has extra rows")
    assert(full.exceptAll(incr).count() == 0, "maintained grain lost rows")
    // file-exact: the maintenance frame reads the previous artifact
    // and the change table only — the corpus is never re-tokenized
    val frame = TextOps.incrementalTfGrainFrame(spark, base, 2L)
    val prevArt = TextOps.tfGrainArtifact(base, 1L)
    val stray = frame.inputFiles.filterNot(f =>
      f.contains(prevArt) || changeTableFile("documents_delta", 2L)(f))
    assert(frame.inputFiles.nonEmpty && stray.isEmpty,
      s"grain maintenance reads beyond index+delta: " +
        s"${stray.take(3).mkString(", ")}")
    assert(!frame.inputFiles.exists((f => f.contains("/documents/") || f.contains("_data/documents-"))),
      "grain maintenance re-tokenizes the corpus")
    // the bucketed layout pays at read: a term aggregation over the
    // maintained grain plans with NO term exchange
    val agg = incr.groupBy("term")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("df"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("Bucketed: true"),
      s"grain must scan as bucketed:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(term#"),
      s"term agg over the bucketed grain must not exchange:\n$plan")
  }

  test("q128: grain-served BM25 ≡ inline BM25; scoring never reads the corpus") {
    import graft.queries.Dedup
    val fromGrain = TextOps.q128Bm25FromGrain(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val inline = TextOps.q121Bm25Topk(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(fromGrain == inline,
      "grain-served ranking diverged from tokenize-at-query-time")
    assert(fromGrain.nonEmpty, "fixture vacuous — no ranked rows")
    // file-exact: the whole ranking plan reads the grain artifact
    // only — "the corpus is not re-tokenized at query time" as an
    // input-set fact (localCheckpointed query terms scan no files;
    // everything else must resolve to the v2 artifact)
    val base = Dedup.versionedCorpus(spark, sfDir)
    TextOps.tfGrainAt(spark, base, 1L)
    val frame = TextOps.bm25Rank(TextOps.tfGrainAt(spark, base, 2L), 10)
    val art = TextOps.tfGrainArtifact(base, 2L)
    val stray = frame.inputFiles.filterNot(_.contains(art))
    assert(frame.inputFiles.nonEmpty && stray.isEmpty,
      s"bm25 scoring reads beyond the grain artifact: " +
        s"${stray.take(3).mkString(", ")}")
    // the bucketed layout serves the scorer's term-keyed work: df
    // aggregation and the query-term probe plan with no term exchange
    frame.collect()
    val plan = frame.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("Bucketed: true"),
      s"bm25 grain must scan as bucketed:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(term#"),
      s"term-keyed scoring over the bucketed grain must not exchange:\n$plan")
  }

  test("q129: post-removal ranking ≡ ranking over a corpus that never held the docs") {
    import graft.sources.Versioned
    val got = TextOps.q129Bm25Removal(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val base = TextOps.versionedCorpusWithRemoval(spark, sfDir)
    // the from-scratch comparator: tokenize ONLY the survivors (the
    // lake's v3 documents table) and rank — the never-ingested world
    val survivors = Versioned.readAt(spark, base, "documents", 3L)
    val fromScratch = TextOps.bm25Rank(
      TextOps.tfGrainOf(survivors).localCheckpoint(), 10)
      .collect().map(_.toSeq).toSeq
    assert(got == fromScratch,
      "tombstone-chain ranking diverged from the survivor rebuild")
    assert(got.nonEmpty, "fixture vacuous — no ranked rows")
    // no removed doc appears anywhere in the rankings (implied by the
    // equality above, asserted directly for the audit trail)
    val removed = Versioned.readAt(spark, base, "documents_removed", 3L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(removed.nonEmpty, "fixture vacuous — nothing was removed")
    assert(got.forall(r => !removed.contains(r(3).asInstanceOf[Long])),
      "a removed doc surfaced in post-removal rankings")
  }

  test("q130/searchBm25: ad-hoc queries score through the same seam; unknown terms drop") {
    import graft.queries.Dedup
    val rows = TextOps.q130SearchBm25(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(rows.nonEmpty, "fixture vacuous — no ranked rows")
    // one query_id (0), contiguous ranks from 1
    assert(rows.forall(_(0) == 0L), "fixed query must be query_id 0")
    assert(rows.map(_(2)) == (1L to rows.size.toLong).toList,
      "ranks must be contiguous from 1")
    // the rendered query is the two heaviest terms, space-joined sorted
    val base = Dedup.versionedCorpus(spark, sfDir)
    TextOps.tfGrainAt(spark, base, 1L)
    val tf = TextOps.tfGrainAt(spark, base, 2L)
    val top2 = tf.groupBy("term")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("tf")).as("n"))
      .orderBy(org.apache.spark.sql.functions.col("n").desc,
        org.apache.spark.sql.functions.col("term"))
      .limit(2).collect().map(_.getString(0))
    assert(rows.head(1) == top2.sorted.mkString(" "),
      s"rendered query ${rows.head(1)} != derived ${top2.mkString(" ")}")
    // searchBm25 with the same string = q130 row-for-row (the REST
    // endpoint's contract rides this identity)
    val viaSearch = TextOps.searchBm25(spark, sfDir, top2.mkString(" "))
      .collect().map(_.toSeq).toSeq
    assert(viaSearch == rows, "searchBm25 diverged from q130")
    // duplicate + unknown terms: dedup'd and dropped from SCORING
    // (the rendered query still echoes what was asked) — ranking must
    // equal the clean single-term search, never error
    val noisy = TextOps.searchBm25(spark, sfDir,
      s"${top2(0)} ${top2(0)} zz__never_a_token__zz")
      .collect().map(_.toSeq).toSeq
    val clean = TextOps.searchBm25(spark, sfDir, top2(0))
      .collect().map(_.toSeq).toSeq
    assert(noisy.nonEmpty &&
      noisy.map(r => (r(2), r(3), r(4))) ==
        clean.map(r => (r(2), r(3), r(4))),
      "noisy query must rank exactly as its known term alone")
    assert(TextOps.searchBm25(spark, sfDir, "zz__never_a_token__zz")
      .collect().isEmpty, "all-unknown query must return no rows")
  }

  test("q131: serving artifacts ≡ full-grain recompute; stats subtract removals exactly") {
    import graft.queries.Dedup
    import graft.sources.Versioned
    val served = TextOps.q131Bm25Serve(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val recomputed = TextOps.q130SearchBm25(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(served == recomputed && served.nonEmpty,
      "artifact-served ranking diverged from full-grain recompute")
    // stats maintenance is file-exact: v2's frame reads the previous
    // stats artifact and the delta only — never the corpus, never the
    // full length table
    val base = Dedup.versionedCorpus(spark, sfDir)
    val f2 = TextOps.incrementalCorpusStatsFrame(spark, base, 2L)
    val stray2 = f2.inputFiles.filterNot(f =>
      f.contains(TextOps.corpusStatsArtifact(base, 1L)) ||
        changeTableFile("documents_delta", 2L)(f))
    assert(f2.inputFiles.nonEmpty && stray2.isEmpty,
      s"stats maintenance reads beyond prev+delta: ${stray2.take(3).mkString(", ")}")
    // removal: the subtraction recovers removed lengths from the
    // PREVIOUS length artifact (doc-keyed, no text needed) and lands
    // on exactly the survivors' aggregate
    // chain origin at v2, the oldest version the lake's GC retains
    // (current+previous): a chain may join a lake's life mid-history —
    // the fallback full-build from that version's corpus IS the origin
    val rm = TextOps.versionedCorpusWithRemoval(spark, sfDir)
    TextOps.docLenAt(spark, rm, 2L)
    TextOps.corpusStatsAt(spark, rm, 2L)
    val s3 = TextOps.corpusStatsAt(spark, rm, 3L).collect().head
    val survivors = Versioned.readAt(spark, rm, "documents", 3L)
    val expect = TextOps.docLenOf(survivors)
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("len")),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))).collect().head
    assert(s3.getLong(0) == expect.getLong(0) &&
      s3.getLong(1) == expect.getLong(1),
      s"stats after removal ${s3} != survivors' aggregate ${expect}")
    val f3 = TextOps.incrementalCorpusStatsFrame(spark, rm, 3L)
    val stray3 = f3.inputFiles.filterNot(f =>
      f.contains(TextOps.corpusStatsArtifact(rm, 2L)) ||
        f.contains(TextOps.docLenArtifact(rm, 2L)) ||
        changeTableFile("documents_removed", 3L)(f))
    assert(f3.inputFiles.nonEmpty && stray3.isEmpty,
      s"stats removal reads beyond prev+lens+tombstones: ${stray3.take(3).mkString(", ")}")
    // the length chain's own removal is the doc-keyed anti-join
    val l3 = TextOps.docLenAt(spark, rm, 3L)
    val gone = Versioned.readAt(spark, rm, "documents_removed", 3L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gone.nonEmpty &&
      l3.collect().forall(r => !gone.contains(r.getLong(0))),
      "a removed doc survived in the length artifact")
  }
  /** The lake's current version and its grain, the inputs of both
    * BM25 serving paths. */
  private def currentGrain(dir: String) = {
    import graft.queries.Dedup
    import graft.sources.Versioned
    val base = Dedup.versionedCorpus(spark, dir)
    val v = Versioned.currentVersion(spark, base).get
    (base, v, TextOps.tfGrainAt(spark, base, v))
  }

  test("searchBm25's single-query plan ≡ bm25RankQueries on edge cases") {
    val (_, _, tf) = currentGrain(sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    def same(q: String, k: Int = 10) = {
      val single = rows(TextOps.searchBm25(spark, sfDir, q, k))
      val multi = rows(TextOps.bm25RankQueries(tf,
        Some(TextOps.userQueryTerms(spark, q)), k))
      assert(single == multi, s"'$q' top-$k diverged from the multi-query path")
      single
    }
    val vocab = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val Seq(t0, t1) = vocab.take(2).map(_._1).toSeq
    // duplicated and unknown terms; an all-unknown query
    assert(same(s"$t0 $t0 zz__never__zz $t1").nonEmpty)
    assert(same("zz__never__zz yy__never__yy").isEmpty)
    // non-ASCII: the rendered query sorts terms by UTF-8 bytes, as
    // sort_array does — U+1F600 after U+FF5A, though its UTF-16
    // surrogates sort before it
    val mixed = same(s"$t1 ｚ \uD83D\uDE00 é Ω")
    assert(mixed.nonEmpty && mixed.head(1).toString.endsWith("ｚ \uD83D\uDE00"),
      s"rendered query ${mixed.headOption.map(_(1))}")
    // score ties break on doc_id, also when the top-K cut falls inside
    // a tie: rank every term as its own query, find an adjacent tie
    val perTerm = TextOps.bm25RankQueries(tf,
        Some(vocab.take(100).map(_._1).toSeq.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("query_id", "term")),
        1000).collect()
    val tie = perTerm.groupBy(_.getLong(0)).values
      .flatMap(rs => rs.sortBy(_.getLong(2)).sliding(2)
        .collectFirst { case Array(a, b) if a.getLong(4) == b.getLong(4) =>
          (a.getString(1), a.getLong(2).toInt) })
      .headOption
    assert(tie.nonEmpty, "fixture vacuous — no tied scores")
    tie.foreach { case (term, cut) => same(term, cut); same(term, cut + 1) }
    // topK larger than the candidate set
    val all = same(t1, 100000)
    assert(all.size == vocab.find(_._1 == t1).get._2)
  }

  test("searchBm25 on an empty corpus version (nd = 0) returns no rows") {
    // Spark runs ANSI by default: an inlined `totlen DIV nd` literal
    // with nd = 0 would fail at constant folding
    val dir = Files.createTempDirectory("graft-empty-corpus").toString
    spark.range(0).select(col("id").as("doc_id"), lit("").as("text"),
        lit("en").as("lang"), lit("t").as("source"), lit(0L).as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    val (base, v, tf) = currentGrain(dir)
    assert(TextOps.corpusStatsAt(spark, base, v).collect().head.getLong(1) == 0L)
    assert(TextOps.searchBm25(spark, dir, "a b").collect().isEmpty)
    assert(TextOps.bm25RankQueries(tf, Some(TextOps.userQueryTerms(spark, "a b")),
      10).collect().isEmpty)
  }

  test("searchBm25: a warm search runs ≤ 3 jobs and scans only its terms' grain buckets") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (base, v, tf) = currentGrain(sfDir)
    val terms = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(3).collect()
      .map(_.getString(0)).toSeq
    val q = terms.mkString(" ")
    TextOps.searchBm25(spark, sfDir, q).collect() // warm: memoized stats
    val (rows, jobs) = jobsOf(TextOps.searchBm25(spark, sfDir, q).collect())
    assert(rows.nonEmpty, "fixture vacuous — no ranked rows")
    assert(jobs >= 1 && jobs <= 3, s"a warm search ran $jobs jobs")
    val grain = TextOps.tfGrainArtifact(base, v)
    val selected = TextOps.searchBm25(spark, sfDir, q).queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(grain)) =>
        s.metadata.get("SelectedBucketsCount") }
    val buckets = terms.toDF("t")
      .select(pmod(hash(col("t")), lit(graft.queries.Dedup.IndexBuckets)))
      .distinct().count()
    assert(selected.size == 1, s"grain scans: $selected")
    selected.head match {
      case Some(s) =>
        val n = s.takeWhile(_.isDigit).toInt
        assert(n <= buckets, s"grain scan selects $s for $buckets term buckets")
      case None => fail("the grain scan prunes no buckets")
    }
  }


  test("tf-grain chain composes past depth two: v3 = append of an append, still exact") {
    import graft.sources.Versioned
    val base = java.nio.file.Files
      .createTempDirectory("graft-tfgchain").toString + "/lake"
    def d(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val doc1 = 1L -> "alpha beta alpha gamma"
    val doc2 = 2L -> "beta beta delta"
    val doc3 = 3L -> "epsilon alpha epsilon"
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", d(doc1)),
      Versioned.TableSpec("documents_delta", d(doc1))))
    TextOps.tfGrainAt(spark, base, 1L)
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", d(doc1, doc2)),
      Versioned.TableSpec("documents_delta", d(doc2))))
    TextOps.tfGrainAt(spark, base, 2L)
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", d(doc1, doc2, doc3)),
      Versioned.TableSpec("documents_delta", d(doc3))))
    val v3 = TextOps.tfGrainAt(spark, base, 3L) // append of an append
    val scratch = TextOps.tfGrainOf(d(doc1, doc2, doc3))
    assert(v3.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(v3).count() == 0,
      "depth-3 grain chain diverged from the from-scratch grain")
    // v3 maintenance reads v2's artifact + Δ3 only (the chain survives
    // GC of v1 — artifacts, not lake versions, carry the history)
    val files = TextOps.incrementalTfGrainFrame(spark, base, 3L).inputFiles
    val prevArt = TextOps.tfGrainArtifact(base, 2L)
    assert(files.nonEmpty && files.forall(f =>
      f.contains(prevArt) || changeTableFile("documents_delta", 3L)(f)),
      s"v3 grain maintenance read beyond chain+delta: ${files.mkString(", ")}")
  }

  test("q126: tombstoned removal ≡ never ingested; reads grain+tombstones only") {
    val base = TextOps.versionedCorpusWithRemoval(spark, sfDir)
    val v3 = TextOps.tfGrainAt(spark, base, 3L)
    val all = Tables(spark, sfDir, "documents")
    val survivors = all.join(
      TextOps.removalSlice(all).select($"doc_id"), Seq("doc_id"), "left_anti")
    // the fixture actually removes something, and every removed doc's
    // entire grain contribution vanishes
    val removedIds = TextOps.removalSlice(all).select($"doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(removedIds.nonEmpty, "removal slice empty — fixture vacuous")
    assert(v3.filter($"doc_id".isin(removedIds.toSeq: _*)).count() == 0,
      "removed docs still present in the maintained grain")
    // value identity: chain-with-removal ≡ from-scratch over survivors
    val scratch = TextOps.tfGrainOf(survivors)
    assert(v3.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(v3).count() == 0,
      "removal through the chain diverged from never-ingested")
    // file-exact: the v3 maintenance frame reads the previous grain
    // artifact and the tombstone table only — no corpus scan, no
    // re-tokenization, exactly an anti-join
    val frame = TextOps.incrementalTfGrainFrame(spark, base, 3L)
    val prevArt = TextOps.tfGrainArtifact(base, 2L)
    val stray = frame.inputFiles.filterNot(f =>
      f.contains(prevArt) || changeTableFile("documents_removed", 3L)(f))
    assert(frame.inputFiles.nonEmpty && stray.isEmpty,
      s"tombstone maintenance reads beyond grain+tombstones: " +
        s"${stray.take(3).mkString(", ")}")
    assert(!frame.inputFiles.exists((f => f.contains("/documents/") || f.contains("_data/documents-"))),
      "tombstone maintenance re-scans the corpus")
  }

  test("q121: planted relevance — tf dominance, length normalization, query derivation") {
    // Controlled vocabulary: fillers f00..f09 at count 100 take ranks
    // 1..10; query terms qa..qj at 90..81 take ranks 11..20 in known
    // order, so the derived queries are q0=(qa,qb), q1=(qc,qd), …
    // All remaining occurrences live in one dump doc, so each query's
    // candidate set is {dump} ∪ the planted target docs.
    val doc1 = (Seq.fill(5)("qa") ++ Seq.fill(5)("qb") ++
      (0 until 10).map(i => s"zza$i")).mkString(" ") // both terms, tf 5
    val doc2 = (Seq("qa") ++ (0 until 19).map(i => s"zzb$i")).mkString(" ")
    val doc3 = (Seq.fill(2)("qc") ++ (0 until 8).map(i => s"zzc$i"))
      .mkString(" ") // tf 2, len 10
    val doc4 = (Seq.fill(2)("qc") ++ (0 until 38).map(i => s"zzd$i"))
      .mkString(" ") // tf 2, len 40 — same tf, 4x longer
    val qCounts = Seq("qa" -> 90, "qb" -> 89, "qc" -> 88, "qd" -> 87,
      "qe" -> 86, "qf" -> 85, "qg" -> 84, "qh" -> 83, "qi" -> 82,
      "qj" -> 81)
    val planted = Map("qa" -> 6, "qb" -> 5, "qc" -> 4) // in docs 2-5
    val dump = (qCounts.flatMap { case (t, n) =>
      Seq.fill(n - planted.getOrElse(t, 0))(t) } ++
      (0 until 10).flatMap(i => Seq.fill(100)(f"f$i%02d"))).mkString(" ")
    val dir = Files.createTempDirectory("graft-bm25").toString
    Seq(1L -> dump, 2L -> doc1, 3L -> doc2, 4L -> doc3, 5L -> doc4)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = TextOps.q121Bm25Topk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // query derivation: ranks 11-20 pair into the expected queries
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(rows.find(_._1 == 0L).get._2 == "qa qb")
    assert(rows.find(_._1 == 1L).get._2 == "qc qd")
    // ranks contiguous from 1, scores positive and non-increasing
    byQ.values.foreach { qr =>
      val sorted = qr.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.map(_._5).toSeq == sorted.map(_._5).sortBy(-_).toSeq)
      assert(sorted.forall(_._5 > 0))
    }
    def rankOf(q: Long, doc: Long): Long =
      rows.find(r => r._1 == q && r._4 == doc).get._3
    // tf dominance: the doc with both query terms at tf 5 beats the
    // single-term tf-1 doc of the same length
    assert(rankOf(0L, 2L) < rankOf(0L, 3L),
      "high-tf both-terms doc must outrank the one-term doc")
    // length normalization: same tf, 4x shorter doc scores higher
    assert(rankOf(1L, 4L) < rankOf(1L, 5L),
      "BM25 length normalization must favor the shorter doc")
  }
}
