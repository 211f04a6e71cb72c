package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.queries.Dedup
import graft.functions.SimHash64

/** Planted-near-duplicate tests for the non-SQL-expressible dedup ops:
  * the testdata corpus has no near-dups (verified), so we synthesize a
  * corpus with known duplicate structure and assert detection. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** documents-shaped corpus: 40 distinct docs + 3 planted near-dups
    * of doc 0 (one word changed) + 1 exact dup of doc 1. */
  private lazy val plantedDir: String = {
    val dir = Files.createTempDirectory("graft-dedup").toString
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(7)
    def doc(i: Int): String =
      (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, doc(i)))
    val nearDups = (0 until 3).map { j =>
      val words = base(0)._2.split(" ")
      words(10 + j) = "CHANGED" + j
      (100L + j, words.mkString(" "))
    }
    val exactDup = Seq((200L, base(1)._2))
    (base ++ nearDups ++ exactDup).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("minhash LSH finds planted near-dups and the exact dup") {
    val pairs = Dedup.minhashCandidatePairs(spark, plantedDir, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)), "near-dup 100 of doc 0 missed")
    assert(pairs.contains((0L, 101L)), "near-dup 101 of doc 0 missed")
    assert(pairs.contains((0L, 102L)), "near-dup 102 of doc 0 missed")
    assert(pairs.contains((1L, 200L)), "exact dup 200 of doc 1 missed")
    // distinct random docs must not flood the candidate set
    assert(pairs.size < 20, s"too many candidate pairs: ${pairs.size}")
  }

  test("simhash: planted near-dups are close in Hamming space, strangers far") {
    val pairs = Dedup.simhashNearDupPairs(spark, plantedDir, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 200L)), "exact dup must have hamming 0")
    assert(pairs.contains((0L, 100L)), "one-word change should stay within 8 bits")
  }

  test("simhash64 expression: identical input → identical hash; order-insensitive-ish") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "a", "b")),
      (2L, Seq("a", "b", "c", "a", "b")),
      (3L, Seq("x", "y", "z", "w", "v"))).toDF("id", "toks")
      .withColumn("h", SimHash64.simhash64($"toks"))
    val hs = df.collect().map(r => r.getLong(0) -> r.getAs[Long]("h")).toMap
    assert(hs(1L) == hs(2L))
    assert(hs(1L) != hs(3L))
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(3L)) > 10)
  }

  test("fnv1a64 matches published test vectors") {
    // public FNV-1a reference values
    assert(SimHash64.fnv1a64(Array.empty[Byte]) == 0xcbf29ce484222325L)
    assert(SimHash64.fnv1a64("a".getBytes("UTF-8")) == 0xaf63dc4c8601ec8cL)
    assert(SimHash64.fnv1a64("foobar".getBytes("UTF-8")) == 0x85944171f73967e8L)
  }

  test("short documents (<3 tokens) survive the shingler under ANSI mode") {
    // regression: sequence(0, size-3) counts DOWN for short docs and the
    // negative array index crashed with INVALID_ARRAY_INDEX (ANSI on)
    val docsDf = Seq(
      (1L, "one"),
      (2L, "two words"),
      (3L, "exactly three words"),
      (4L, "a fuller document with several words here")).toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(docsDf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(sig.size == 4)
    // <3 tokens ⇒ empty shingle set ⇒ null minhashes and null bands
    assert(sig(1L).isNullAt(sig(1L).fieldIndex("mh0")))
    assert(sig(2L).isNullAt(sig(2L).fieldIndex("band0")))
    // >=3 tokens ⇒ real signature
    assert(!sig(3L).isNullAt(sig(3L).fieldIndex("mh0")))
    assert(!sig(4L).isNullAt(sig(4L).fieldIndex("band3")))
    // and the pair generator must not bucket the null bands together
    val bands = Seq(sig(1L), sig(2L)).map(_.getAs[String]("band0"))
    assert(bands.forall(_ == null))
  }

  test("q76: delta doc duplicating a corpus doc is flagged, unique delta doc is not") {
    import graft.queries.TextOps
    // pick real delta-side (key < 0.1) and corpus-side ids by the ONE
    // uniform-key definition, so the test controls which side each
    // planted doc lands on
    val keys = spark.range(0, 300)
      .select($"id", TextOps.uniformKeyOf($"id").as("k"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val deltaIds = keys.filter(_._2 < 0.1).map(_._1)
    val corpusIds = keys.filter(_._2 >= 0.1).map(_._1)
    assert(deltaIds.size >= 2 && corpusIds.size >= 10)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(11)
    def doc(): String =
      (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = corpusIds.take(10).map(id => (id, doc()))
    val dupDelta = (deltaIds(0), corpus.head._2) // exact clone of a corpus doc
    val uniqDelta = (deltaIds(1), doc())
    val dir = Files.createTempDirectory("graft-delta").toString
    (corpus :+ dupDelta :+ uniqDelta).toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.q76DeltaDedup(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    assert(out.keySet == Set(dupDelta._1, uniqDelta._1),
      s"output must be exactly the delta docs, got ${out.keySet}")
    val (nCand, isDup, dupOf) = out(dupDelta._1)
    assert(isDup == 1L && dupOf == corpus.head._1 && nCand >= 1,
      s"clone not flagged against corpus: $nCand $isDup $dupOf")
    assert(out(uniqDelta._1) == ((0L, 0L, -1L)),
      "unique delta doc must pass clean")
  }

  test("q78: a prefix excerpt has containment 1.0 on its side, below 1 on the host's") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(13)
    val host = (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size)))
    val excerpt = host.take(54) // 90% prefix: every excerpt shingle ⊂ host's
    val fillers = (0 until 10).map(i =>
      (10L + i, (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val dir = Files.createTempDirectory("graft-contain").toString
    (fillers :+ (1L, host.mkString(" ")) :+ (2L, excerpt.mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.q78Containment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(5), r.getDouble(6))).toMap
    val pair = rows.get((1L, 2L))
    assert(pair.isDefined, s"excerpt pair not an LSH candidate: ${rows.keySet}")
    val (cHost, cExcerpt) = pair.get
    assert(cExcerpt == 1.0, s"excerpt side must be fully contained: $cExcerpt")
    assert(cHost < 1.0, s"host side must not be fully contained: $cHost")
  }

  test("q81: clone pairs roll up into the right unordered source cells") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(17)
    def doc(): String =
      (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val shared = doc()
    val rows = Seq(
      (1L, shared, "s1"),   // original
      (2L, shared, "s2"),   // syndicated copy in another source
      (3L, shared, "s1")) ++ // re-crawl inside the same source
      (10 until 20).map(i => (i.toLong, doc(), "s3"))
    val dir = Files.createTempDirectory("graft-srcov").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cells = Dedup.q81SourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // pairs (1,2)=(s1,s2), (1,3)=(s1,s1), (2,3)=(s2,s1)→(s1,s2)
    assert(cells == Map(("s1", "s1") -> 1L, ("s1", "s2") -> 2L),
      s"unexpected matrix: $cells")
  }

  test("q18 signatures are stable across runs (deterministic)") {
    val a = Dedup.q18MinhashLsh(spark, sfDir).collect()
    val b = Dedup.q18MinhashLsh(spark, sfDir).collect()
    assert(a.sameElements(b))
  }

  test("connected components: chains collapse transitively, singletons stay") {
    import graft.operators.ConnectedComponents
    val verts = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L)).toDF("id")
    // a diameter-3 chain — label 1 must propagate THROUGH 2 and 3 to 4,
    // which takes multiple rounds, so early convergence is also tested
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (11L, 10L))
      .toDF("src", "dst")
    // threshold 0 forces the distributed propagation loop, so the
    // multi-round diameter-3 behavior stays covered alongside the
    // driver union-find fast path
    Seq(1L << 20, 0L).foreach { threshold =>
      val comp = ConnectedComponents
        .run(spark, verts, edges, smallEdgeThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L), s"threshold=$threshold")
    }
  }

  test("connected components match a union-find oracle on random graphs") {
    import graft.operators.ConnectedComponents
    // seeded generator: deterministic across runs
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val n = 20 + rnd.nextInt(30)
      val ids = (0 until n).map(_ => rnd.nextInt(1000).toLong).distinct
      val edges = (0 until n).map { _ =>
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
      }
      // driver-side union-find oracle
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = ids.map(i => i -> find(i)).toMap
      // both execution paths must agree with the oracle: the driver
      // union-find fast path (default threshold) AND the distributed
      // propagation loop (threshold 0 forces it)
      Seq(1L << 20, 0L).foreach { threshold =>
        val got = ConnectedComponents.run(spark,
            ids.toDF("id"), edges.toDF("src", "dst"),
            smallEdgeThreshold = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want,
          s"trial $trial (n=${ids.size}, threshold=$threshold) diverged")
      }
    }
  }

  test("q41/q42: planted dups collapse to clusters; one representative kept") {
    val clusters = Dedup.q41DupClusters(spark, plantedDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {0,100,101,102} and {1,200} are the planted components
    assert(Seq(0L, 100L, 101L, 102L).forall(clusters(_) == 0L),
      s"near-dup family of 0 split: $clusters")
    assert(clusters(1L) == 1L && clusters(200L) == 1L)
    // every other doc is its own singleton cluster
    val others = clusters.keySet -- Set(0L, 100L, 101L, 102L, 1L, 200L)
    assert(others.forall(id => clusters(id) == id))
    assert(clusters.size == 44) // one row per document, always

    val reps = Dedup.q42DedupCorpus(spark, plantedDir)
      .collect().map(_.getLong(0)).toSet
    assert(reps.size == 40, s"44 docs - 4 removed dups, got ${reps.size}")
    assert(reps.contains(0L) && reps.contains(1L))
    assert(!reps.exists(Set(100L, 101L, 102L, 200L)),
      "a non-representative duplicate survived")
  }

  test("q72/q73: degree finds the planted hub; dup rate counts multi-doc clusters") {
    val deg = Dedup.q72DupDegree(spark, plantedDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg.size == 44) // one row per document, zeros included
    // doc 0's family {0,100,101,102}: every member has ≥1 verified
    // partner; the exact-dup pair {1,200} has degree exactly 1 each
    assert(Seq(0L, 100L, 101L, 102L).forall(deg(_) >= 1), s"family degrees: $deg")
    assert(deg(1L) == 1L && deg(200L) == 1L)
    // degree is symmetric: total degree = 2 × |pairs|
    val nPairs = Dedup.minhashCandidatePairs(spark, plantedDir).count()
    assert(deg.values.sum == 2 * nPairs)
    // strangers stay at zero
    assert(deg.count(_._2 == 0L) == 38)

    val rate = Dedup.q73SourceDupRate(spark, plantedDir).collect()
    assert(rate.length == 1) // planted corpus is single-source
    val r = rate.head
    assert(r.getString(0) == "t" && r.getLong(1) == 44L)
    // exactly the 6 planted docs sit in multi-doc clusters
    assert(r.getLong(2) == 6L, s"n_dup_docs: ${r.getLong(2)}")
    assert(r.getDouble(3) == 6.0 / 44.0)
  }

  test("q69: near-dup cluster members never straddle a split boundary") {
    val rows = Dedup.q69ClusterSplit(spark, plantedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(rows.length == 44) // one row per document, always
    // the planted transitive family {0,100,101,102} and the pair
    // {1,200} must each land wholly inside ONE split — the property
    // the cluster-seeded key exists to guarantee
    val byDoc = rows.map(r => r._1 -> r._3).toMap
    assert(Seq(100L, 101L, 102L).forall(byDoc(_) == byDoc(0L)),
      s"family of 0 straddles splits: ${rows.filter(r => Set(0L, 100L, 101L, 102L)(r._1))}")
    assert(byDoc(200L) == byDoc(1L))
    // stronger: split is a pure function of cluster_id, corpus-wide
    val perCluster = rows.groupBy(_._2).map { case (_, g) => g.map(_._3).toSet }
    assert(perCluster.forall(_.size == 1))
    // all three splits are populated at this corpus size and the
    // assignment is deterministic across runs
    assert(rows.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
    val again = Dedup.q69ClusterSplit(spark, plantedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(rows.toSeq == again.toSeq)
  }

  /** Textbook Levenshtein for cross-checking Spark's builtin. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("q85: every matched pair is in-block, ordered, and its distance is exact") {
    val rows = Dedup.q85FuzzyMatch(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, d) =>
      assert(a < b, s"unordered pair ($a, $b)")
      assert(a.split(" ").last == b.split(" ").last, s"cross-block pair ($a, $b)")
      assert(d == lev(a, b).toLong, s"distance mismatch for ($a, $b)")
      assert(d >= 1 && d <= 3)
    }
    // distinct names never pair with themselves, and the result is
    // exactly the pairs a driver-side replay of block×block produces
    val names = spark.read.parquet(s"$sfDir/part.parquet")
      .select("p_name").distinct().collect().map(_.getString(0))
    val expected = (for {
      a <- names; b <- names
      if a < b && a.split(" ").last == b.split(" ").last && lev(a, b) <= 3
    } yield (a, b)).toSet
    assert(rows.map(r => (r._1, r._2)).toSet == expected)
  }

  test("q94: transitive chains canonicalize to one lexicographic-min key") {
    val dir = Files.createTempDirectory("graft-canon").toString
    // chain: aaaaa ≈ aaabb (2) ≈ abbbb (2), but aaaaa vs abbbb = 4 —
    // only the closure merges the ends; zzz bolt is a singleton block
    Seq("aaaaa gear", "aaabb gear", "abbbb gear", "zzz bolt")
      .zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("p_partkey", "p_name")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = Dedup.q94EntityCanon(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(
      "aaaaa gear" -> (("aaaaa gear", 3L)),
      "aaabb gear" -> (("aaaaa gear", 3L)),
      "abbbb gear" -> (("aaaaa gear", 3L)),
      "zzz bolt"   -> (("zzz bolt", 1L))), s"wrong canonicalization: $got")
  }

  test("q86: exact dup scores is_dup=1 with dot == both norms") {
    val r = Dedup.q86BowCosine(spark, plantedDir)
      .filter($"doc_a" === 1L && $"doc_b" === 200L).collect()
    assert(r.length == 1, "exact-dup pair missing from candidates")
    assert(r(0).getLong(2) == r(0).getLong(3) &&
      r(0).getLong(3) == r(0).getLong(4))
    assert(r(0).getLong(5) == 1L)
  }

  test("q86 kernel: repetition-sensitive where set-Jaccard is blind; zero-overlap joins through") {
    // tf vectors: a = {spam:3}, b = {spam:1,x:1,y:1}, c = {spam:3,z:1},
    // e = {q:1}. As SETS a and b both contain 'spam' (Jaccard 1/3) —
    // tf-cosine sees 3/sqrt(9*3)=0.577 < 0.8 for (a,b) but
    // 9/sqrt(9*10)=0.949 >= 0.8 for (a,c).
    val tf = Seq((1L, "spam", 3L), (2L, "spam", 1L), (2L, "x", 1L),
      (2L, "y", 1L), (3L, "spam", 3L), (3L, "z", 1L), (4L, "q", 1L))
      .toDF("doc_id", "token", "tf")
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.bowCosineVerify(cand, tf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out((1L, 2L)) == ((3L, 9L, 3L, 0L)))
    assert(out((1L, 3L)) == ((9L, 9L, 10L, 1L)))
    // no shared token at all: the left join must still emit the pair
    assert(out((1L, 4L)) == ((0L, 9L, 1L, 0L)))
  }

  test("q105: duplicated-window mass matches a brute-force driver replay") {
    import spark.implicits._
    val k = Dedup.WindowChars
    val texts = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // brute force: every k-window of every doc → per-window distinct
    // docs → per-doc count of positions whose window is cross-doc
    val winDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    for ((id, t) <- texts; i <- 0 to t.length - k)
      winDocs.getOrElseUpdate(t.substring(i, i + k),
        scala.collection.mutable.Set.empty) += id
    val expected = texts.map { case (id, t) =>
      val nw = math.max(t.length - k + 1, 0)
      val dup = (0 to t.length - k)
        .count(i => winDocs(t.substring(i, i + k)).size >= 2)
      id -> ((nw.toLong, dup.toLong))
    }.toMap
    val got = Dedup.q105DupWindowMass(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, "window-mass mismatch vs brute force")
    assert(expected.values.exists(_._2 > 0),
      "fixture has no duplicated windows — test is vacuous")
    // a doc's duplicated windows can never exceed its window count
    got.foreach { case (id, (nw, dup)) =>
      assert(dup <= nw, s"doc $id: dup $dup > windows $nw") }
  }

  test("q106: span coverage matches a boolean-mask replay; bounded by q105 mass") {
    import spark.implicits._
    val k = Dedup.WindowChars
    val texts = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val winDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    for ((id, t) <- texts; i <- 0 to t.length - k)
      winDocs.getOrElseUpdate(t.substring(i, i + k),
        scala.collection.mutable.Set.empty) += id
    // ground truth the straightforward way: mark every char under a
    // duplicated window, count marks — no interval arithmetic to share
    // bugs with the implementation under test
    val expected = texts.map { case (id, t) =>
      val mask = new Array[Boolean](t.length)
      for (i <- 0 to t.length - k
           if winDocs(t.substring(i, i + k)).size >= 2;
           j <- i until i + k) mask(j) = true
      id -> ((t.length.toLong, mask.count(identity).toLong))
    }.toMap
    val got = Dedup.q106DupSpanCoverage(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, "span coverage mismatch vs boolean-mask replay")
    assert(expected.values.exists(_._2 > 0), "fixture has no coverage — vacuous")
    // cross-query invariant: covered chars ≤ k × duplicated windows,
    // and a doc has coverage iff it has duplicated windows
    val mass = Dedup.q105DupWindowMass(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (id, (_, cov)) =>
      assert(cov <= k.toLong * mass(id), s"doc $id: coverage $cov exceeds k×mass")
      assert((cov > 0) == (mass(id) > 0), s"doc $id: coverage/mass disagree") }
  }

  test("q107: delta window mass probes ONLY the standing corpus; replay-exact") {
    import spark.implicits._
    val k = Dedup.WindowChars
    val texts = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def uniform(id: Long): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(h, 16).toDouble / 4294967296.0
    }
    val (freshT, standingT) = texts.partition { case (id, _) => uniform(id) < 0.1 }
    assert(freshT.nonEmpty && standingT.nonEmpty, "split degenerate")
    val standingWins = standingT.flatMap { case (_, t) =>
      (0 to t.length - k).map(i => t.substring(i, i + k)) }.toSet
    val expected = freshT.map { case (id, t) =>
      val nw = math.max(t.length - k + 1, 0)
      val dup = (0 to t.length - k)
        .count(i => standingWins(t.substring(i, i + k)))
      id -> ((nw.toLong, dup.toLong))
    }.toMap
    val got = Dedup.q107DeltaWindowMass(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, "delta mass mismatch vs standing-only replay")
    // only FRESH docs appear — the batch is scored, never the corpus
    assert(got.keySet == freshT.map(_._1).toSet)
    // a fresh doc duplicating another FRESH doc (but nothing standing)
    // must NOT count — q105 on the full corpus differs exactly there
    val full = Dedup.q105DupWindowMass(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (id, (_, dup)) =>
      assert(dup <= full(id), s"doc $id: delta dup exceeds full-corpus dup") }
  }

  test("window_hash61 expression: matches a BigInteger replay; rolls correctly") {
    import graft.functions.WindowHash61
    assert(WindowHash61.K == Dedup.WindowChars,
      "expression window width drifted from the family's")
    // independent replay: positional polynomial in BigInteger — no
    // shared mulmod/rolling code with the implementation under test
    def ref(s: String): Seq[Long] = {
      val Mb = BigInt(WindowHash61.M)
      val cps = s.codePoints().toArray
      (0 to cps.length - WindowHash61.K).map { i =>
        (i until i + WindowHash61.K)
          .map(j => BigInt(cps(j)) *
            BigInt(WindowHash61.B).modPow(BigInt(i + WindowHash61.K - 1 - j), Mb))
          .sum.mod(Mb).toLong
      }
    }
    val samples = Seq(
      "the quick brown fox jumps over the lazy dog and then naps quietly",
      "a" * 40,                       // exactly one window
      "a" * 39,                       // one short of a window → empty
      "züricher straße — ünïcodé padded out to well over forty characters total",
      // 4-byte UTF-8 (surrogate pairs in UTF-16): the byte-walking
      // decoder must count 🚀/𝔘-class code points as ONE unit, exactly
      // like String.codePoints() did — both admitted and departing
      "🚀🎉 emoji-prefixed body that keeps going with ascii to exceed forty chars",
      "mid-string astral 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝕤𝕪𝕞𝕓𝕠𝕝𝕤 surrounded by enough ascii to roll windows")
    import spark.implicits._
    val got = samples.toDF("text")
      .select(WindowHash61.windowHash61($"text").as("h"))
      .as[Seq[Long]].collect()
    samples.zip(got).foreach { case (s, hs) =>
      assert(hs == ref(s), s"hash mismatch for: $s") }
    assert(got(2).isEmpty, "39 chars must yield no windows")
    // all hashes in range and (here) collision-free
    assert(got.flatten.forall(h => h >= 0 && h < WindowHash61.M))
    // SQL registration reaches the same expression
    GraftSession.registerFunctions(spark)
    val viaSql = spark.sql(
      s"SELECT window_hash61('${samples(1)}') AS h").as[Seq[Long]].head()
    assert(viaSql == ref(samples(1)))
  }

  test("q113: incremental index ≡ from-scratch; maintenance reads index+delta only") {
    val base = Dedup.versionedCorpus(spark, sfDir)
    Dedup.windowIndexAt(spark, base, 1L) // v1 first, as q113 does —
    // without it the v2 maintenance correctly falls back to full build
    // value identity: the incrementally-maintained v2 index (merge of
    // v1's artifact with the delta's windows) is EXACTLY the distinct
    // windows of the full corpus — both set-difference directions empty
    val incr = Dedup.windowIndexAt(spark, base, 2L)
    val full = Dedup.distinctWindowsOf(Tables(spark, sfDir, "documents"))
    assert(incr.exceptAll(full).count() == 0, "incremental has extra windows")
    assert(full.exceptAll(incr).count() == 0, "incremental lost windows")
    // ... and the incremental path took the merge branch, not a silent
    // full rebuild: v1's artifact must exist before v2's frame is built
    assert(graft.sources.ArtifactStore
      .readIfPresent(spark, Dedup.windowIndexArtifact(base, 1L)).nonEmpty)

    // file-exact: the maintenance frame reads ONLY the previous
    // artifact and the v2 change table — never v2's corpus
    val frame = Dedup.incrementalWindowFrame(spark, base, 2L)
    val files = frame.inputFiles
    val prevArt = Dedup.windowIndexArtifact(base, 1L)
    assert(files.nonEmpty)
    val stray = files.filterNot(f =>
      f.contains(prevArt) || changeTableFile("documents_delta", 2L)(f))
    assert(stray.isEmpty, s"incremental path reads beyond index+delta: " +
      s"${stray.take(3).mkString(", ")}")
    assert(!files.exists((f => f.contains("/documents/") || f.contains("_data/documents-"))),
      "incremental path re-scans the corpus")

    // bucket-aligned merge pin: the standing side must enter the
    // full-outer merge join straight from its BUCKETED scan — every
    // exchange in the plan belongs to the delta side (O(|delta|)), so
    // a version bump never re-shuffles the index. Two exchanges: the
    // delta's distinct agg and its bucket-count alignment.
    frame.collect()
    val mergePlan = frame.queryExecution.executedPlan.toString
    assert(mergePlan.contains("Bucketed: true"),
      s"standing side must scan as a bucketed table:\n$mergePlan")
    assert(mergePlan.contains("FullOuter"),
      s"merge must be the single-scan full-outer union:\n$mergePlan")
    val nExchanges = raw"Exchange hashpartitioning\(w#"
      .r.findAllIn(mergePlan.linesIterator
        .takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")).size
    assert(nExchanges <= 2,
      s"expected only the delta-side exchanges, found $nExchanges:\n$mergePlan")

    // bytes-measured (the Scale-harness assertion, not just plan
    // shape): input traffic of materializing the maintenance frame is
    // explained by prev-index + delta sizes alone. Slack covers parquet
    // footer re-reads; suites run sequentially in the forked test JVM,
    // so no foreign stages pollute the listener.
    def dirBytes(p: String): Long = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sessionState.newHadoopConf())
        .getContentSummary(hp).getLength
    }
    // delta size resolved through the lake's manifest (layout-agnostic)
    val deltaBytes = graft.sources.Versioned
      .tableFiles(spark, base, "documents_delta", 2L)
      .map(f => dirBytes(f)).sum
    val budget = dirBytes(prevArt) + deltaBytes
    val read = graft.obs.Meter.measure(spark) {
      frame.write.format("noop").mode("overwrite").save()
    }._2.inputBytes
    assert(read > 0, "listener saw no input — measurement broken")
    assert(read <= budget * 3 / 2 + (1L << 20),
      s"incremental maintenance read $read bytes; " +
        s"index+delta budget is $budget")
  }

  test("incremental window chain composes: v3 = merge of a merge, still exact") {
    import graft.sources.Versioned
    val base = java.nio.file.Files
      .createTempDirectory("graft-chain").toString + "/lake"
    val pad = "a shared corpus sentence long enough to produce windows " * 2
    def d(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val doc1 = 1L -> (pad + "version one body")
    val doc2 = 2L -> (pad + "version two adds this distinct continuation")
    val doc3 = 3L -> ("an entirely fresh third-version document with no " +
      "shared prefix but enough length to roll its own windows forward")
    // ingest order: publish, then maintain — as a pipeline would (GC
    // keeps only current+previous versions, so indexing must keep
    // pace; the ARTIFACTS persist regardless, which is what lets the
    // v3 merge consume v2's index after v1's data dir is collected)
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", d(doc1)),
      Versioned.TableSpec("documents_delta", d(doc1))))
    Dedup.windowIndexAt(spark, base, 1L)
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", d(doc1, doc2)),
      Versioned.TableSpec("documents_delta", d(doc2))))
    Dedup.windowIndexAt(spark, base, 2L)
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", d(doc1, doc2, doc3)),
      Versioned.TableSpec("documents_delta", d(doc3))))
    val v3 = Dedup.windowIndexAt(spark, base, 3L) // merge of a merge
    val scratch = Dedup.distinctWindowsOf(d(doc1, doc2, doc3))
    assert(v3.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(v3).count() == 0,
      "depth-3 chain diverged from the from-scratch set")
    // and the v3 maintenance frame reads v2's artifact + Δ3 only
    val files = Dedup.incrementalWindowFrame(spark, base, 3L).inputFiles
    val prevArt = Dedup.windowIndexArtifact(base, 2L)
    assert(files.nonEmpty && files.forall(f =>
      f.contains(prevArt) || changeTableFile("documents_delta", 3L)(f)),
      s"v3 maintenance read beyond chain+delta: ${files.mkString(", ")}")
  }

  test("q114: incremental signature index ≡ full rebuild; append reads delta only") {
    val base = Dedup.versionedCorpus(spark, sfDir)
    Dedup.signatureIndexAt(spark, base, 1L) // v1 first, as q114 does
    // value identity at row granularity: the incrementally-appended v2
    // signature table equals the from-scratch pipeline over the corpus
    val incr = Dedup.signatureIndexAt(spark, base, 2L)
    val full = Dedup.minhashSignatures(
      Tables(spark, sfDir, "documents").select($"doc_id", $"text"))
    assert(incr.exceptAll(full).count() == 0, "incremental has extra rows")
    assert(full.exceptAll(incr).count() == 0, "incremental lost rows")
    // file-exact: the maintenance frame reads ONLY the previous
    // artifact and the change table — the corpus is never re-signed
    val frame = Dedup.incrementalSignatureFrame(spark, base, 2L)
    val prevArt = Dedup.signatureIndexArtifact(base, 1L)
    val stray = frame.inputFiles.filterNot(f =>
      f.contains(prevArt) || changeTableFile("documents_delta", 2L)(f))
    assert(frame.inputFiles.nonEmpty && stray.isEmpty,
      s"signature maintenance reads beyond index+delta: " +
        s"${stray.take(3).mkString(", ")}")
    assert(!frame.inputFiles.exists((f => f.contains("/documents/") || f.contains("_data/documents-"))),
      "signature maintenance re-scans the corpus")
  }

  test("q119: incremental clusters ≡ full recompute; pair probe reads index+delta only") {
    val base = Dedup.versionedCorpus(spark, sfDir)
    Dedup.clusterAssignmentAt(spark, base, 1L) // v1 first, as q119 does
    val incr = Dedup.clusterAssignmentAt(spark, base, 2L)
    // value identity: the star-contracted incremental closure lands on
    // exactly the from-scratch q41 clustering of the full corpus
    val full = Dedup.q41DupClusters(spark, sfDir)
    assert(incr.exceptAll(full).count() == 0, "incremental has extra rows")
    assert(full.exceptAll(incr).count() == 0, "incremental lost rows")
    // the merge branch was available (v1's assignment artifact exists)
    assert(graft.sources.ArtifactStore
      .readIfPresent(spark, Dedup.clusterArtifact(base, 1L)).nonEmpty)
    // file-exact on the corpus-facing piece: the delta pair probe
    // reads the signature INDEX and the change table — never the
    // corpus. (The closure itself runs over the previous assignment
    // artifact + these pairs; ConnectedComponents checkpoints its
    // edges, so the probe frame is where a corpus re-scan could hide.)
    val sig = Dedup.signatureIndexAt(spark, base, 2L)
    val delta = graft.sources.Versioned
      .readAt(spark, base, "documents_delta", 2L).select($"doc_id")
    val probeFiles = Dedup.candidatePairsFrom(sig, Some(delta)).inputFiles
    val sigArt = Dedup.signatureIndexArtifact(base, 2L)
    val stray = probeFiles.filterNot(f =>
      f.contains(sigArt) || changeTableFile("documents_delta", 2L)(f))
    assert(probeFiles.nonEmpty && stray.isEmpty,
      s"delta pair probe reads beyond index+delta: " +
        s"${stray.take(3).mkString(", ")}")
    assert(!probeFiles.exists((f => f.contains("/documents/") || f.contains("_data/documents-"))),
      "delta pair probe re-scans the corpus")
  }

  test("q119: a delta doc bridging two standing clusters merges them") {
    import graft.sources.Versioned
    val base = Files.createTempDirectory("graft-ccbridge").toString + "/lake"
    // Deterministic bridge fixture (seed 0 under java.util.Random —
    // verified against the md5 minhash pipeline): A≈B and C≈D are
    // one-word-changed near-dup pairs over DISJOINT vocabularies
    // (est(A,C) = 0, no shared band), and E = A ++ C sits at exactly
    // est 0.5 with BOTH sides, with a band collision to each — the
    // configuration a naive assign-to-nearest-cluster maintenance
    // cannot represent, because E belongs to two clusters at once.
    val vocabA = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val vocabB = Vector("red", "blue", "green", "amber", "violet",
      "cyan", "teal", "coral", "olive", "plum")
    val rnd = new scala.util.Random(0)
    val a = (0 until 60).map(_ => vocabA(rnd.nextInt(10))).mkString(" ")
    val c = (0 until 60).map(_ => vocabB(rnd.nextInt(10))).mkString(" ")
    val b = { val w = a.split(" "); w(10) = "CHANGEDX"; w.mkString(" ") }
    val d = { val w = c.split(" "); w(10) = "CHANGEDY"; w.mkString(" ") }
    val e = a + " " + c
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val standing = df(1L -> a, 2L -> b, 3L -> c, 4L -> d)
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", standing),
      Versioned.TableSpec("documents_delta", standing)))
    val v1 = Dedup.clusterAssignmentAt(spark, base, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // precondition, not an assumption: v1 really is two clusters
    assert(v1 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L),
      s"fixture must start as two standing clusters: $v1")
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents",
        df(1L -> a, 2L -> b, 3L -> c, 4L -> d, 10L -> e)),
      Versioned.TableSpec("documents_delta", df(10L -> e))))
    val v2 = Dedup.clusterAssignmentAt(spark, base, 2L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L),
      s"bridge doc must merge the two standing clusters: $v2")
  }

  test("signature chain: tombstoned removal deletes a doc's LSH presence exactly") {
    import graft.sources.Versioned
    val base = Files.createTempDirectory("graft-sigrm").toString + "/lake"
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val d1 = 1L -> "alpha beta gamma delta epsilon zeta"
    val d2 = 2L -> "red blue green amber violet cyan"
    val d3 = 3L -> "one two three four five six seven"
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", df(d1, d2)),
      Versioned.TableSpec("documents_delta", df(d1, d2))))
    Dedup.signatureIndexAt(spark, base, 1L)
    // v2: ingest d3 AND remove d2 in the same version — both change
    // directions through one maintenance pass
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", df(d1, d3)),
      Versioned.TableSpec("documents_delta", df(d3)),
      Versioned.TableSpec("documents_removed",
        Seq(2L).toDF("doc_id"))))
    val v2 = Dedup.signatureIndexAt(spark, base, 2L)
    val scratch = Dedup.minhashSignatures(df(d1, d3))
    assert(v2.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(v2).count() == 0,
      "removal+ingest through the chain diverged from never-ingested")
    assert(v2.filter($"doc_id" === 2L).count() == 0,
      "removed doc still has LSH signatures")
    // file-exact: prev artifact + both change tables, never documents
    val frame = Dedup.incrementalSignatureFrame(spark, base, 2L)
    val prevArt = Dedup.signatureIndexArtifact(base, 1L)
    val stray = frame.inputFiles.filterNot(f =>
      f.contains(prevArt) || changeTableFile("documents_delta", 2L)(f) ||
        changeTableFile("documents_removed", 2L)(f))
    assert(frame.inputFiles.nonEmpty && stray.isEmpty,
      s"signature maintenance reads beyond chain+changes: " +
        s"${stray.take(3).mkString(", ")}")
    assert(!frame.inputFiles.exists((f => f.contains("/documents/") || f.contains("_data/documents-"))),
      "signature maintenance re-signs the corpus")
  }

  test("cluster chain: removing a bridge doc SPLITS the cluster (rebuild fallback)") {
    import graft.sources.Versioned
    val base = Files.createTempDirectory("graft-ccsplit").toString + "/lake"
    // the deterministic bridge fixture, run FORWARD then UNDONE:
    // v1 = {A,B,C,D,E} with E = A++C bridging both pairs into ONE
    // cluster; v2 tombstones E — the star-contracted v1 assignment
    // cannot express the split, so the maintenance MUST take the
    // rebuild fallback and land on two clusters again
    val vocabA = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val vocabB = Vector("red", "blue", "green", "amber", "violet",
      "cyan", "teal", "coral", "olive", "plum")
    val rnd = new scala.util.Random(0)
    val a = (0 until 60).map(_ => vocabA(rnd.nextInt(10))).mkString(" ")
    val c = (0 until 60).map(_ => vocabB(rnd.nextInt(10))).mkString(" ")
    val b = { val w = a.split(" "); w(10) = "CHANGEDX"; w.mkString(" ") }
    val d = { val w = c.split(" "); w(10) = "CHANGEDY"; w.mkString(" ") }
    val e = a + " " + c
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", df(1L -> a, 2L -> b, 3L -> c, 4L -> d, 10L -> e)),
      Versioned.TableSpec("documents_delta", df(1L -> a, 2L -> b, 3L -> c, 4L -> d, 10L -> e))))
    val v1 = Dedup.clusterAssignmentAt(spark, base, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v1.values.toSet == Set(1L), s"v1 must be one bridged cluster: $v1")
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", df(1L -> a, 2L -> b, 3L -> c, 4L -> d)),
      Versioned.TableSpec("documents_removed", Seq(10L).toDF("doc_id"))))
    Dedup.signatureIndexAt(spark, base, 2L) // chain kept current
    val v2 = Dedup.clusterAssignmentAt(spark, base, 2L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v2 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L),
      s"removal of the bridge must split the cluster: $v2")
  }

  test("window chain: a removal version forces the full-rebuild fallback") {
    import graft.sources.Versioned
    val base = Files.createTempDirectory("graft-winrm").toString + "/lake"
    val pad = "a corpus sentence long enough to produce sliding windows " * 2
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val d1 = 1L -> (pad + "version one body")
    val d2 = 2L -> (pad + "second document with its own distinct ending")
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", df(d1, d2)),
      Versioned.TableSpec("documents_delta", df(d1, d2))))
    Dedup.windowIndexAt(spark, base, 1L)
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("documents", df(d1)),
      Versioned.TableSpec("documents_delta", df(d1).limit(0)),
      Versioned.TableSpec("documents_removed", Seq(2L).toDF("doc_id"))))
    val v2 = Dedup.windowIndexAt(spark, base, 2L)
    // a distinct-window set cannot subtract — correctness comes from
    // the rebuild fallback, which must drop doc 2's windows entirely
    val scratch = Dedup.distinctWindowsOf(df(d1))
    assert(v2.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(v2).count() == 0,
      "removal version must rebuild to exactly the survivors' windows")
  }

  test("q108: hashed window mass ≡ q105 raw-string mass (collision-free corpus)") {
    val raw = Dedup.q105DupWindowMass(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val hashed = Dedup.q108HashedWindowMass(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hashed == raw,
      "hashing the shuffle key must not change any document's mass")
  }

  test("q99: cohesion matches a driver-side replay of pairs × assignment") {
    val pairs = Dedup.minhashCandidatePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cluster = Dedup.q41DupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = cluster.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val byCluster = pairs.groupBy { case (a, _, _) => cluster(a) }
    val got = Dedup.q99ClusterCohesion(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got.keySet == byCluster.keySet)
    got.foreach { case (cid, (nm, ne, mn, mean, mx)) =>
      val es = byCluster(cid).map(_._3)
      assert(nm == sizes(cid) && ne == es.length.toLong, s"cluster $cid counts")
      assert(mn == es.min && mx == es.max, s"cluster $cid extremes")
      // dyadic-rational sums are order-exact: strict equality is safe
      assert(mean == es.sum / es.length, s"cluster $cid mean")
      // every edge connects two members of the SAME cluster
      byCluster(cid).foreach { case (a, b, _) =>
        assert(cluster(a) == cluster(b) && cluster(a) == cid) }
      // a connected n-member cluster needs at least n-1 edges, and
      // verified edges sit in [0.5, 1]
      assert(ne >= nm - 1)
      assert(mn >= 0.5 && mx <= 1.0 && mn <= mean && mean <= mx)
    }
    assert(got.nonEmpty)
  }

  test("signature index: content ≡ direct signatures; reused; content-addressed") {
    val dir = Files.createTempDirectory("graft-sigidx").toString
    def writeCorpus(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length($"text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeCorpus(Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "zz yy xx ww vv")))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val direct = snap(Dedup.minhashSignatures(
      spark.read.parquet(s"$dir/documents.parquet")))
    val viaIndex = snap(Dedup.signatureIndex(spark, dir))
    assert(viaIndex.toSeq == direct.toSeq,
      "persisted index must be value-identical to direct signatures")
    // second call re-reads the SAME published table — no rebuild: every
    // _SUCCESS marker under the index base keeps its mtime
    val base = new java.io.File(Dedup.indexBase)
    def markers(): Map[String, Long] =
      Option(base.listFiles()).getOrElse(Array.empty)
        .flatMap(d => Option(new java.io.File(d, "_SUCCESS"))
          .filter(_.exists()).map(s => d.getName -> s.lastModified()))
        .toMap
    val before = markers()
    Dedup.signatureIndex(spark, dir).count()
    assert(markers() == before, "re-read must not republish the index")
    // a CHANGED corpus gets a NEW content-addressed path — the old
    // index can never be misread as current
    writeCorpus(Seq((7L, "p q r s t u"), (8L, "p q r s t v")))
    val fresh = Dedup.signatureIndex(spark, dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(fresh == Seq(7L, 8L), s"stale index served after corpus change: $fresh")
  }
}
