package graft

import org.apache.spark.sql.functions._
import graft.queries.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("brute-force knn: self-similarity excluded, ranks 1..5 per query") {
    val rows = Similarity.q21KnnBrute(spark, sfDir).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id"))
      assert(r.getAs[Double]("cosine") <= 1.0 + 1e-9)
    }
    val ranks = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (_, rs) => rs.map(_.getAs[Int]("rank")).sorted.toSeq }
    assert(ranks.forall(_ == Seq(1, 2, 3, 4, 5)))
  }

  test("identical vectors share an LSH bucket") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-lsh").toString
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val v0 = vec()
    val rows = (0 until 30).map(i => (i.toLong, vec(), i % 10)) :+
      ((100L, v0, 0)) :+ ((101L, v0, 0)) // planted identical pair
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val buckets = Similarity.q22LshBuckets(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(buckets(100L) == buckets(101L), "identical vectors must collide")
  }

  test("embedding near-dup finds planted close vectors, not strangers") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-nd").toString
    val rnd = new scala.util.Random(23)
    def vec() = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val v0 = vec()
    val v0close = v0.clone(); v0close(0) += 0.001f // near-identical
    val rows = (0 until 30).map(i => (i.toLong, vec(), i % 10)) :+
      ((100L, v0, 0)) :+ ((101L, v0close, 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = Similarity.embeddingNearDupPairs(spark, dir, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), "planted near-identical pair missed")
    assert(pairs.size <= 2, s"strangers leaked in: $pairs")
  }

  test("quantize coerces NaN/Infinity/overflow vectors to null, never throws") {
    // regression: longValueExact threw NumberFormatException on NaN,
    // failing the whole stage for one corrupt embedding
    import graft.functions.VectorOps._
    val rows = Seq(
      (1L, Array(0.5f, -0.25f, 1.0f)),
      (2L, Array(Float.NaN, 0.1f, 0.2f)),
      (3L, Array(Float.PositiveInfinity, 0.1f, 0.2f)),
      (4L, Array(1.0e13f, 0.1f, 0.2f))).toDF("vec_id", "embedding")
    val out = rows
      .withColumn("q6", vector_quantize($"embedding"))
      .withColumn("nrm", normQ(dot_long($"q6", $"q6")))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.isNullAt(r.fieldIndex("q6")), r.isNullAt(r.fieldIndex("nrm")))).toMap
    assert(out(1L) == ((false, false)), "clean vector must quantize")
    assert(out(2L)._1 && out(2L)._2, "NaN vector must coerce to null")
    assert(out(3L)._1, "Infinity vector must coerce to null")
    assert(out(4L)._1, "out-of-range vector must coerce to null")
    // and a corrupt vector flows through the near-dup pipeline silently
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-nan").toString
    val rnd = new scala.util.Random(5)
    val ok = (0 until 10).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f), i % 3))
    val bad = Seq((99L, Array.fill(64)(Float.NaN), 0))
    (ok ++ bad).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = Similarity.embeddingNearDupPairs(spark, dir, threshold = -1.0)
      .collect()
    assert(pairs.forall(r => r.getLong(0) != 99L && r.getLong(1) != 99L))
  }

  test("IVF ANN achieves reasonable recall vs brute force") {
    val brute = Similarity.q21KnnBrute(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.q23IvfAnn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(ivf.size == brute.size)
    // q23 is no_oracle by design, so this band IS its correctness gate.
    // Derivation: a garbage quantizer (uniform-random cell assignment)
    // makes probing nprobe=2 of nCells=10 cells a blind 0.2 sample of
    // each query's true top-k — recall ≈ 0.2 is the broken floor. A
    // WORKING quantizer does much better even on near-uniform data,
    // because a query's nearest neighbors share its direction and so
    // tend to share its nearest (probed) centroid: measured recall on
    // this corpus is ≈ 0.52. Probing every cell (a broken nprobe) would
    // push recall toward 1.0. Band [0.30, 0.85] fails both failure
    // modes with margin for testdata-regeneration noise around 0.52.
    assert(recall >= 0.30 && recall <= 0.85,
      s"recall $recall outside the working-quantizer band [0.30, 0.85]")
  }

  test("q115: frozen-centroid append ≡ global assignment; reads index+delta only") {
    import graft.queries.Similarity
    val base = Similarity.versionedVectors(spark, sfDir)
    Similarity.ivfIndexAt(spark, base, 1L) // chain origin
    val incr = Similarity.ivfIndexAt(spark, base, 2L)
    // value identity: appending the delta's frozen-codebook assignments
    // equals assigning the WHOLE corpus under the same codebook
    val cb = Similarity.codebookFromIndex(Similarity.ivfIndexAt(spark, base, 1L))
    val full = Similarity.assignCells(Tables(spark, sfDir, "embeddings"), cb)
    assert(incr.exceptAll(full).count() == 0 && full.exceptAll(incr).count() == 0,
      "frozen-centroid append diverged from a global assignment")
    // the codebook the chain carries is exactly the STANDING split's
    // vec_id<10 rows — a delta centroid sneaking in (or a standing one
    // dropping out) would break the freeze
    val standingIds = graft.sources.Versioned
      .readAt(spark, base, "embeddings", 1L)
      .filter(col("vec_id") < 10).select("vec_id").collect()
      .map(_.getLong(0)).sorted
    assert(cb.labels.toSeq == standingIds.toSeq,
      s"codebook ${cb.labels.toSeq} != standing<10 ${standingIds.toSeq}")
    // file-exact: maintenance reads the previous artifact + the change
    // table, never the lake's embeddings table
    val frame = Similarity.incrementalIvfFrame(spark, base, 2L)
    val prevArt = Similarity.ivfIndexArtifact(base, 1L)
    val stray = frame.inputFiles.filterNot(f =>
      f.contains(prevArt) || changeTableFile("embeddings_delta", 2L)(f))
    assert(frame.inputFiles.nonEmpty && stray.isEmpty,
      s"IVF maintenance reads beyond index+delta: ${stray.take(3).mkString(", ")}")
    assert(!frame.inputFiles.exists((f => f.contains("/embeddings/") || f.contains("_data/embeddings-"))),
      "IVF maintenance re-assigns the corpus")
  }

  test("q124: frozen-codebook PQ append ≡ global encode; reads codes+codebook+delta only") {
    import graft.queries.Similarity
    val base = Similarity.versionedVectors(spark, sfDir)
    Similarity.pqCodesAt(spark, base, 1L) // chain origin freezes the codebook
    val incr = Similarity.pqCodesAt(spark, base, 2L)
    // the frozen codebook is its own artifact (GC-proof geometry) and
    // holds exactly the STANDING split's 8 lowest vec_ids
    val cbArt = graft.sources.ArtifactStore
      .readIfPresent(spark, Similarity.pqCodebookArtifact(base))
    assert(cbArt.nonEmpty, "codebook artifact missing")
    val cb = cbArt.get.orderBy(col("vec_id")).collect()
    val standing8 = graft.sources.Versioned
      .readAt(spark, base, "embeddings", 1L)
      .orderBy(col("vec_id")).limit(8).select("vec_id").collect()
      .map(_.getLong(0)).toSeq
    assert(cb.map(_.getLong(0)).toSeq == standing8,
      s"codebook ids ${cb.map(_.getLong(0)).toSeq} != standing-8 $standing8")
    // value identity: appending delta codes equals encoding the WHOLE
    // corpus under the frozen codebook
    val full = Similarity.pqEncodeWith(Tables(spark, sfDir, "embeddings"), cb)
    assert(incr.exceptAll(full).count() == 0 && full.exceptAll(incr).count() == 0,
      "frozen-codebook append diverged from a global encode")
    // file-exact: maintenance reads the previous codes, the codebook
    // artifact, and the change table — never the lake's vector table
    val frame = Similarity.incrementalPqFrame(spark, base, 2L)
    val prevArt = Similarity.pqCodesArtifact(base, 1L)
    val stray = frame.inputFiles.filterNot(f =>
      f.contains(prevArt) || f.contains(Similarity.pqCodebookArtifact(base)) ||
        changeTableFile("embeddings_delta", 2L)(f))
    assert(frame.inputFiles.nonEmpty && stray.isEmpty,
      s"PQ maintenance reads beyond codes+codebook+delta: " +
        s"${stray.take(3).mkString(", ")}")
    assert(!frame.inputFiles.exists((f => f.contains("/embeddings/") || f.contains("_data/embeddings-"))),
      "PQ maintenance re-encodes the corpus")
  }

  test("IVF/PQ chains: vec tombstones anti-join away exactly; geometry survives") {
    import graft.queries.Similarity
    import graft.sources.Versioned
    val base = java.nio.file.Files
      .createTempDirectory("graft-vecrm").toString + "/lake"
    // 30 deterministic 64-dim vectors; ids 0..7 are the PQ training
    // vectors and 0..9 the IVF centroids — remove a NON-centroid id
    // so maintenance stays incremental (removing a centroid row is
    // the documented loud-fallback-on-next-merge case)
    val vecs = (0L until 30L).map { i =>
      (i, (0 until 64).map(j =>
        (((i * 31 + j * 7) % 13).toFloat - 6f) / 6f).toArray, i % 3)
    }
    def df(rows: Seq[(Long, Array[Float], Long)]) =
      rows.toDF("vec_id", "embedding", "label")
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("embeddings", df(vecs)),
      Versioned.TableSpec("embeddings_delta", df(vecs))))
    Similarity.ivfIndexAt(spark, base, 1L)
    Similarity.pqCodesAt(spark, base, 1L)
    val survivors = vecs.filterNot(_._1 == 17L)
    Versioned.publish(spark, base, Seq(
      Versioned.TableSpec("embeddings", df(survivors)),
      Versioned.TableSpec("embeddings_removed", Seq(17L).toDF("vec_id"))))
    val ivf2 = Similarity.ivfIndexAt(spark, base, 2L)
    val pq2 = Similarity.pqCodesAt(spark, base, 2L)
    assert(ivf2.filter(col("vec_id") === 17L).count() == 0 &&
      pq2.filter(col("vec_id") === 17L).count() == 0,
      "removed vector still indexed")
    assert(ivf2.count() == 29 && pq2.count() == 29)
    // value identity: removal through the chain ≡ the v1 chain minus
    // the row (codes/cells of survivors are untouched by removal)
    val ivf1 = Similarity.ivfIndexAt(spark, base, 1L)
      .filter(col("vec_id") =!= 17L)
    assert(ivf2.exceptAll(ivf1).count() == 0 &&
      ivf1.exceptAll(ivf2).count() == 0,
      "IVF removal disturbed surviving rows")
    // file-exact: the maintenance frames read prev artifacts (+ the
    // PQ codebook) + the tombstone table — never the vector table
    val frame = Similarity.incrementalIvfFrame(spark, base, 2L)
    val stray = frame.inputFiles.filterNot(f =>
      f.contains(Similarity.ivfIndexArtifact(base, 1L)) ||
        changeTableFile("embeddings_removed", 2L)(f))
    assert(frame.inputFiles.nonEmpty && stray.isEmpty,
      s"IVF tombstone maintenance reads beyond index+tombstones: " +
        s"${stray.take(3).mkString(", ")}")
  }

  test("q68 purity equals a driver-side recomputation from the assignment") {
    val assign = Similarity.q51IvfAssign(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labels = Tables(spark, sfDir, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byCell = assign.toSeq.groupBy(_._2)
    val expected = byCell.map { case (cell, vs) =>
      val labelCounts = vs.map(v => labels(v._1))
        .groupBy(identity).view.mapValues(_.size).toMap
      // majority with lowest-label tie-break, matching the query
      val (mLabel, mN) = labelCounts.toSeq
        .sortBy { case (l, n) => (-n, l) }.head
      cell -> (vs.size.toLong, mLabel, mN.toLong,
        mN.toDouble / vs.size.toDouble)
    }
    val got = Similarity.q68CellPurity(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got == expected, s"purity mismatch:\n$got\nvs\n$expected")
    assert(got.values.map(_._1).sum == labels.size,
      "every vector must land in exactly one cell")
  }

  test("q71: label centroids partition the corpus sums exactly") {
    val emb = Tables(spark, sfDir, "embeddings")
    val dim = emb.select(size($"embedding")).head.getInt(0)
    val nVec = emb.count()
    val labelSizes = emb.groupBy($"label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

    val rows = Similarity.q71LabelCentroids(spark, sfDir).collect()
    assert(rows.length == labelSizes.size * dim)
    rows.foreach { r =>
      // n is the label's member count for EVERY dimension, and the
      // mean is exactly sum/n in the emitted doubles
      assert(r.getAs[Long]("n") == labelSizes(r.getAs[Int]("label")))
      assert(r.getAs[Double]("centroid") ==
        r.getAs[Double]("component_sum") / r.getAs[Long]("n").toDouble)
    }
    // per-dimension label sums add up to the corpus-wide sum (the
    // decimal accumulation is exact, so only double-add tolerance)
    val byPos = rows.groupBy(_.getAs[Long]("pos"))
      .map { case (p, g) => p -> g.map(_.getAs[Double]("component_sum")).sum }
    val global = Similarity.q71LabelCentroids(spark, sfDir)
      .groupBy($"pos").agg(sum($"component_sum").as("s"))
      .collect().map(r => r.getAs[Long]("pos") -> r.getAs[Double]("s")).toMap
    byPos.foreach { case (p, s) => assert(math.abs(s - global(p)) < 1e-9) }
    assert(rows.map(_.getAs[Long]("n")).sum == nVec * dim)
  }

  test("argmax_cosine: picks nearest, breaks ties on highest label, null-propagates") {
    import spark.implicits._
    import graft.functions.VectorOps._
    import graft.functions.CentroidCodebook
    // unit codebook: c0 = e_x, c2 = c1 = e_y (identical → tie on e_y)
    val ex = Array(1000000L, 0L)
    val ey = Array(0L, 1000000L)
    val cb = CentroidCodebook(
      Array(0L, 1L, 2L), Array(ex, ey, ey), Array(1.0, 1.0, 1.0))
    val out = Seq(
      (1L, Seq(1.0f, 0.0f)),   // → c0 exactly
      (2L, Seq(0.0f, 1.0f)),   // → tie between c1/c2 → label 2
      (3L, Seq(Float.NaN, 0f)) // quantize → null → best null
      ).toDF("vec_id", "embedding")
      .withColumn("q6", vector_quantize(col("embedding")))
      .withColumn("nrm", normQ(dot_long(col("q6"), col("q6"))))
      .withColumn("best", argmax_cosine(col("q6"), col("nrm"), cb))
      .select(col("vec_id"), col("best"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.getStruct(1))).toMap
    assert(out(1L).get.getLong(1) == 0L)
    assert(out(1L).get.getDouble(0) == 1.0)
    assert(out(2L).get.getLong(1) == 2L, "equal cosines must keep highest label")
    assert(out(3L).isEmpty, "null vector must null-propagate, not throw")
  }

  test("q82: imbalance factor matches a driver-side recomputation and is >= 1") {
    val sizes = Similarity.q51IvfAssign(spark, sfDir)
      .groupBy(col("cell")).count().collect().map(_.getLong(1))
    val k = sizes.length.toDouble
    val n = sizes.sum.toDouble
    val want = k * sizes.map(s => s.toDouble * s).sum / (n * n)
    val row = Similarity.q82IvfImbalance(spark, sfDir).collect().head
    assert(row.getLong(0) == sizes.length && row.getLong(1) == sizes.sum)
    assert(row.getLong(2) == sizes.min && row.getLong(3) == sizes.max)
    assert(math.abs(row.getDouble(4) - want) < 1e-12)
    // Cauchy–Schwarz: k·Σn² >= (Σn)² when k counts the non-empty cells
    assert(row.getDouble(4) >= 1.0 - 1e-12)
  }

  test("q83: a planted clone is its query's ADC rank-1 at distance 0") {
    val rnd = new scala.util.Random(23)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() * 2 - 1)
    val queries = (0L until 10L).map(i => (i, vec(), i.toInt))
    val corpus = (10L until 30L).map(i => (i, vec(), i.toInt))
      .map { case (i, v, l) => if (i == 15L) (i, queries(3)._2, l) else (i, v, l) }
    val dir = java.nio.file.Files.createTempDirectory("graft-adc").toString
    (queries ++ corpus).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = Similarity.q83PqAdc(spark, dir).collect()
    // structural: 5 ranks per query, never self, scores non-decreasing
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet == (0L until 10L).toSet)
    byQuery.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to 5L), s"query $q ranks")
      assert(!rs.exists(_.getLong(1) == q), s"query $q returned itself")
      val ds = rs.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, s"query $q order")
    }
    // the clone of query 3 shares query 3's codes exactly (the
    // codebook contains query 3 itself), so its ADC score is 0 — the
    // global minimum — and it must surface at rank 1
    val r1 = rows.find(r => r.getLong(0) == 3L && r.getLong(2) == 1L).get
    assert(r1.getLong(1) == 15L && r1.getDouble(3) == 0.0,
      s"clone not rank-1: ${r1.mkString(",")}")
  }

  test("q80: codebook vectors encode to themselves; codes stay in the codebook") {
    val rows = Similarity.q80PqEncode(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (1 to 4).map(i => r.getLong(i))).toMap
    val cids = Tables(spark, sfDir, "embeddings")
      .orderBy(col("vec_id")).limit(8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // a codebook member is distance 0 from its own subvectors in every
    // subspace — it must self-encode
    cids.foreach { cid =>
      assert(rows(cid).forall(_ == cid), s"centroid $cid: ${rows(cid)}")
    }
    assert(rows.values.flatten.toSet.subsetOf(cids),
      "codes must reference codebook members only")
    assert(rows.size == Tables(spark, sfDir, "embeddings").count())
  }

  test("pq codes index: persisted table ≡ direct q80 encoding") {
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(snap(Similarity.pqCodesIndex(spark, sfDir)) ==
      snap(Similarity.q80PqEncode(spark, sfDir)),
      "persisted PQ codes must be value-identical to direct encoding")
  }

  test("ivf index: persisted table ≡ direct assignCells derivation") {
    val emb = Tables(spark, sfDir, "embeddings")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "nrm").orderBy("vec_id")
        .collect().map(_.toSeq).toSeq
    assert(snap(Similarity.ivfIndex(spark, sfDir)) ==
      snap(Similarity.assignCells(emb, Similarity.frozenCodebook(emb))),
      "persisted IVF index must be value-identical to direct assignment")
  }

  test("q132/searchKnn: served ANN is well-formed; an ad-hoc corpus vector finds itself") {
    val rows = Similarity.q132IvfServe(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture vacuous — no served neighbors")
    // per query: contiguous ranks from 1, strictly ordered cosines
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq ==
        (1L to sorted.length.toLong), s"query $qid ranks not contiguous")
      val cos = sorted.map(_.getDouble(3)).toSeq
      assert(cos == cos.sorted.reverse, s"query $qid cosines not descending")
      assert(rs.forall(_.getLong(1) != qid), s"query $qid returned itself")
    }
    // ad-hoc serving: the raw embedding of vec_id 0 must find vec 0 as
    // its rank-1 neighbor at cosine 1.0, and the REST of its ranking
    // must equal q132's query-0 ranking shifted by the self row
    val v0 = Tables(spark, sfDir, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val knn = Similarity.searchKnn(spark, sfDir, v0, topK = 6).collect()
    assert(knn.head.getLong(1) == 0L && knn.head.getDouble(3) == 1.0,
      s"self not rank-1: ${knn.head}")
    val q0 = rows.filter(_.getLong(0) == 0L).sortBy(_.getLong(2))
      .map(r => (r.getLong(1), r.getDouble(3))).toSeq
    val rest = knn.drop(1).map(r => (r.getLong(1), r.getDouble(3))).toSeq
    assert(rest == q0,
      s"ad-hoc ranking diverged from the registry query: $rest vs $q0")
  }

  /** The multi-query probe plan `searchKnn` ran before its
    * single-query rewrite — probes by a `query_id` window over a
    * centroid cross join, candidates by a broadcast join, ranks by a
    * second window — kept here as the reference the single-query plan
    * must equal row for row. */
  private def multiQueryKnn(dir: String, qvec: Array[Float], topK: Int,
      probeCells: Int): Seq[Seq[Any]] = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps._
    val base = Similarity.versionedVectors(spark, dir)
    val v = graft.sources.Versioned.currentVersion(spark, base).get
    val origin = Similarity.ivfIndexAt(spark, base, 1L)
    val idx = Similarity.ivfIndexAt(spark, base, v)
    val queries = Seq(Tuple1(qvec.toSeq)).toDF("embedding")
      .withColumn("q6", vector_quantize(col("embedding")))
      .select(lit(-1L).as("query_id"), col("q6").as("qq6"),
        normQ(dot_long(col("q6"), col("q6"))).as("qn"))
    val cents = origin.filter(col("vec_id") < 10)
      .select(col("vec_id").as("c_label"), col("q6").as("c6"),
        col("nrm").as("cn"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("sim",
        cosineQ(dot_long(col("qq6"), col("c6")), col("qn"), col("cn")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("c_label").desc)))
      .filter(col("rn") <= probeCells)
      .select(col("query_id"), col("qq6"), col("qn"), col("c_label").as("cell"))
    idx.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineQ(dot_long(col("qq6"), col("q6")), col("qn"), col("nrm")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cosine"), 9).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
      .collect().map(_.toSeq).toSeq
  }

  private def knnRows(dir: String, qvec: Array[Float], topK: Int,
      probeCells: Int = 2): Seq[Seq[Any]] =
    Similarity.searchKnn(spark, dir, qvec, topK, probeCells)
      .collect().map(_.toSeq).toSeq

  test("searchKnn's single-query plan ≡ the multi-query reference plan") {
    val vecs = Tables(spark, sfDir, "embeddings").orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val rnd = new scala.util.Random(5)
    (1 to 12).foreach { i =>
      val v = vecs(rnd.nextInt(vecs.length))
        .map(x => (x + rnd.nextGaussian() * 0.01).toFloat)
      val k = if (i % 4 == 0) 10000 else 5
      val got = knnRows(sfDir, v, k)
      assert(got.nonEmpty && got == multiQueryKnn(sfDir, v, k, 2),
        s"vector $i, top-$k diverged from the reference plan")
    }
    // a wrong-width vector is refused (a 422 on /knn), never truncated
    intercept[IllegalArgumentException](
      Similarity.searchKnn(spark, sfDir, vecs(0).drop(1)))
    // a zero vector divides by a zero norm: DIVIDE_BY_ZERO under ANSI,
    // NULL similarities (cells by label, neighbors by vec_id) without
    val zero = Array.fill(vecs(0).length)(0f)
    Seq(intercept[Exception](knnRows(sfDir, zero, 5)),
        intercept[Exception](multiQueryKnn(sfDir, zero, 5, 2)))
      .foreach(e => assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val got = knnRows(sfDir, zero, 5)
      assert(got.nonEmpty && got == multiQueryKnn(sfDir, zero, 5, 2),
        "zero vector diverged from the reference plan without ANSI")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("searchKnn: tied centroid similarities pick the highest labels, as the reference plan does") {
    import java.nio.file.Files
    // codebook candidates vec_ids 0–9 are the unit axes ±e_i, so a
    // query on a diagonal ties exactly across several centroids
    val dir = Files.createTempDirectory("graft-knn-tie").toString
    val axes = (0 until 10).map { i =>
      val a = Array.fill(5)(0f); a(i % 5) = if (i < 5) 1f else -1f
      (i.toLong, a, 0)
    }
    val points = (10 until 60).map { i =>
      (i.toLong, Array.tabulate(5)(j => (((i * 7 + j * 13) % 11) - 5) / 4f), 1)
    }
    (axes ++ points).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    Seq(Array(1f, 1f, 1f, 1f, 1f), Array(1f, 1f, 0f, 0f, 0f),
        Array(0f, 0f, 0f, 1f, -1f)).foreach { v =>
      val got = knnRows(dir, v, 8, probeCells = 3)
      assert(got.nonEmpty && got == multiQueryKnn(dir, v, 8, 3),
        s"tied query ${v.mkString(",")} diverged from the reference plan")
    }
  }

  test("searchKnn: a warm search runs exactly one Spark job") {
    val v0 = Tables(spark, sfDir, "embeddings").filter(col("vec_id") === 7L)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    Similarity.searchKnn(spark, sfDir, v0).collect() // warm: memoized codebook
    val (rows, jobs) = jobsOf(Similarity.searchKnn(spark, sfDir, v0).collect())
    assert(rows.nonEmpty, "fixture vacuous — no neighbors")
    assert(jobs == 1, s"a warm kNN search ran $jobs jobs")
  }

  test("q102: dominance keep rule — pruned_by earlier, same cell, above threshold") {
    val out = Similarity.q102SemanticDedup(spark, sfDir).collect()
    assert(out.length == Tables(spark, sfDir, "embeddings").count())
    val cellOf = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // lowest vec_id of every cell has no earlier in-cell neighbor → kept
    out.groupBy(_.getLong(1)).foreach { case (_, rs) =>
      val first = rs.minBy(_.getLong(0))
      assert(first.getInt(2) == 1, s"cell-min ${first.getLong(0)} must be kept")
    }
    out.filter(_.getInt(2) == 0).foreach { r =>
      val by = r.getAs[Long]("pruned_by")
      assert(by < r.getLong(0), "representative must be earlier")
      assert(cellOf(by) == r.getLong(1), "representative must share the cell")
    }
    out.filter(_.getInt(2) == 1).foreach(r =>
      assert(r.isNullAt(3), "kept rows carry no representative"))
    // at least one prune at sf0.001? not guaranteed — assert only
    // consistency; the sf0.01 oracle covers the non-trivial counts
  }
}
