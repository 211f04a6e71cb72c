package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus scaler for load testing — `SCALE.md`'s 10×
  * evidence run ("does the linear-shuffle claim survive another 10×?")
  * needs a corpus bigger than any the driver ships, built so the
  * CARDINALITY STRUCTURE scales linearly with the row count:
  *
  *  - replica documents are freshly SAMPLED from the source corpus's
  *    own vocabulary (seeded per (doc_id, replica) — bit-reproducible),
  *    with the seed doc's word count, language, and source, so length /
  *    source / vocab distributions match while distinct windows and
  *    shingles grow ~linearly (verbatim-copying the corpus F× would
  *    instead multiply every LSH bucket by F and square the pair work —
  *    superlinear by construction, not by plan);
  *  - a seeded ~4% of replicas are near-duplicates (the seed doc's text
  *    with every ~25th word mutated), keeping the near-dup density the
  *    dedup family measures roughly constant per row;
  *  - replica embeddings are the seed vector plus small seeded
  *    uniform noise, keeping label and cell structure loosely intact.
  *
  * Generation is a flatMap over the source rows — distributed, no
  * driver-side materialization beyond the bounded vocabulary collect.
  * Usage: `runMain graft.SynthCorpus <srcDir> <outDir> <factor>`.
  */
object SynthCorpus {

  final val MaxVocab = 65536
  final val IdStride = 10000000L // replica id offset; >> any real doc_id
  final val NearDupRate = 0.04
  final val MutateOneIn = 25

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: SynthCorpus <srcDir> <outDir> <factor>")
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    require(factor >= 2, "factor must scale the corpus up")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- documents ----------------------------------------------------
    val docs = Tables(spark, src, "documents")
    // bounded vocabulary collect (deterministic order): the sampling
    // pool replicas draw from — the source corpus's own word shapes
    val vocab = docs
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct().orderBy(col("w")).limit(MaxVocab)
      .as[String].collect()
    val bv = spark.sparkContext.broadcast(vocab)

    val base = docs.select(col("doc_id"), col("text"),
        col("lang"), col("source"))
      .as[(Long, String, String, String)]
    val replicas = base.flatMap { case (id, text, lang, source) =>
      val words = text.split("\\s+")
      val pool = bv.value
      (1 until factor).map { r =>
        // seeded per (doc, replica): the whole corpus is a pure function
        // of (source corpus, factor)
        val rnd = new scala.util.Random(id * 1315423911L + r * 2654435761L)
        val synth =
          if (rnd.nextDouble() < NearDupRate)
            // near-dup replica: seed text with sparse word mutations
            words.map(w =>
              if (rnd.nextInt(MutateOneIn) == 0)
                pool(rnd.nextInt(pool.length))
              else w).mkString(" ")
          else // fresh replica: same length, resampled content
            Array.fill(words.length)(
              pool(rnd.nextInt(pool.length))).mkString(" ")
        (id + r * IdStride, synth, lang, source)
      }
    }.toDF("doc_id", "text", "lang", "source")
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .unionByName(replicas)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")

    // ---- embeddings ---------------------------------------------------
    val emb = Tables(spark, src, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)]
    val replicasE = emb.flatMap { case (id, v, label) =>
      (1 until factor).map { r =>
        val rnd = new scala.util.Random(id * 2246822519L + r * 3266489917L)
        (id + r * IdStride,
          v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f), label)
      }
    }.toDF("vec_id", "embedding", "label")
    emb.toDF("vec_id", "embedding", "label")
      .unionByName(replicasE)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")

    // carry every other table through UNSCALED so queries that join
    // documents against dimension tables (entity vocab from `part`,
    // etc.) still resolve on the synthetic dir — the scaling target is
    // the text/vector corpus, dims stay dims
    val outPath = new org.apache.hadoop.fs.Path(out)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(srcPath).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") &&
        n != "documents.parquet" && n != "embeddings.parquet")
      .foreach { n =>
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(srcPath, n),
          fs, new org.apache.hadoop.fs.Path(outPath, n),
          false, spark.sessionState.newHadoopConf())
      }

    val nd = Tables(spark, out, "documents").count()
    val ne = Tables(spark, out, "embeddings").count()
    println(s"""{"synth":"$out","factor":$factor,"documents":$nd,"embeddings":$ne}""")
    spark.stop()
  }
}
