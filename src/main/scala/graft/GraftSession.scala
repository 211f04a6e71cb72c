package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import graft.functions.{CmsSketch, DotLong, KmvSketch, MinHashMd5, SimHash64, VectorQuantize, WindowHash61}

/** Session wiring for the engine.
  *
  * [[GraftExtensions]] registers the custom Catalyst expressions as SQL
  * functions (usable from `spark.sql` and by any JDBC/Thrift client),
  * injected via the standard `SparkSessionExtensions` hook — the same
  * mechanism a deployed cluster enables with
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * [[GraftSession.builder]] carries the scale posture:
  *  - AQE on (runtime coalescing, skew-join splitting) — on a real
  *    cluster this is what absorbs the skew that local tests never see
  *  - shuffle partitions sized to the machine, not the 200 default
  *  - 128 MB scan partitions — the parquet-side parallelism knob
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[SimHash64].getName, "simhash64"),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          SimHash64(children.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("vector_quantize"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[VectorQuantize].getName, "vector_quantize"),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          VectorQuantize(children.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("dot_long"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[DotLong].getName, "dot_long"),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          DotLong(children.head, children(1))))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_md5"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[MinHashMd5].getName, "minhash_md5"),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          MinHashMd5(children.head, GraftSession.intLiteral(children(1)))))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("window_hash61"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[WindowHash61].getName, "window_hash61"),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          WindowHash61(children.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("kmv_sketch"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[KmvSketch].getName, "kmv_sketch"),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          KmvSketch(children.head, GraftSession.intLiteral(children(1)))))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("cms_sketch"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[CmsSketch].getName, "cms_sketch"),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          CmsSketch(children.head, GraftSession.intLiteral(children(1)),
            GraftSession.intLiteral(children(2)))))
  }
}

object GraftSession {
  /** Same registrations as [[GraftExtensions]] but onto a LIVE session
    * (extensions only bind at session construction). */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("simhash64",
      exprs => SimHash64(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("vector_quantize",
      exprs => VectorQuantize(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("dot_long",
      exprs => DotLong(exprs.head, exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_md5",
      exprs => MinHashMd5(exprs.head, intLiteral(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("window_hash61",
      exprs => WindowHash61(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("kmv_sketch",
      exprs => KmvSketch(exprs.head, intLiteral(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("cms_sketch",
      exprs => CmsSketch(exprs.head, intLiteral(exprs(1)),
        intLiteral(exprs(2))), "scala_udf")
  }

  /** `minhash_md5`'s seed count must be a literal int at plan time. */
  private[graft] def intLiteral(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => sys.error(s"count parameter must be an int literal, got $other")
    }

  /** The adaptive posture, one definition for the builder, Bench's AQE
    * pass and the probe harness. */
  val Adaptive: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // AQE's partition coalescing is BYTES-based and CPU-blind: with
    // the default 1 MB minPartitionSize, a CPU-dense small-bytes
    // stage (text kernels, sketch merges, window sums over narrow
    // rows) coalesces to 1-2 tasks and serializes — measured 10-15x
    // on the low-core bench posture (q128 1.1 s -> 16 s at 8 cores,
    // OPTIMIZATION_r21.md). 64 KB floors the coalesced size, which
    // is invisible at cluster scale (target size is
    // max(bytes/parallelism, minPartitionSize) — real inputs dwarf
    // it) and only bites exactly where the default was pathological.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> (64 * 1024).toString,
    "spark.sql.files.maxPartitionBytes" -> (128 * 1024 * 1024).toString)

  /** Tuned builder for local or cluster use. */
  def builder(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(Adaptive.toMap)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  def local(cores: Int): SparkSession =
    builder(cores).master(s"local[$cores]").appName("graft").getOrCreate()
}
