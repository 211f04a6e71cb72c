package graft.perfbench

import java.io.File
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** `serve`: one client in a closed loop against `RestApi` started
  * in-process, with the routes' artifacts standing: set-up sends one
  * request per route, which builds what that route reads.
  * (`POST /index/maintain` would build all ten index chains, most of
  * which no route reads, at about 27 s, more than the run.) It then
  * sends the first half of the route order as warm-up: a route's first
  * few requests after its build run up to twice as long as later ones,
  * and how many of them fell in the timed loop decided much of a run's
  * mean. The route mix is fixed in exact proportions; parameters come
  * from seeded pools.
  *
  * Every response must be 200 with parseable JSON, and a point probe
  * must find exactly the rows the corpus holds. The traced run adds a
  * phase where each request is followed by the direct library call with
  * the same arguments (the seam) and the two bodies must be equal. */
object Serve {
  val Routes = Seq("search", "knn", "point", "quality", "tokenize")
  private val BlockSize = 20

  final case class Config(mix: Map[String, Double], p90LimitMs: Double,
      tracePerRoute: Int)

  def config(node: JsonNode): Config = Config(
    node.get("mix").properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap,
    node.get("p90_limit_ms").asDouble,
    node.get("trace_requests_per_route").asInt)

  /** One request of the schedule: route, URL path+query, optional POST
    * body, and the expected row count for a point probe. */
  final case class Req(id: Long, route: String, path: String,
      body: Option[String], expectRows: Option[Int], seam: () => JsonNode)

  /** One block of route names holding the mix in exact proportions,
    * spread evenly (smooth weighted round-robin) so that every prefix
    * is close to the mix too: how many requests a run completes varies
    * with the machine's speed, and the run's route composition must not. */
  def blockOrder(mix: Map[String, Double]): Seq[String] = {
    val weight = Routes.map(rt => rt -> math.round(mix(rt) * BlockSize).toInt).toMap
    val total = weight.values.sum
    val credit = mutable.Map(Routes.map(_ -> 0): _*)
    (1 to total).map { _ =>
      Routes.foreach(rt => credit(rt) += weight(rt))
      val pick = Routes.maxBy(credit) // the first of equals, in Routes order
      credit(pick) -= total
      pick
    }
  }

  def run(ctx: Ctx, cfgFile: File): Unit = {
    val cfg = config(Json.mapper.readTree(cfgFile).get("serve"))
    val spark = ctx.spark
    val r = ctx.report
    val api = new graft.service.RestApi(Some(spark), 0).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      // set-up, once (it takes longer than a run): the corpus lake, the
      // parameter pools, one request per route, which builds what that
      // route reads, then the warm-up requests
      val t0 = System.nanoTime()
      val pools = new Pools(ctx, ctx.dataDir)
      val block = blockOrder(cfg.mix)
      pools.warm(Routes ++ block.take(BlockSize / 2)).foreach { q =>
        val (c, b) = ctx.spans.time(s"setup:${q.route}", parent = "setup")(
          http(base, q.path, q.body))
        require(c == 200, s"warm-up ${q.route} failed: $c $b")
      }
      r.value("setup_s", Stats.ms(t0) / 1e3, "s")
      val heapAfterSetup = Jvm.liveOldGenMb()

      // one client in a closed loop: the next request goes out when the
      // previous reply is in. The route order repeats the block; request
      // parameters come from --seed.
      val rng = new scala.util.Random(ctx.seed * 7919L + 17L)
      val deadline = System.nanoTime() + ctx.seconds * 1000000000L
      val lat = mutable.ArrayBuffer.empty[(String, Double)]
      var failed = 0
      while (System.nanoTime() < deadline) {
        val q = pools.request(block(lat.size % block.size), lat.size.toLong, rng)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (ok, err) =
          try { val (code, body) = http(base, q.path, q.body); check(q, code, body) }
          catch { case e: Exception => (false, e.toString) }
        lat += ((q.route, Stats.ms(t0)))
        ctx.spans.add(Span(q.route, startMs, System.currentTimeMillis(), "", q.id))
        if (ok) r.ok() else { failed += 1; r.fail(s"${q.route} ${q.path.take(120)}: $err") }
      }
      val all = lat.map(_._2)
      Routes.foreach(rt => r.raw(s"${rt}_ms", lat.filter(_._1 == rt).map(_._2)))
      r.metric("op_p50_ms", all, "ms", Stats.median)
      r.metric("op_mean_ms", all, "ms", xs => xs.sum / xs.size)
      r.metric("op_p90_ms", all, "ms", Stats.pct(_, 90))
      Routes.foreach(rt => r.metric(s"${rt}_p50_ms", lat.filter(_._1 == rt).map(_._2), "ms", Stats.median))
      r.metric("serve_p90_ms", all, "ms", Stats.pct(_, 90))
      // a failed request counts as over the limit
      r.info.put("p90_limit_ms", cfg.p90LimitMs)
      r.info.put("over_limit_frac", (all.count(_ > cfg.p90LimitMs) + failed).toDouble / all.size)
      r.heapPeak(heapAfterSetup, ctx.gc)

      if (ctx.traced) traced(ctx, base, pools, cfg, rng)
    } finally api.stop()
  }

  /** A response is correct when it is 200, parses as JSON, and — for a
    * point probe — holds exactly the expected number of rows. */
  private def check(q: Req, code: Int, body: String): (Boolean, String) =
    if (code != 200) (false, s"HTTP $code ${body.take(200)}")
    else {
      val tree = try Some(Json.mapper.readTree(body)) catch { case _: Exception => None }
      (tree, q.expectRows) match {
        case (None, _) => (false, s"unparseable body ${body.take(200)}")
        case (Some(t), Some(n)) if !(t.isArray && t.size == n) =>
          (false, s"expected $n rows, got ${body.take(200)}")
        case _ => (true, "")
      }
    }

  private def http(base: String, path: String, body: Option[String]): (Int, String) = {
    val c = new URI(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    body.foreach { b =>
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      c.getOutputStream.write(b.getBytes(UTF_8))
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, text)
  }

  /** Seeded parameter pools over one corpus copy: Zipf-popular search
    * strings, stored embeddings plus noise, present and absent point
    * keys, and document texts for the tokenizer. */
  final class Pools(ctx: Ctx, dir: String) {
    private val spark = ctx.spark
    private val enc = (s: String) => URLEncoder.encode(s, UTF_8)
    private val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(row => row.getLong(0) -> row.getString(1))
    private val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("embedding").orderBy("vec_id").collect()
      .map(_.getSeq[Float](0).toArray)
    private val vocab = docs.iterator.flatMap(_._2.split(" ")).filter(_ != "dup")
      .toSeq.distinct.sorted
    private val pool: Seq[String] = {
      val rnd = new scala.util.Random(ctx.seed)
      Iterator.continually {
        (1 to 1 + rnd.nextInt(3)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }.distinct.take(300).toSeq
    }
    // Zipf(1.0) popularity over the pool's ranks
    private val cdf = {
      val w = pool.indices.map(i => 1.0 / (i + 1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    val lakeBase: String = graft.queries.Dedup.versionedCorpus(spark, dir)
    private val version = graft.sources.Versioned.currentVersion(spark, lakeBase).get
    private val maxDoc = docs.last._1

    def request(route: String, id: Long, rng: scala.util.Random): Req = route match {
      case "search" =>
        val u = rng.nextDouble()
        val q = pool(math.min(pool.size - 1, java.util.Arrays.binarySearch(cdf, u) match {
          case k if k >= 0 => k
          case k => -k - 1
        }))
        Req(id, route, s"/search?dir=${enc(dir)}&q=${enc(q)}&limit=10", None, None,
          () => rows(graft.queries.TextOps.searchBm25(spark, dir, q, 10)))
      case "knn" =>
        val v = vecs(rng.nextInt(vecs.length)).map(x => (x + rng.nextGaussian() * 0.01).toFloat)
        Req(id, route, s"/knn?dir=${enc(dir)}&vec=${v.mkString(",")}&limit=5", None, None,
          () => rows(graft.queries.Similarity.searchKnn(spark, dir, v, 5)))
      case "point" =>
        val present = rng.nextBoolean()
        val k = if (present) docs(rng.nextInt(docs.length))._1 else maxDoc + 1 + rng.nextInt(100000)
        Req(id, route, s"/lake/point?base=${enc(lakeBase)}&table=documents&col=doc_id" +
          s"&type=long&value=$k", None, Some(if (present) 1 else 0),
          () => rows(graft.sources.Versioned.readPointAt(spark, lakeBase, "documents",
            version, "doc_id", k).limit(100)))
      case "quality" =>
        val k = docs(rng.nextInt(docs.length))._1
        Req(id, route, s"/quality?dir=${enc(dir)}&doc_id=$k", None, None,
          () => rows(graft.queries.TextOps.qualityServe(spark, dir, Some(k))))
      case "tokenize" =>
        val text = docs(rng.nextInt(docs.length))._2.take(240)
        Req(id, route, "/tokenize", Some(Json.mapper.writeValueAsString(
          Json.obj().put("text", text).put("dir", dir))), None, () => tokens(dir, text))
    }

    /** Set-up requests for `routes`, parameters from their own seeded
      * stream, so the timed requests do not depend on them. */
    def warm(routes: Seq[String]): Seq[Req] = {
      val rnd = new scala.util.Random(ctx.seed + 1)
      routes.zipWithIndex.map { case (rt, i) => request(rt, -1L - i, rnd) }
    }

    private def rows(df: org.apache.spark.sql.DataFrame): JsonNode =
      Json.mapper.readTree(df.toJSON.collect().mkString("[", ",", "]"))

    private def tokens(dir: String, text: String): JsonNode = {
      val (model, merges, toks) = graft.queries.TextOps.tokenizeText(spark, dir, text)
      val o = Json.obj().put("model", model).put("merges", merges)
      val arr = o.putArray("tokens")
      toks.foreach { t =>
        val e = arr.addObject().put("word", t.word)
        val sw = e.putArray("subwords"); t.subwords.foreach(sw.add)
        val ids = e.putArray("ids"); t.ids.foreach(x => ids.add(x))
      }
      // through text, so numbers compare by value as the parsed body's do
      Json.mapper.readTree(Json.mapper.writeValueAsString(o))
    }
  }

  /** One request in flight: each request's HTTP span, then its seam
    * call's span; the bodies must be equal. Spark jobs are attributed
    * to whichever span was open when they were submitted. */
  private def traced(ctx: Ctx, base: String, pools: Pools, cfg: Config,
      rng: scala.util.Random): Unit = {
    val r = ctx.report
    val spans = new Spans
    val nextId = new AtomicLong(1000000L)
    val perRoute = Routes.map { rt =>
      val samples = (1 to cfg.tracePerRoute).map { _ =>
        val q = pools.request(rt, nextId.getAndIncrement(), rng)
        val t0 = System.nanoTime()
        val (code, body) = spans.time(s"http:$rt", reqId = q.id)(http(base, q.path, q.body))
        val httpMs = Stats.ms(t0)
        val t1 = System.nanoTime()
        val seam = spans.time(s"seam:$rt", reqId = q.id)(q.seam())
        val seamMs = Stats.ms(t1)
        val (ok, err) = check(q, code, body)
        if (!ok) r.fail(s"traced $rt: $err")
        else r.check(Json.mapper.readTree(body) == seam,
          s"traced $rt: body differs from the library seam: ${body.take(200)}")
        (httpMs, seamMs)
      }
      rt -> samples
    }
    spans.all.foreach(ctx.spans.add)
    SparkTrace.settle(ctx.spark)
    val open = spans.all.sortBy(_.startMs)
    val totals = ctx.sparkTrace.get.totals(t =>
      open.find(s => s.startMs <= t && t <= s.endMs).map(_.name))
    perRoute.foreach { case (rt, samples) =>
      val h = Stats.median(samples.map(_._1))
      val s = Stats.median(samples.map(_._2))
      r.layer(s"service.$rt.http_ms", h, "ms")
      r.layer(s"service.$rt.seam_ms", s, "ms")
      r.layer(s"service.$rt.overhead_ms", h - s, "ms")
      val t = totals.getOrElse(s"http:$rt", SparkTrace.Totals())
      r.layer(s"spark.$rt.jobs_per_req", t.jobs.toDouble / samples.size, "count")
      r.layer(s"spark.$rt.tasks_per_req", t.tasks.toDouble / samples.size, "count")
      if (rt == "point")
        r.layer("spark.point.input_bytes_per_req", t.inputBytes.toDouble / samples.size, "bytes")
    }
  }
}
