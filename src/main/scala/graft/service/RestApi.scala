package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicReference
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.util.RawValue
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Similarity, TextOps}
import graft.sources.Versioned

/** REST layer (SURVEY §2.10 R1–R7) on the JDK's built-in HttpServer —
  * zero extra dependencies, runs in the Spark driver process exactly
  * like the reference's uvicorn+FastAPI singleton (api/main.py:10).
  *
  * Reference endpoints:
  *   POST /extract {"number": n} → 400 on domain errors, 422 on range
  *   GET  /missing → {"missing": n} | 400
  *   POST /reset
  * Engine extensions (R7, job orchestration):
  *   POST /etl/run {"csvPath": p, "outDir": d} → runs the batch ETL
  *   GET  /query/daily_totals?from=YYYY-MM-DD&to=YYYY-MM-DD → view rows
  *   GET  /health
  */
final class RestApi(spark: Option[SparkSession], port: Int = 0) {
  import RestApi.{ClientError, Route, json}

  // R4: singleton rebound on /reset, like the reference's `global state`
  private val state = new AtomicReference(new First100Set)
  // AtomicReference, not a @volatile var: the replace-and-release in
  // the /etl/run job must be a single getAndSet — with a plain
  // read-then-write, two concurrent /etl/run threads can read the same
  // previous Result, double-release it, and orphan the loser's cache
  // for the JVM's lifetime (its partitions stay pinned in the block
  // store).
  private val lastEtl =
    new AtomicReference[Option[graft.etl.ChargesEtl.Result]](None)

  // R7 job families; each serializes its runs on its own lock — two
  // concurrent maintenance walks would race the same artifact
  // publishes, two compactions the same OCC claim
  private val etlJobs = new AsyncJobs("graft-etl-job")
  private val indexJobs = new AsyncJobs("graft-index-job")
  private val compactJobs = new AsyncJobs("graft-lake-compact")
  private def compactKey(base: String, table: String): String =
    base + "\u0000" + table

  // head-artifact row counts, keyed by artifact path (immutable once
  // published), so a repeat no-op POST /index/maintain runs ZERO
  // Spark jobs — the resume probe is FS-only and the response's
  // sanity numbers come from this cache; a chain that built anything
  // recounts (a crash-retried head may have been rebuilt). Guarded by
  // the index job family's lock.
  private val maintainCounts =
    scala.collection.mutable.Map.empty[String, Long]

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  def boundPort: Int = server.getAddress.getPort

  private val registered = scala.collection.mutable.ArrayBuffer.empty[Route]

  /** Every served route, in registration order. */
  private[graft] def routes: Seq[Route] = registered.toSeq

  /** One request as a route's handler sees it. */
  private final class Req(ex: HttpExchange) {
    /** The session; a route that needs it is only called with one. */
    def spark: SparkSession = RestApi.this.spark.orNull

    /** Query params, URL-decoded (a `%3A` in a dir path or a `+` in a
      * query name must round-trip). */
    lazy val params: Map[String, String] =
      Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          java.net.URLDecoder.decode(k, UTF_8) ->
            java.net.URLDecoder.decode(v, UTF_8)
        }.toMap
    def param(k: String): Option[String] = params.get(k)

    /** The body as a JSON object; an empty body has no fields. */
    private lazy val body: JsonNode = {
      val tree = try json.readTree(ex.getRequestBody.readAllBytes())
        catch { case _: java.io.IOException => null }
      if (tree == null || !(tree.isObject || tree.isMissingNode))
        throw ClientError(422, "body: JSON object required")
      tree
    }
    def field(f: String): Option[JsonNode] = Option(body.get(f))
    /** A string field; a value of another JSON type counts as absent. */
    def str(f: String): Option[String] =
      field(f).filter(_.isTextual).map(_.textValue)
    /** A boolean field; a value of another JSON type (the string
      * "true" included) counts as absent. */
    def bool(f: String): Option[Boolean] =
      field(f).filter(_.isBoolean).map(_.booleanValue)

    /** The `limit` param through [[RestApi.parseLimit]]; a rejected
      * value is a 422. */
    def limit(default: Int): Int =
      RestApi.parseLimit(param("limit"), default).getOrElse(
        throw ClientError(422, "limit: positive integer required"))

    def header(k: String, v: String): Unit = ex.getResponseHeaders.set(k, v)
  }

  /** Serve `path`: 503 when the route needs the Spark session and there
    * is none, then 405 on a method other than `method` (None: any),
    * then the handler's (status, body). A thrown [[RestApi.ClientError]]
    * becomes its status, any other exception a 500; both with a
    * `{"detail": …}` body. */
  private def route(path: String, method: Option[String] = None,
      needsSpark: Boolean = false)(handle: Req => (Int, String)): Unit = {
    registered += Route(path, method, needsSpark)
    server.createContext(path, (ex: HttpExchange) => {
      val (code, body) =
        if (needsSpark && spark.isEmpty) (503, error(RestApi.NoSpark))
        else if (method.exists(_ != ex.getRequestMethod))
          (405, error("method not allowed"))
        else try handle(new Req(ex)) catch {
          case ClientError(c, detail) => (c, error(detail))
          case e: Exception => (500, error(String.valueOf(e.getMessage)))
        }
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
  }

  private def obj(): ObjectNode = json.createObjectNode()
  private def write(node: JsonNode): String = json.writeValueAsString(node)
  private def error(detail: String): String = write(obj().put("detail", detail))
  private def ok(node: JsonNode): (Int, String) = (200, write(node))
  /** A frame's rows as the body: Spark's own JSON per row. */
  private def rows(df: DataFrame): (Int, String) =
    (200, df.toJSON.collect().mkString("[", ",", "]"))

  /** Resolve the optional time-travel params against a lake (r18):
    * `version` names a committed version id, `asOf` a point in time
    * (epoch millis or an ISO-8601 instant) resolved to the newest
    * commit at or before it; neither → the current version. */
  private def resolveVersion(s: SparkSession, base: String,
      params: Map[String, String]): Long =
    (params.get("version"), params.get("asOf")) match {
      case (Some(_), Some(_)) =>
        throw ClientError(422, "version and asOf are mutually exclusive")
      case (Some(v), None) =>
        val n = v.toLongOption.getOrElse(
          throw ClientError(422, "version: integer required"))
        if (Versioned.listVersions(s, base).contains(n)) n
        else throw ClientError(404,
          s"no surviving version $n (older versions are garbage-collected per retention)")
      case (None, Some(a)) =>
        val t = a.toLongOption.orElse(
          try Some(java.time.Instant.parse(a).toEpochMilli)
          catch { case _: java.time.format.DateTimeParseException => None })
          .getOrElse(throw ClientError(422,
            "asOf: epoch millis or ISO-8601 instant required"))
        Versioned.versionAsOf(s, base, t).getOrElse(
          throw ClientError(404, "no version committed at or before asOf"))
      case (None, None) => Versioned.currentVersion(s, base).getOrElse(
        throw ClientError(404, "no committed version"))
    }

  /** The probe values of /lake/point and /lake/remove, typed by the
    * `type` param: string (default), long or decimal. */
  private def typedValues(raws: Seq[String], typ: Option[String],
      field: String): Seq[Any] = {
    if (raws.isEmpty || raws.exists(_.isEmpty))
      throw ClientError(422, "values: empty element in list")
    typ.getOrElse("string") match {
      case "string" => raws
      case "long" => raws.map(_.toLongOption.getOrElse(throw ClientError(422,
        s"$field: integers required for type=long")))
      case "decimal" =>
        try raws.map(new java.math.BigDecimal(_))
        catch { case _: NumberFormatException => throw ClientError(422,
          s"$field: decimals required for type=decimal") }
      case other => throw ClientError(422, s"type: unsupported '$other'")
    }
  }

  /** A merge-on-read entry chain's depth: entries, data, tombstones. */
  private def chainCounts(o: ObjectNode, chain: Seq[(Char, String)]): ObjectNode =
    o.put("entries", chain.size).put("data", chain.count(_._1 == 'd'))
      .put("tombstones", chain.count(_._1 == 't'))

  route("/extract", Some("POST")) { r =>
    val n = r.field("number") match {
      case None => throw ClientError(422, "number: field required")
      case Some(v) if !v.isIntegralNumber =>
        throw ClientError(422, "number: integer required")
      // pydantic ge=1 le=100 rejects before the handler → 422 (R1)
      case Some(v) if !v.canConvertToInt || v.intValue < 1 ||
          v.intValue > First100Set.Domain =>
        throw ClientError(422, "number: must be between 1 and 100")
      case Some(v) => v.intValue
    }
    state.get.extract(n) match {
      case Right(v) => ok(obj().put("extracted", v))
      case Left(err) => throw ClientError(400, err)
    }
  }

  route("/missing") { _ =>
    state.get.missingBySum match {
      case Right(v) => ok(obj().put("missing", v))
      case Left(err) => throw ClientError(400, err)
    }
  }

  route("/reset", Some("POST")) { _ =>
    state.set(new First100Set)
    ok(obj().put("status", "reset"))
  }

  route("/health") { _ => ok(obj().put("status", "ok")) }

  // R7: job orchestration — routes that launch/inspect Spark jobs
  route("/etl/run", Some("POST"), needsSpark = true) { r =>
    val p = r.str("csvPath").getOrElse(
      throw ClientError(422, "csvPath: field required"))
    etlJobs.submit("", r.bool("async").getOrElse(false)) { done =>
      val res = graft.etl.ChargesEtl.run(r.spark, p)
      // keep exactly ONE run cached: atomically swap in the
      // new result and release exactly the one it replaced —
      // unless the two share a cache entry (same csv ⇒ same
      // canonicalized plan), where releasing the old would
      // evict the new one's cache too
      lastEtl.getAndSet(Some(res)).foreach(_.releaseUnlessSharedWith(res))
      graft.etl.ChargesEtl.registerDailyTotalsView(r.spark, res)
      done.put("original", res.original.count())
        .put("clean", res.clean.count())
        .put("critical", res.critical.count())
    }
  }

  // R7: job inspection
  route("/etl/status") { _ => (200, etlJobs.status()) }

  route("/query/daily_totals", needsSpark = true) { r =>
    val datePat = "\\d{4}-\\d{2}-\\d{2}".r
    val (from, to) = (r.param("from"), r.param("to")) match {
      case (Some(f), Some(t)) if datePat.matches(f) && datePat.matches(t) =>
        (f, t)
      case _ => throw ClientError(422, "from/to: YYYY-MM-DD required")
    }
    // Bounded driver collect: same 1000-row hard cap as
    // /query/run. The LIMIT is pushed into the plan (cap+1 to
    // detect truncation), so a year-wide range on a huge table
    // can never OOM the driver — Spark plans it as a
    // TakeOrdered, not a full sort+collect.
    val cap = r.limit(default = 1000)
    // time travel (r18): `base` + version=/asOf= serve the
    // reference's own view query against a HISTORICAL lake
    // version — "what did the daily totals say before
    // publish N" (the audit face of /lake/history). With
    // no base, the session view from the last /etl/run
    // answers, as before.
    val view = r.param("base") match {
      case Some(lake) => graft.etl.ChargesEtl.dailyTotalsAt(
        r.spark, lake, resolveVersion(r.spark, lake, r.params))
      case None =>
        if (lastEtl.get().isEmpty) throw ClientError(409,
          "run /etl/run first (or pass base= for a lake-versioned query)")
        r.spark.table("daily_company_totals")
    }
    import org.apache.spark.sql.functions.{col, lit}
    val found = view
      .filter(col("transaction_date").between(
        lit(from).cast("date"), lit(to).cast("date")))
      .select(col("company_name"),
        col("transaction_date").cast("string").as("d"),
        col("total_amount").cast("string").as("total"))
      .orderBy(col("company_name"), col("d"))
      .limit(cap + 1)
      .collect()
    r.header("X-Graft-Truncated", (found.length > cap).toString)
    val out = json.createArrayNode()
    // the amount is Spark's plain decimal text, written as a number
    found.take(cap).foreach(row => out.addObject()
      .put("company_name", row.getString(0))
      .put("transaction_date", row.getString(1))
      .putRawValue("total_amount", new RawValue(row.getString(2))))
    ok(out)
  }

  // R7 extension: run any registered engine query by name —
  // GET /query/run?name=q1_agg&dir=/root/testdata/sf0.001&limit=20
  // The name is validated against the registry (no arbitrary code) and
  // results are capped — the driver-side collect is bounded by design.
  route("/query/run", needsSpark = true) { r =>
    val limit = r.limit(default = 20)
    (r.param("name"), r.param("dir")) match {
      case (Some(n), Some(dir)) if graft.SparkEntry.queries.contains(n) =>
        rows(graft.SparkEntry.queries(n)(r.spark, dir).limit(limit))
      case (Some(n), _) => throw ClientError(404, s"unknown query $n")
      case _ => throw ClientError(422, "name and dir required")
    }
  }

  // R7 extension: derived-index maintenance as a job — one POST brings
  // every artifact chain (verbatim-window index, LSH signatures,
  // duplicate clusters, CMS + KMV sketches, retrieval tf-grain over
  // the documents lake; IVF over the embeddings lake) up to its
  // lake's current version. RESUME-FROM-NEWEST: each chain is probed
  // BACKWARD from the current version with one cheap _SUCCESS check
  // per step until its newest existing artifact is found, and only the
  // missing suffix is built (each step the incremental merge, never a
  // silent full rebuild) — so a no-op call does O(chains) FS probes
  // regardless of chain depth, and a call retried after a mid-walk
  // crash re-builds exactly the versions the crash left missing. Only
  // the CURRENT version's artifact is counted (the operator-eyeball
  // sanity number), prior steps publish without a count job, and the
  // head counts are CACHED by artifact path (immutable once
  // published), so a REPEAT no-op call runs zero Spark jobs — the
  // first no-op call on a fresh server pays one bounded count job per
  // chain. `"async": true` returns 202 immediately and exposes
  // progress at GET /index/status — the /etl/run posture.
  route("/index/maintain", Some("POST"), needsSpark = true) { r =>
    val dir = r.str("dir").getOrElse(
      throw ClientError(422, "dir: field required"))
    indexJobs.submit("", r.bool("async").getOrElse(false)) { done =>
      import graft.queries.{Analytics, Dedup}
      import graft.sources.ArtifactStore
      val s = r.spark
      val base = Dedup.versionedCorpus(s, dir)
      val v = Versioned.currentVersion(s, base).getOrElse(
        sys.error(s"no committed version at $base"))
      val emb = Similarity.versionedVectors(s, dir)
      val ev = Versioned.currentVersion(s, emb).getOrElse(
        sys.error(s"no committed version at $emb"))
      // resume point: newest version whose artifact exists;
      // build the missing (resume, last] suffix only, then
      // count the head artifact
      final case class Chain(name: String, last: Long,
          artifact: Long => String, at: Long => DataFrame)
      val chains = Seq(
        Chain("windows", v, Dedup.windowIndexArtifact(base, _),
          Dedup.windowIndexAt(s, base, _)),
        Chain("signatures", v, Dedup.signatureIndexArtifact(base, _),
          Dedup.signatureIndexAt(s, base, _)),
        Chain("clusters", v, Dedup.clusterArtifact(base, _),
          Dedup.clusterAssignmentAt(s, base, _)),
        Chain("cms_rows", v, Analytics.cmsArtifact(base, _),
          Analytics.cmsAt(s, base, _)),
        Chain("kmv_sources", v, Analytics.kmvArtifact(base, _),
          Analytics.kmvAt(s, base, _)),
        Chain("tf_grain", v, TextOps.tfGrainArtifact(base, _),
          TextOps.tfGrainAt(s, base, _)),
        // doc_lens MUST precede corpus_stats: the stats
        // chain's removal subtraction reads the previous
        // version's length artifact
        Chain("doc_lens", v, TextOps.docLenArtifact(base, _),
          TextOps.docLenAt(s, base, _)),
        Chain("corpus_stats", v, TextOps.corpusStatsArtifact(base, _),
          TextOps.corpusStatsAt(s, base, _)),
        Chain("lm_scores", v, TextOps.lmScoreArtifact(base, _),
          TextOps.lmScoresAt(s, base, _)),
        Chain("ivf_vectors", ev, Similarity.ivfIndexArtifact(emb, _),
          Similarity.ivfIndexAt(s, emb, _)))
      var built = 0L
      val counts = chains.map { c =>
        val resume = (c.last to 1L by -1L)
          .find(k => ArtifactStore.exists(s, c.artifact(k)))
        val todo = resume match {
          case Some(k) => (k + 1) to c.last
          case None => 1L to c.last
        }
        todo.foreach { k => c.at(k); built += 1 }
        val head = c.artifact(c.last)
        val n = if (todo.nonEmpty) {
          val x = c.at(c.last).count()
          maintainCounts(head) = x
          x
        } else maintainCounts.getOrElseUpdate(head, c.at(c.last).count())
        (c.name, n, todo.size)
      }
      done.put("lake", base).put("version", v).put("steps_built", built)
      counts.foreach { case (k, n, b) => done.put(k, n).put(s"${k}_built", b) }
    }
  }

  // R7: index-maintenance inspection (the /etl/status twin)
  route("/index/status") { _ => (200, indexJobs.status()) }

  // Extension: lake operations introspection — the ops face of the
  // versioned manifest layer. Pure metadata (version markers, ref
  // files, the retention/autocompact knobs): no Spark job runs, so
  // the endpoint is safe to poll from a dashboard. Chain depth is the
  // number every merge-on-read consumer cares about — it IS the
  // read-path fold cost — and surfacing it next to the autocompact
  // threshold makes a mis-tuned policy visible before reads slow.
  route("/lake/status", Some("GET"), needsSpark = true) { r =>
    val s = r.spark
    val base = r.param("base").getOrElse(throw ClientError(422, "base required"))
    val v = Versioned.currentVersion(s, base).getOrElse(
      throw ClientError(404, "no committed version"))
    val out = obj().put("version", v)
    val versions = out.putArray("versions")
    Versioned.listVersions(s, base).sorted.foreach(x => versions.add(x))
    out.put("retention", Versioned.retention(s, base))
      .put("autocompact", Versioned.autoCompactThreshold(s, base))
      .put("autocompact_error", Versioned.autoCompactError(s, base).orNull)
    val tables = out.putObject("tables")
    Versioned.listTables(s, base, v).sorted.foreach(t =>
      chainCounts(tables.putObject(t), Versioned.entryChainAt(s, base, t, v)))
    ok(out)
  }

  // Extension: on-demand lake maintenance — /index/maintain's sibling
  // for the table layer. POST (it publishes); `mor=true` folds across
  // tombstones (compactMorTailPublish), otherwise the data-only tail
  // op. A no-op compaction (nothing to shrink) returns the CURRENT
  // version with compacted=false — idempotent to re-call, like a
  // second OPTIMIZE. `async=true` returns 202 immediately and exposes
  // progress at GET /lake/compact/status — /index/maintain's posture
  // (review finding, r16: a tail compaction of a real table runs
  // minutes; a synchronous handler thread means client timeouts and
  // retry storms queueing rewrites behind the OCC claim).
  route("/lake/compact", Some("POST"), needsSpark = true) { r =>
    val (base, table) = (r.param("base"), r.param("table")) match {
      case (Some(b), Some(t)) => (b, t)
      case _ => throw ClientError(422, "base and table required")
    }
    val mor = r.param("mor").contains("true")
    // partition-preserving compaction IS a full fold across
    // tombstones — a combined request is contradictory, not
    // mergeable; reject rather than guess
    if (r.param("partition_by").exists(_.trim.nonEmpty) && mor)
      throw ClientError(422, "partition_by and mor are mutually exclusive")
    val partitionBy = r.param("partition_by").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    compactJobs.submit(compactKey(base, table),
        r.param("async").contains("true"), "table" -> table) { done =>
      val s = r.spark
      val before = Versioned.currentVersion(s, base).getOrElse(
        sys.error("no committed version"))
      val after =
        if (partitionBy.nonEmpty)
          Versioned.compactPartitioned(s, base, table, partitionBy)
        else if (mor) Versioned.compactMorTailPublish(s, base, table)
        else Versioned.compactTailPublish(s, base, table)
      done.put("from", before).put("to", after)
        .put("compacted", after != before)
    }
  }

  // Async-compaction progress (the /index/status twin). Registered
  // under the /lake/compact prefix — com.sun HttpServer routes to the
  // LONGEST matching prefix, so this wins for the status path.
  // `base` + `table` select ONE job's state (concurrent compactions of
  // different tables do not shadow each other); with no params the
  // latest-started job answers, preserving the single-job polling
  // shape.
  route("/lake/compact/status", Some("GET")) { r =>
    (200, compactJobs.status((r.param("base"), r.param("table")) match {
      case (Some(b), Some(t)) => Some(compactKey(b, t))
      case _ => None
    }))
  }

  // Extension: manifest-level lake history — the time-travel /
  // change-audit face of /lake/status: for each SURVIVING version
  // (bounded by retention), the tables it carries and whether each
  // table's ref CHANGED vs the previous surviving version (new data
  // or tombstone entries, a compaction rewrite, a fresh table) or was
  // carried forward by reference. Pure ref-file metadata — no Spark
  // job — so a dashboard can render "what did publish N touch"
  // without reading a byte of data.
  route("/lake/history", Some("GET"), needsSpark = true) { r =>
    val s = r.spark
    val base = r.param("base").getOrElse(throw ClientError(422, "base required"))
    val versions = Versioned.listVersions(s, base).sorted
    val times = Versioned.versionTimes(s, base)
    if (versions.isEmpty) throw ClientError(404, "no committed version")
    val out = json.createArrayNode()
    versions.foldLeft(Option.empty[Map[String, Seq[(Char, String)]]]) {
      (prev, v) =>
        val cur = Versioned.listTables(s, base, v)
          .map(t => t -> Versioned.entryChainAt(s, base, t, v)).toMap
        val e = out.addObject().put("version", v)
        // committed_at = the instant asOf= resolves against
        times.get(v).foreach(t => e.put("committed_at", t))
        val tables = e.putObject("tables")
        cur.toSeq.sortBy(_._1).foreach { case (t, es) =>
          chainCounts(tables.putObject(t), es)
            .put("changed", !prev.exists(_.get(t).contains(es)))
        }
        val dropped = prev.map(_.keySet.diff(cur.keySet))
          .getOrElse(Set.empty).toSeq.sorted
        if (dropped.nonEmpty) {
          val d = e.putArray("dropped")
          dropped.foreach(t => d.add(t))
        }
        Some(cur)
    }
    ok(out)
  }

  // Extension: the takedown REQUEST itself over HTTP — the
  // right-to-forget shape the merge-on-read lake exists for, closing
  // the GDPR loop with /lake/point (the audit): POST /lake/remove
  // publishes one key-tombstone entry (bytes ∝ the keys — a few KB
  // retire any number of standing rows, no standing byte rewritten;
  // the auto-compact policy later folds the removed rows OUT of
  // storage), then GET /lake/point proves the key gone. POST because
  // it publishes; synchronous because a tombstone write is key-sized,
  // not table-sized (unlike /lake/compact). The same typed-value
  // contract as /lake/point; values are comma-separated.
  route("/lake/remove", Some("POST"), needsSpark = true) { r =>
    (r.param("base"), r.param("table"), r.param("col"), r.param("values")) match {
      case (Some(base), Some(table), Some(col), Some(raw)) =>
        import org.apache.spark.sql.types._
        val vs = typedValues(raw.split(",", -1).map(_.trim).toSeq,
          r.param("type"), "values")
        val s = r.spark
        val before = Versioned.currentVersion(s, base).getOrElse(
          sys.error("no committed version"))
        val dt = vs.head match {
          case _: java.lang.Long => LongType
          case _: java.math.BigDecimal => DecimalType(38, 18)
          case _ => StringType
        }
        val df = s.createDataFrame(
          java.util.Arrays.asList(vs.map(org.apache.spark.sql.Row(_)): _*),
          StructType(Seq(StructField(col, dt))))
        val after = Versioned.removePublish(s, base, table, df)
        ok(obj().put("table", table).put("from", before).put("to", after)
          .put("tombstoned_keys", vs.size))
      case _ => throw ClientError(422, "base, table, col and values required")
    }
  }

  // Extension: the point probe over the lake's bloom sidecars
  // (Versioned.readPoint — q153's oracle-checked seam) as HTTP: the
  // takedown-audit query ("does key k still exist, and where") the
  // per-file blooms exist for. GET for addressability; `type` picks
  // the probe's runtime type, but readPoint now COERCES the probe to
  // the column's stored type before hashing (r18) — a string probe of
  // a long/decimal column prunes correctly; probes the column type
  // cannot represent exactly degrade to a full scan, never an error.
  route("/lake/point", Some("GET"), needsSpark = true) { r =>
    // `value` = single probe; `values` = comma-separated batch
    // (one read audits a whole takedown batch — readPointIn)
    val raws = (r.param("value"), r.param("values")) match {
      case (Some(v), None) => Some(Seq(v))
      case (None, Some(vs)) => Some(vs.split(",", -1).map(_.trim).toSeq)
      case _ => None
    }
    (r.param("base"), r.param("table"), r.param("col"), raws) match {
      case (Some(base), Some(table), Some(col), Some(raws)) =>
        val vs = typedValues(raws, r.param("type"), "value")
        val limit = RestApi.parseLimit(r.param("limit"), default = 100)
          .getOrElse(100)
        // time travel: version=/asOf= audit a HISTORICAL
        // lake version (what did the key look like before
        // the takedown batch?)
        val v = resolveVersion(r.spark, base, r.params)
        rows((if (vs.size == 1)
          Versioned.readPointAt(r.spark, base, table, v, col, vs.head)
        else Versioned.readPointInAt(r.spark, base, table, v, col, vs))
          .limit(limit))
      case _ => throw ClientError(422,
        "base, table, col and value (or values) required")
    }
  }

  // Extension: ad-hoc ranked retrieval over the maintained grain —
  // the interactive face of the chain /index/maintain keeps current.
  // GET so a search is addressable/cacheable; the scoring itself is
  // TextOps.searchBm25 (integer-exact BM25, q130's oracle-checked
  // seam) against the corpus lake's CURRENT version, so a search
  // issued after a publish+maintain sees the new corpus.
  route("/search", Some("GET"), needsSpark = true) { r =>
    val topK = r.limit(default = 10)
    (r.param("q").map(_.trim).filter(_.nonEmpty), r.param("dir")) match {
      case (Some(q), Some(dir)) => rows(TextOps.searchBm25(r.spark, dir, q, topK))
      case _ => throw ClientError(422, "q (non-empty) and dir required")
    }
  }

  // Extension: quality verdicts served from the maintained frozen-LM
  // chain (TextOps.qualityServe, the q143 serving seam) at the corpus
  // lake's current version. With doc_id: that document's bucket row
  // (empty array = unknown id). Without: the head/middle/tail
  // distribution. GET for the same addressability as /search.
  route("/quality", Some("GET"), needsSpark = true) { r =>
    val dir = r.param("dir").getOrElse(throw ClientError(422, "dir required"))
    val id = r.param("doc_id").map(_.trim.toLongOption.getOrElse(
      throw ClientError(422, "doc_id: integer required")))
    rows(TextOps.qualityServe(r.spark, dir, id))
  }

  // Extension: the tokenizer's serving face (r18) — completes the BPE
  // family's train→apply→serve loop the way /search does for BM25 and
  // /knn for ANN. POST (the text rides the body, not the URL); the
  // segmentation runs driver-side against the memoized content-
  // addressed model (TextOps.tokenizeText), so a warm request runs
  // zero Spark jobs, and a corpus replacement at the same dir is a
  // model MISS — the response's `model` address changes, never a
  // stale tokenizer (the /quality mid-stream-bump discipline).
  route("/tokenize", Some("POST"), needsSpark = true) { r =>
    (r.str("text"), r.str("dir")) match {
      case (Some(text), Some(dir)) if text.trim.nonEmpty =>
        val (model, nMerges, toks) = TextOps.tokenizeText(r.spark, dir, text)
        val out = obj().put("model", model).put("merges", nMerges)
        val arr = out.putArray("tokens")
        toks.foreach { t =>
          val o = arr.addObject().put("word", t.word)
          val subwords = o.putArray("subwords")
          t.subwords.foreach(x => subwords.add(x))
          val ids = o.putArray("ids")
          t.ids.foreach(x => ids.add(x))
        }
        ok(out)
      case (Some(_), Some(_)) =>
        throw ClientError(422, "text: non-empty string required")
      case _ => throw ClientError(422, "text and dir required")
    }
  }

  // Extension: ad-hoc vector search — /search's sibling over the
  // maintained IVF index (Similarity.searchKnn, q132's oracle-checked
  // serving path). The query vector arrives as comma-separated floats;
  // parse failures are explicit 422s, never a silent truncation.
  route("/knn", Some("GET"), needsSpark = true) { r =>
    val topK = r.limit(default = 5)
    // split with -1 limit so an empty segment ("1.0,,2.0" or a
    // trailing comma) surfaces as a parse failure → 422, never
    // a silently narrower vector
    val vec = r.param("vec").map(_.split(",", -1).toSeq.map(_.trim.toFloatOption))
    (vec, r.param("dir")) match {
      case (Some(vs), Some(dir)) if vs.nonEmpty && vs.forall(_.isDefined) =>
        try rows(Similarity.searchKnn(r.spark, dir, vs.flatten.toArray, topK))
        catch {
          // the library's dimension guard — a client error
          case e: IllegalArgumentException =>
            throw ClientError(422, String.valueOf(e.getMessage))
        }
      case (Some(_), Some(_)) =>
        throw ClientError(422, "vec: comma-separated floats required")
      case _ => throw ClientError(422, "vec and dir required")
    }
  }

  // The packing ladder's monitoring face over HTTP (r20): q162's
  // per-source audit — sequence counts, stream tokens, corpus-wide
  // full-sequence invariant, exact-ppm fill rate, split-doc counts —
  // served the way trainer dashboards poll it. Same contract
  // discipline as /knn: the response IS the library seam's rows.
  route("/pack/stats", Some("GET"), needsSpark = true) { r =>
    // NOT parseLimit: its 1000 clamp is a row-limit guard, and a
    // trainer's L is routinely 2048/4096/8192 — silently clamping
    // would serve an audit of shards that don't exist (review
    // finding, r20). Out-of-range is a loud 422 instead.
    val seqLen = r.param("seq_len") match {
      case None => 256
      case Some(v) => v.toIntOption.filter(l => l >= 1 && l <= (1 << 20))
        .getOrElse(throw ClientError(422,
          "seq_len: positive integer <= 1048576 required"))
    }
    val dir = r.param("dir").getOrElse(throw ClientError(422, "dir required"))
    // q162 localCheckpoints its grain per call; a polled
    // dashboard endpoint must not pin one grain RDD per
    // poll in the service JVM forever. Cleanup is EXACT
    // (r21, ADVICE r20 medium): the pack family registers
    // every checkpoint it creates on this thread into the
    // tracker, and only THOSE RDD ids are unpersisted —
    // the previous pre/post diff of the global registry
    // raced with concurrent requests (another handler's
    // mid-flight localCheckpoint landing between the
    // snapshots lost its lineage-truncated blocks).
    val buf = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Dataset[_]]
    TextOps.checkpointTracker.set(buf)
    try rows(TextOps.q162PackStats(r.spark, dir, seqLen = seqLen))
    finally {
      TextOps.checkpointTracker.remove()
      try {
        val mine = buf.flatMap(org.apache.spark.sql
          .GraftSqlBridge.checkpointedRddIds).toSet
        r.spark.sparkContext.getPersistentRDDs
          .filter { case (id, _) => mine.contains(id) }
          .values.foreach(_.unpersist(blocking = false))
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  // R5: OpenAPI document at /docs, mirroring the reference's
  // auto-served Swagger surface (readme.md:176-179, api/main.py:7).
  route("/docs") { _ => (200, docs) }

  /** The OpenAPI document, each Spark-backed route's 503 added from
    * the registry (the routes are all registered before a request can
    * arrive). */
  private lazy val docs: String = {
    val tree = json.readTree(RestApi.openApi)
    registered.filter(_.needsSpark).foreach { rt =>
      tree.get("paths").get(rt.path).elements().forEachRemaining(op =>
        op.get("responses").asInstanceOf[ObjectNode].putObject("503")
          .put("description", RestApi.NoSpark))
    }
    write(tree)
  }

  /** Multi-threaded dispatch: a synchronous /etl/run must not block
    * /health or /etl/status (a single-threaded HttpServer serializes
    * every route behind the running Spark job). */
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    8,
    (r: Runnable) => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })

  def start(): RestApi = { server.setExecutor(pool); server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }
}

/** CLI entry (R6): `--extract N` extracts then prints the missing
  * number, exit 1 on error — mirroring `python -m api.main`. Without
  * args it serves HTTP on --port (default 8000). */
object RestApi {

  /** A request the client must fix: answered with `code` and a
    * `{"detail": detail}` body. */
  private final case class ClientError(code: Int, detail: String)
      extends Exception(detail)

  /** A registered route: its path, the one method it accepts (None:
    * any) and whether it needs the Spark session. */
  private[graft] final case class Route(path: String, method: Option[String],
      needsSpark: Boolean)

  private val NoSpark = "no spark session"

  /** Request bodies are parsed and every hand-built body written here,
    * as are the probe, Bench and Verify lines: valid JSON by
    * construction. */
  private[graft] val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Validate an optional `limit` query param: absent → `default`,
    * a positive integer → min(value, 1000), anything else (non-numeric,
    * zero, negative) → None, which handlers turn into a 422 — the same
    * explicit-rejection style as the date validation, instead of a
    * silent clamp/fallback. */
  private[graft] def parseLimit(raw: Option[String],
      default: Int): Option[Int] = raw match {
    case None => Some(default)
    case Some(v) => v.toIntOption.filter(_ >= 1).map(math.min(_, 1000))
  }

  /** OpenAPI 3 document for every served route (R5). The reference
    * gets this generated by FastAPI (readme.md:176-179); here it is
    * maintained by hand next to the handlers it describes, less the
    * 503s, which the route registry adds. */
  private val openApi: String =
    """{"openapi":"3.0.3",
      |"info":{"title":"graft API","version":"1.0.0",
      | "description":"First100 extraction service + Spark ETL orchestration"},
      |"paths":{
      |"/extract":{"post":{"summary":"Extract a number from the set",
      | "requestBody":{"content":{"application/json":{"schema":{"type":"object","required":["number"],"properties":{"number":{"type":"integer","minimum":1,"maximum":100}}}}}},
      | "responses":{"200":{"description":"extracted"},"400":{"description":"already extracted"},"422":{"description":"missing or out-of-range number"}}}},
      |"/missing":{"get":{"summary":"The missing number via Gauss sum",
      | "responses":{"200":{"description":"missing number"},"400":{"description":"not exactly one extracted"}}}},
      |"/reset":{"post":{"summary":"Reset the set",
      | "responses":{"200":{"description":"reset"}}}},
      |"/health":{"get":{"summary":"Liveness probe",
      | "responses":{"200":{"description":"ok"}}}},
      |"/etl/run":{"post":{"summary":"Run the charges ETL",
      | "requestBody":{"content":{"application/json":{"schema":{"type":"object","required":["csvPath"],"properties":{"csvPath":{"type":"string"},"async":{"type":"boolean","default":false}}}}}},
      | "responses":{"200":{"description":"sync run done (counts)"},"202":{"description":"async run started"},"422":{"description":"csvPath required"},"500":{"description":"run failed"}}}},
      |"/etl/status":{"get":{"summary":"Last/current job state",
      | "responses":{"200":{"description":"idle|running|done|failed"}}}},
      |"/query/daily_totals":{"get":{"summary":"daily_company_totals rows in a date range (capped at 1000 rows; X-Graft-Truncated header signals an incomplete page); base= computes the view against a versioned lake instead of the session view, with version= or asOf= (epoch ms | ISO-8601) time-travelling to a historical commit",
      | "parameters":[{"name":"from","in":"query","required":true,"schema":{"type":"string","format":"date"}},{"name":"to","in":"query","required":true,"schema":{"type":"string","format":"date"}},{"name":"limit","in":"query","schema":{"type":"integer","default":1000,"maximum":1000}}],
      | "responses":{"200":{"description":"rows"},"409":{"description":"run /etl/run first"},"422":{"description":"bad dates"}}}},
      |"/index/maintain":{"post":{"summary":"Bring every derived-index chain (windows, signatures, clusters, CMS, KMV, tf-grain, doc-lengths, corpus-stats, frozen-LM scores, IVF) to its lake's current version; resumes each chain from its newest existing artifact (head counts cached: a repeat no-op call runs zero Spark jobs)",
      |  "requestBody":{"content":{"application/json":{"schema":{"properties":{"dir":{"type":"string"},"async":{"type":"boolean","default":false}},"required":["dir"]}}}},
      |  "responses":{"200":{"description":"chains current; per-artifact row counts + versions built"},"202":{"description":"async maintenance started"},"422":{"description":"dir missing"},"500":{"description":"maintenance failed"}}}},
      |"/index/status":{"get":{"summary":"Last/current index-maintenance state",
      | "responses":{"200":{"description":"idle|running|done|failed"}}}},
      |"/query/run":{"get":{"summary":"Run a registered engine query by name",
      | "parameters":[{"name":"name","in":"query","required":true,"schema":{"type":"string"}},{"name":"dir","in":"query","required":true,"schema":{"type":"string"}},{"name":"limit","in":"query","schema":{"type":"integer","default":20,"maximum":1000}}],
      | "responses":{"200":{"description":"rows"},"404":{"description":"unknown query"},"422":{"description":"name and dir required"}}}},
      |"/quality":{"get":{"summary":"Quality verdict from the maintained frozen-LM chain at the corpus lake's current version: a document's perplexity-tercile bucket (doc_id given) or the corpus bucket distribution (omitted)",
      |  "parameters":[{"name":"dir","in":"query","required":true},{"name":"doc_id","in":"query","required":false}],
      |  "responses":{"200":{"description":"bucket row(s); empty array = unknown doc_id"},"422":{"description":"missing dir / non-integer doc_id"}}}},
      |"/search":{"get":{"summary":"Ad-hoc BM25 ranked search over the maintained retrieval grain at the corpus lake's current version",
      | "parameters":[{"name":"q","in":"query","required":true,"schema":{"type":"string"}},{"name":"dir","in":"query","required":true,"schema":{"type":"string"}},{"name":"limit","in":"query","schema":{"type":"integer","default":10,"maximum":1000}}],
      | "responses":{"200":{"description":"ranked rows (query_id, query, rank, doc_id, score)"},"422":{"description":"q and dir required"},"500":{"description":"search failed"}}}},
      |"/knn":{"get":{"summary":"Ad-hoc vector search over the maintained IVF index at the embeddings lake's current version",
      | "parameters":[{"name":"vec","in":"query","required":true,"schema":{"type":"string","description":"comma-separated floats"}},{"name":"dir","in":"query","required":true,"schema":{"type":"string"}},{"name":"limit","in":"query","schema":{"type":"integer","default":5,"maximum":1000}}],
      | "responses":{"200":{"description":"ranked rows (query_id, neighbor_id, rank, cosine)"},"422":{"description":"vec and dir required / malformed vec"},"500":{"description":"search failed"}}}},
      |"/pack/stats":{"get":{"summary":"Packing-efficiency audit of the corpus dir's fixed-length training shards (q162's grain): per source, sequence count, stream tokens, full-sequence count, exact-ppm fill rate, and split-document count — the numbers a trainer dashboard polls",
      | "parameters":[{"name":"dir","in":"query","required":true,"schema":{"type":"string"}},{"name":"seq_len","in":"query","schema":{"type":"integer","default":256,"maximum":1048576}}],
      | "responses":{"200":{"description":"per-source audit rows"},"422":{"description":"dir required / bad seq_len"},"500":{"description":"audit failed"}}}},
      |"/tokenize":{"post":{"summary":"Segment raw text under the corpus dir's standing BPE tokenizer (subwords + model-stable ids per word) — the tokenizer's serving face; the model is content-addressed, so a corpus replacement at the same dir serves a NEW model (response carries its address)",
      | "requestBody":{"content":{"application/json":{"schema":{"type":"object","required":["text","dir"],"properties":{"text":{"type":"string"},"dir":{"type":"string"}}}}}},
      | "responses":{"200":{"description":"{model, merges, tokens:[{word, subwords, ids}]}"},"422":{"description":"text and dir required"},"500":{"description":"tokenization failed"}}}},
      |"/lake/status":{"get":{"summary":"Versioned-lake ops introspection: current/surviving versions, retention and auto-compaction knobs, per-table merge-on-read entry-chain depth (data dirs / tombstones) — pure metadata, no Spark job",
      | "parameters":[{"name":"base","in":"query","required":true,"schema":{"type":"string"}}],
      | "responses":{"200":{"description":"lake status JSON"},"404":{"description":"no committed version"},"422":{"description":"base required"}}}},
      |"/lake/compact":{"post":{"summary":"On-demand compaction of a lake table: tail-only by default, mor=true folds the tail across tombstones, partition_by=col1,col2 runs the partition-preserving full rewrite (col=value dirs survive, merge-on-read chain materializes, hot values stay salted — mutually exclusive with mor); idempotent — nothing to shrink returns the current version with compacted=false; async=true returns 202 and exposes progress at /lake/compact/status",
      | "parameters":[{"name":"base","in":"query","required":true,"schema":{"type":"string"}},{"name":"table","in":"query","required":true,"schema":{"type":"string"}},{"name":"mor","in":"query","schema":{"type":"boolean","default":false}},{"name":"partition_by","in":"query","schema":{"type":"string"},"description":"comma-separated partition columns — routes to Versioned.compactPartitioned"},{"name":"async","in":"query","schema":{"type":"boolean","default":false}}],
      | "responses":{"200":{"description":"{state, table, from, to, compacted}"},"202":{"description":"async compaction started"},"422":{"description":"base and table required / partition_by+mor conflict"},"500":{"description":"compaction failed"}}}},
      |"/lake/compact/status":{"get":{"summary":"Progress of a /lake/compact run (idle | running | done | failed), keyed by base+table (concurrent jobs on different tables don't shadow each other); with no params the latest-started job answers — the /index/status twin",
      | "responses":{"200":{"description":"job state JSON"}}}},
      |"/lake/history":{"get":{"summary":"Manifest-level history of the surviving versions: per version, its commit instant (committed_at, epoch ms — the clock asOf= resolves against) and each table's entry counts plus whether its ref changed vs the previous surviving version (carried refs read as changed=false) — pure metadata, no Spark job",
      | "parameters":[{"name":"base","in":"query","required":true,"schema":{"type":"string"}}],
      | "responses":{"200":{"description":"JSON array, one entry per surviving version"},"404":{"description":"no committed version"},"422":{"description":"base required"}}}},
      |"/lake/remove":{"post":{"summary":"Publish a key-tombstone takedown (Versioned.removePublish) — the right-to-forget request; bytes written are proportional to the keys, standing files untouched, and the auto-compaction policy later folds removed rows out of storage; values comma-separated, typed like /lake/point",
      | "parameters":[{"name":"base","in":"query","required":true,"schema":{"type":"string"}},{"name":"table","in":"query","required":true,"schema":{"type":"string"}},{"name":"col","in":"query","required":true,"schema":{"type":"string"}},{"name":"values","in":"query","required":true,"schema":{"type":"string"}},{"name":"type","in":"query","schema":{"type":"string","default":"string","enum":["string","long","decimal"]}}],
      | "responses":{"200":{"description":"{table, from, to, tombstoned_keys}"},"422":{"description":"missing/mistyped parameters"},"500":{"description":"publish failed"}}}},
      |"/lake/point":{"get":{"summary":"Point probe over a lake table via the per-file Bloom sidecars (Versioned.readPoint) — the takedown-audit query; `values` (comma-separated) audits a whole batch in one read (readPointIn); type picks the probe's runtime type (string|long|decimal) and the probe is coerced to the column's stored type before hashing (a DATE column takes its ISO spelling via type=string and still prunes); untracked columns or probes the column type cannot represent degrade to a full scan; version= or asOf= (epoch ms | ISO-8601) audits a historical lake version",
      | "parameters":[{"name":"base","in":"query","required":true,"schema":{"type":"string"}},{"name":"table","in":"query","required":true,"schema":{"type":"string"}},{"name":"col","in":"query","required":true,"schema":{"type":"string"}},{"name":"value","in":"query","schema":{"type":"string"}},{"name":"values","in":"query","schema":{"type":"string"}},{"name":"type","in":"query","schema":{"type":"string","default":"string","enum":["string","long","decimal"]}},{"name":"limit","in":"query","schema":{"type":"integer","default":100}}],
      | "responses":{"200":{"description":"matching rows as a JSON array"},"422":{"description":"missing/mistyped parameters"},"500":{"description":"probe failed"}}}},
      |"/docs":{"get":{"summary":"This document",
      | "responses":{"200":{"description":"OpenAPI JSON"}}}}
      |}}""".stripMargin

  def main(args: Array[String]): Unit = args.toList match {
    case "--extract" :: n :: Nil =>
      val s = new First100Set
      s.extract(n.toInt) match {
        case Left(err) => System.err.println(err); sys.exit(1)
        case Right(_) => s.missingBySum match {
          case Right(m) => println(s"missing: $m")
          case Left(err) => System.err.println(err); sys.exit(1)
        }
      }
    case rest =>
      val port = rest match {
        case "--port" :: p :: Nil => p.toInt
        case _ => 8000
      }
      val api = new RestApi(None, port).start()
      println(s"serving on :${api.boundPort}")
      Thread.currentThread().join()
  }
}
