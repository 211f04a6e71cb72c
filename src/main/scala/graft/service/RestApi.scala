package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicReference
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

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

  // R4: singleton rebound on /reset, like the reference's `global state`
  private val state = new AtomicReference(new First100Set)
  // AtomicReference, not a @volatile var: the replace-and-release in
  // run() must be a single getAndSet — with a plain read-then-write,
  // two concurrent /etl/run threads can read the same previous Result,
  // double-release it, and orphan the loser's cache for the JVM's
  // lifetime (its partitions stay pinned in the block store).
  private val lastEtl =
    new AtomicReference[Option[graft.etl.ChargesEtl.Result]](None)
  // Serializes the ETL body so interleaved runs can't misreport
  // jobStatus (run A's "done" counts overwritten by run B's "running").
  private val etlRunLock = new Object

  /** R7 job state: idle → running → done|failed, inspectable while the
    * Spark job executes on its own thread. */
  private val jobStatus = new AtomicReference[String]("""{"state":"idle"}""")

  /** Index-maintenance job state (the /etl/run pair for
    * /index/maintain) plus the lock serializing maintenance walks —
    * two concurrent POSTs would race the same artifact publishes. */
  private val indexStatus = new AtomicReference[String]("""{"state":"idle"}""")
  private val maintainLock = new Object
  // status writes are sequenced per REQUEST: a queued run's "running"
  // must not be overwritten by an EARLIER run's completion (the
  // overlap race: A long-running, B queued on the lock — A's done
  // landing after B's running would tell a poller maintenance is
  // finished while B has not executed)
  private val maintainSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val indexStatusSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def setIndexStatus(seq: Long, json: String): Unit =
    indexStatus.synchronized {
      if (seq >= indexStatusSeq.get()) {
        indexStatusSeq.set(seq)
        indexStatus.set(json)
      }
    }
  // head-artifact row counts, keyed by artifact path (immutable once
  // published), so a repeat no-op POST /index/maintain runs ZERO
  // Spark jobs — the resume probe is FS-only and the response's
  // sanity numbers come from this cache; a chain that built anything
  // recounts (a crash-retried head may have been rebuilt)
  private val lakeCompactLock = new Object
  private val lakeCompactSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Compaction job states keyed by (base, table) — one global slot
    * would let two async compactions of DIFFERENT tables overwrite
    * each other's status, so a poller could read another job's
    * done/failed as its own (advice-low, r17). Each slot keeps the
    * [[setIndexStatus]] monotone-seq discipline (a stale job finishing
    * late must not clobber a newer run's state); `latestKey` serves
    * the parameterless status poll as "the most recently started
    * job". Bounded: entries are per distinct (base, table) this
    * process compacted, each a few hundred bytes. */
  private val lakeCompactJobs = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, String)]()
  private val lakeCompactLatest =
    new AtomicReference[String](null) // key of the latest-started job
  private def lakeJobKey(base: String, table: String): String =
    base + "\u0000" + table
  private def setLakeCompactStatus(key: String, seq: Long, json: String): Unit =
    lakeCompactJobs.merge(key, (seq, json),
      (old, neu) => if (neu._1 >= old._1) neu else old)
  private def lakeCompactStatusJson(key: Option[String]): String =
    key.orElse(Option(lakeCompactLatest.get()))
      .flatMap(k => Option(lakeCompactJobs.get(k))).map(_._2)
      .getOrElse("""{"state":"idle"}""")

  private val maintainCounts =
    scala.collection.mutable.Map.empty[String, Long]

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  def boundPort: Int = server.getAddress.getPort

  private def reply(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** A JSON string body: quote, backslash and the control characters
    * U+0000–U+001F escaped, so a multi-line exception message still
    * makes a valid error body. */
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Minimal field extractor for the flat request bodies we accept —
    * mirrors pydantic's int coercion for {"number": n}. */
  private def intField(body: String, field: String): Option[Int] = {
    val m = java.util.regex.Pattern
      .compile("\"" + field + "\"\\s*:\\s*(-?\\d+)").matcher(body)
    if (m.find()) Some(m.group(1).toInt) else None
  }
  private def strField(body: String, field: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + field + "\"\\s*:\\s*\"([^\"]*)\"").matcher(body)
    if (m.find()) Some(m.group(1)) else None
  }
  /** Boolean field extractor — anchored to `"field": true|false`, so a
    * string VALUE containing "true" (e.g. a csvPath) can never flip a
    * request async. */
  private def boolField(body: String, field: String): Option[Boolean] = {
    val m = java.util.regex.Pattern
      .compile("\"" + field + "\"\\s*:\\s*(true|false)").matcher(body)
    if (m.find()) Some(m.group(1).toBoolean) else None
  }

  /** Resolve the optional time-travel params against a lake (r18):
    * `version` names a committed version id, `asOf` a point in time
    * (epoch millis or an ISO-8601 instant) resolved to the newest
    * commit at or before it; neither → the current version. Left is a
    * ready (status, body) error. */
  private def resolveVersion(s: org.apache.spark.sql.SparkSession,
      base: String, params: Map[String, String])
      : Either[(Int, String), Long] = {
    import graft.sources.Versioned
    (params.get("version"), params.get("asOf")) match {
      case (Some(_), Some(_)) =>
        Left((422, """{"detail":"version and asOf are mutually exclusive"}"""))
      case (Some(v), None) => v.toLongOption match {
        case None =>
          Left((422, """{"detail":"version: integer required"}"""))
        case Some(n) =>
          if (Versioned.listVersions(s, base).contains(n)) Right(n)
          else Left((404,
            s"""{"detail":"no surviving version $n (older versions are garbage-collected per retention)"}"""))
      }
      case (None, Some(a)) =>
        val ts: Option[Long] = a.toLongOption.orElse(
          try Some(java.time.Instant.parse(a).toEpochMilli)
          catch { case _: Exception => None })
        ts match {
          case None => Left((422,
            """{"detail":"asOf: epoch millis or ISO-8601 instant required"}"""))
          case Some(t) => Versioned.versionAsOf(s, base, t).toRight(
            (404, """{"detail":"no version committed at or before asOf"}"""))
        }
      case (None, None) => Versioned.currentVersion(s, base).toRight(
        (404, """{"detail":"no committed version"}"""))
    }
  }

  /** Query params, URL-decoded (a `%3A` in a dir path or a `+` in a
    * query name must round-trip). */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) ->
          java.net.URLDecoder.decode(v, UTF_8)
      }.toMap

  server.createContext("/extract", (ex: HttpExchange) =>
    if (ex.getRequestMethod != "POST") reply(ex, 405, """{"detail":"method not allowed"}""")
    else {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      intField(body, "number") match {
        case None => reply(ex, 422, """{"detail":"number: field required"}""")
        // pydantic ge=1 le=100 rejects before the handler → 422 (R1)
        case Some(n) if n < 1 || n > First100Set.Domain =>
          reply(ex, 422, """{"detail":"number: must be between 1 and 100"}""")
        case Some(n) => state.get.extract(n) match {
          case Right(v) => reply(ex, 200, s"""{"extracted":$v}""")
          case Left(err) => reply(ex, 400, s"""{"detail":"${esc(err)}"}""")
        }
      }
    })

  server.createContext("/missing", (ex: HttpExchange) =>
    state.get.missingBySum match {
      case Right(v) => reply(ex, 200, s"""{"missing":$v}""")
      case Left(err) => reply(ex, 400, s"""{"detail":"${esc(err)}"}""")
    })

  server.createContext("/reset", (ex: HttpExchange) =>
    if (ex.getRequestMethod != "POST") reply(ex, 405, """{"detail":"method not allowed"}""")
    else { state.set(new First100Set); reply(ex, 200, """{"status":"reset"}""") })

  server.createContext("/health", (ex: HttpExchange) =>
    reply(ex, 200, """{"status":"ok"}"""))

  // R7: job orchestration — routes that launch/inspect Spark jobs
  server.createContext("/etl/run", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "POST" => reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        strField(body, "csvPath") match {
          case None => reply(ex, 422, """{"detail":"csvPath: field required"}""")
          case Some(p) =>
            val async = boolField(body, "async").getOrElse(false)
            def run(): String = etlRunLock.synchronized {
              try {
                val r = graft.etl.ChargesEtl.run(s, p)
                // keep exactly ONE run cached: atomically swap in the
                // new result and release exactly the one it replaced —
                // unless the two share a cache entry (same csv ⇒ same
                // canonicalized plan), where releasing the old would
                // evict the new one's cache too
                lastEtl.getAndSet(Some(r))
                  .foreach(_.releaseUnlessSharedWith(r))
                graft.etl.ChargesEtl.registerDailyTotalsView(s, r)
                val summary =
                  s"""{"state":"done","original":${r.original.count()},"clean":${r.clean.count()},"critical":${r.critical.count()}}"""
                jobStatus.set(summary)
                summary
              } catch {
                case e: Exception =>
                  val err = s"""{"state":"failed","detail":"${esc(String.valueOf(e.getMessage))}"}"""
                  jobStatus.set(err)
                  err
              }
            }
            if (async) {
              jobStatus.set("""{"state":"running"}""")
              new Thread(() => { run(); () }, "graft-etl-job").start()
              reply(ex, 202, """{"state":"running"}""")
            } else {
              jobStatus.set("""{"state":"running"}""")
              val out = run()
              reply(ex, if (out.contains("\"done\"")) 200 else 500, out)
            }
        }
    })

  // R7: job inspection
  server.createContext("/etl/status", (ex: HttpExchange) =>
    reply(ex, 200, jobStatus.get))

  server.createContext("/query/daily_totals", (ex: HttpExchange) =>
    spark match {
      case None => reply(ex, 503, """{"detail":"no spark session"}""")
      case Some(s) =>
        val params = queryParams(ex)
        val datePat = "\\d{4}-\\d{2}-\\d{2}".r
        (params.get("from"), params.get("to")) match {
          case (Some(f), Some(t))
              if datePat.matches(f) && datePat.matches(t) =>
            // Bounded driver collect: same 1000-row hard cap as
            // /query/run. The LIMIT is pushed into the plan (cap+1 to
            // detect truncation), so a year-wide range on a huge table
            // can never OOM the driver — Spark plans it as a
            // TakeOrdered, not a full sort+collect.
            RestApi.parseLimit(params.get("limit"), default = 1000) match {
              case None =>
                reply(ex, 422,
                  """{"detail":"limit: positive integer required"}""")
              case Some(cap) =>
                // time travel (r18): `base` + version=/asOf= serve the
                // reference's own view query against a HISTORICAL lake
                // version — "what did the daily totals say before
                // publish N" (the audit face of /lake/history). With
                // no base, the session view from the last /etl/run
                // answers, as before.
                val viewOrErr: Either[(Int, String),
                    org.apache.spark.sql.DataFrame] =
                  params.get("base") match {
                    case Some(lakeBase) =>
                      resolveVersion(s, lakeBase, params).map(v =>
                        graft.etl.ChargesEtl.dailyTotalsAt(s, lakeBase, v))
                    case None =>
                      if (lastEtl.get().isEmpty)
                        Left((409, """{"detail":"run /etl/run first (or pass base= for a lake-versioned query)"}"""))
                      else Right(s.table("daily_company_totals"))
                  }
                viewOrErr match {
                  case Left((code, body)) => reply(ex, code, body)
                  case Right(view) =>
                    try {
                      import org.apache.spark.sql.functions.{col, lit}
                      val rows = view
                        .filter(col("transaction_date").between(
                          lit(f).cast("date"), lit(t).cast("date")))
                        .select(col("company_name"),
                          col("transaction_date").cast("string").as("d"),
                          col("total_amount").cast("string").as("total"))
                        .orderBy(col("company_name"), col("d"))
                        .limit(cap + 1)
                        .collect().map(r =>
                          s"""{"company_name":"${esc(r.getString(0))}","transaction_date":"${r.getString(1)}","total_amount":${r.getString(2)}}""")
                      val truncated = rows.length > cap
                      ex.getResponseHeaders.set(
                        "X-Graft-Truncated", truncated.toString)
                      reply(ex, 200, rows.take(cap).mkString("[", ",", "]"))
                    } catch {
                      case e: Exception => reply(ex, 500,
                        s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
                    }
                }
            }
          case _ => reply(ex, 422, """{"detail":"from/to: YYYY-MM-DD required"}""")
        }
    })

  // R7 extension: run any registered engine query by name —
  // GET /query/run?name=q1_agg&dir=/root/testdata/sf0.001&limit=20
  // The name is validated against the registry (no arbitrary code) and
  // results are capped — the driver-side collect is bounded by design.
  server.createContext("/query/run", (ex: HttpExchange) =>
    spark match {
      case None => reply(ex, 503, """{"detail":"no spark session"}""")
      case Some(s) =>
        val params = queryParams(ex)
        RestApi.parseLimit(params.get("limit"), default = 20) match {
          case None =>
            reply(ex, 422, """{"detail":"limit: positive integer required"}""")
          case Some(limit) =>
        (params.get("name"), params.get("dir")) match {
          case (Some(n), Some(dir)) if graft.SparkEntry.queries.contains(n) =>
            try {
              val rows = graft.SparkEntry.queries(n)(s, dir).limit(limit)
                .toJSON.collect()
              reply(ex, 200, rows.mkString("[", ",", "]"))
            } catch {
              case e: Exception =>
                reply(ex, 500, s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
            }
          case (Some(n), _) =>
            reply(ex, 404, s"""{"detail":"unknown query ${esc(n)}"}""")
          case _ => reply(ex, 422, """{"detail":"name and dir required"}""")
        }
        }
    })

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
  server.createContext("/index/maintain", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "POST" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        strField(body, "dir") match {
          case None => reply(ex, 422, """{"detail":"dir: field required"}""")
          case Some(dir) =>
            val async = boolField(body, "async").getOrElse(false)
            def run(): String = maintainLock.synchronized {
              try {
                import graft.queries.{Analytics, Dedup, Similarity, TextOps}
                import graft.sources.{ArtifactStore, Versioned}
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
                    artifact: Long => String,
                    at: Long => org.apache.spark.sql.DataFrame)
                val chains = Seq(
                  Chain("windows", v, Dedup.windowIndexArtifact(base, _),
                    Dedup.windowIndexAt(s, base, _)),
                  Chain("signatures", v,
                    Dedup.signatureIndexArtifact(base, _),
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
                  Chain("corpus_stats", v,
                    TextOps.corpusStatsArtifact(base, _),
                    TextOps.corpusStatsAt(s, base, _)),
                  Chain("lm_scores", v, TextOps.lmScoreArtifact(base, _),
                    TextOps.lmScoresAt(s, base, _)),
                  Chain("ivf_vectors", ev,
                    Similarity.ivfIndexArtifact(emb, _),
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
                  } else maintainCounts.getOrElseUpdate(head,
                    c.at(c.last).count())
                  (c.name, n, todo.size)
                }
                val summary =
                  s"""{"state":"done","lake":"${esc(base)}",""" +
                    s""""version":$v,"steps_built":$built,""" +
                    counts.map { case (k, n, b) =>
                      s""""$k":$n,"${k}_built":$b""" }.mkString(",") + "}"
                summary
              } catch {
                case e: Exception =>
                  s"""{"state":"failed","detail":"${
                    esc(String.valueOf(e.getMessage))}"}"""
              }
            }
            val seq = maintainSeq.incrementAndGet()
            def runAndPublish(): String = {
              val out = run()
              setIndexStatus(seq, out)
              out
            }
            if (async) {
              setIndexStatus(seq, """{"state":"running"}""")
              new Thread(() => { runAndPublish(); () },
                "graft-index-job").start()
              reply(ex, 202, """{"state":"running"}""")
            } else {
              setIndexStatus(seq, """{"state":"running"}""")
              val out = runAndPublish()
              reply(ex, if (out.contains("\"done\"")) 200 else 500, out)
            }
        }
    })

  // R7: index-maintenance inspection (the /etl/status twin)
  server.createContext("/index/status", (ex: HttpExchange) =>
    reply(ex, 200, indexStatus.get))

  // Extension: lake operations introspection — the ops face of the
  // versioned manifest layer. Pure metadata (version markers, ref
  // files, the retention/autocompact knobs): no Spark job runs, so
  // the endpoint is safe to poll from a dashboard. Chain depth is the
  // number every merge-on-read consumer cares about — it IS the
  // read-path fold cost — and surfacing it next to the autocompact
  // threshold makes a mis-tuned policy visible before reads slow.
  server.createContext("/lake/status", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "GET" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        import graft.sources.Versioned
        queryParams(ex).get("base") match {
          case None => reply(ex, 422, """{"detail":"base required"}""")
          case Some(base) =>
            try {
              Versioned.currentVersion(s, base) match {
                case None =>
                  reply(ex, 404, """{"detail":"no committed version"}""")
                case Some(v) =>
                  val tables = Versioned.listTables(s, base, v).sorted.map { t =>
                    val chain = Versioned.entryChainAt(s, base, t, v)
                    s""""${esc(t)}":{"entries":${chain.size},""" +
                      s""""data":${chain.count(_._1 == 'd')},""" +
                      s""""tombstones":${chain.count(_._1 == 't')}}"""
                  }
                  val acErr = Versioned.autoCompactError(s, base)
                    .map(m => s""""${esc(m)}"""").getOrElse("null")
                  reply(ex, 200,
                    s"""{"version":$v,""" +
                      s""""versions":[${Versioned.listVersions(s, base).sorted.mkString(",")}],""" +
                      s""""retention":${Versioned.retention(s, base)},""" +
                      s""""autocompact":${Versioned.autoCompactThreshold(s, base)},""" +
                      s""""autocompact_error":$acErr,""" +
                      s""""tables":{${tables.mkString(",")}}}""")
              }
            } catch {
              case e: Exception => reply(ex, 500,
                s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
            }
        }
    })

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
  server.createContext("/lake/compact", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "POST" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        import graft.sources.Versioned
        val params = queryParams(ex)
        (params.get("base"), params.get("table")) match {
          case (None, _) | (_, None) =>
            reply(ex, 422, """{"detail":"base and table required"}""")
          case (Some(base), Some(table))
              if params.get("partition_by").exists(_.trim.nonEmpty) &&
                params.get("mor").contains("true") =>
            // partition-preserving compaction IS a full fold across
            // tombstones — a combined request is contradictory, not
            // mergeable; reject rather than guess
            reply(ex, 422,
              """{"detail":"partition_by and mor are mutually exclusive"}""")
          case (Some(base), Some(table)) =>
            val partitionBy = params.get("partition_by").toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            // success rides a structured flag, not payload sniffing
            // (advice-low, r17)
            def run(): (Boolean, String) = lakeCompactLock.synchronized {
              try {
                val before = Versioned.currentVersion(s, base).getOrElse(
                  sys.error("no committed version"))
                val after =
                  if (partitionBy.nonEmpty)
                    Versioned.compactPartitioned(s, base, table, partitionBy)
                  else if (params.get("mor").contains("true"))
                    Versioned.compactMorTailPublish(s, base, table)
                  else Versioned.compactTailPublish(s, base, table)
                (true, s"""{"state":"done","table":"${esc(table)}",""" +
                  s""""from":$before,"to":$after,""" +
                  s""""compacted":${after != before}}""")
              } catch {
                case e: Exception =>
                  (false, s"""{"state":"failed","table":"${esc(table)}",""" +
                    s""""detail":"${esc(String.valueOf(e.getMessage))}"}""")
              }
            }
            val key = lakeJobKey(base, table)
            val seq = lakeCompactSeq.incrementAndGet()
            lakeCompactLatest.set(key)
            setLakeCompactStatus(key, seq,
              s"""{"state":"running","table":"${esc(table)}"}""")
            if (params.get("async").contains("true")) {
              new Thread(() => {
                setLakeCompactStatus(key, seq, run()._2); ()
              }, "graft-lake-compact").start()
              reply(ex, 202,
                s"""{"state":"running","table":"${esc(table)}"}""")
            } else {
              val (ok, out) = run()
              setLakeCompactStatus(key, seq, out)
              reply(ex, if (ok) 200 else 500, out)
            }
        }
    })

  // Async-compaction progress (the /index/status twin). Registered
  // under the /lake/compact prefix — com.sun HttpServer routes to the
  // LONGEST matching prefix, so this wins for the status path.
  // `base` + `table` select ONE job's state (concurrent compactions of
  // different tables no longer shadow each other); with no params the
  // latest-started job answers, preserving the single-job polling
  // shape.
  server.createContext("/lake/compact/status", (ex: HttpExchange) =>
    if (ex.getRequestMethod != "GET")
      reply(ex, 405, """{"detail":"method not allowed"}""")
    else {
      val params = queryParams(ex)
      val key = (params.get("base"), params.get("table")) match {
        case (Some(b), Some(t)) => Some(lakeJobKey(b, t))
        case _ => None
      }
      reply(ex, 200, lakeCompactStatusJson(key))
    })

  // Extension: the point probe over the lake's bloom sidecars
  // (Versioned.readPoint — q153's oracle-checked seam) as HTTP: the
  // takedown-audit query ("does key k still exist, and where") the
  // per-file blooms exist for. GET for addressability; `type` picks
  // the probe's runtime type, but readPoint now COERCES the probe to
  // the column's stored type before hashing (r18) — a string probe of
  // a long/decimal column prunes correctly; probes the column type
  // cannot represent exactly degrade to a full scan, never an error.
  // Extension: manifest-level lake history — the time-travel /
  // change-audit face of /lake/status: for each SURVIVING version
  // (bounded by retention), the tables it carries and whether each
  // table's ref CHANGED vs the previous surviving version (new data
  // or tombstone entries, a compaction rewrite, a fresh table) or was
  // carried forward by reference. Pure ref-file metadata — no Spark
  // job — so a dashboard can render "what did publish N touch"
  // without reading a byte of data.
  server.createContext("/lake/history", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "GET" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        import graft.sources.Versioned
        queryParams(ex).get("base") match {
          case None => reply(ex, 422, """{"detail":"base required"}""")
          case Some(base) =>
            try {
              val versions = Versioned.listVersions(s, base).sorted
              val times = Versioned.versionTimes(s, base)
              if (versions.isEmpty)
                reply(ex, 404, """{"detail":"no committed version"}""")
              else {
                def chains(v: Long): Map[String, Seq[(Char, String)]] =
                  Versioned.listTables(s, base, v)
                    .map(t => t -> Versioned.entryChainAt(s, base, t, v))
                    .toMap
                val entries = versions.foldLeft(
                  (Option.empty[Map[String, Seq[(Char, String)]]],
                    Vector.empty[String])) { case ((prev, acc), v) =>
                  val cur = chains(v)
                  val tables = cur.toSeq.sortBy(_._1).map { case (t, es) =>
                    val changed = !prev.exists(_.get(t).contains(es))
                    s""""${esc(t)}":{"entries":${es.size},""" +
                      s""""data":${es.count(_._1 == 'd')},""" +
                      s""""tombstones":${es.count(_._1 == 't')},""" +
                      s""""changed":$changed}"""
                  }
                  val dropped = prev.map(_.keySet.diff(cur.keySet))
                    .getOrElse(Set.empty).toSeq.sorted
                  // committed_at = the instant asOf= resolves against
                  val line = s"""{"version":$v,""" +
                    times.get(v).fold("")(t => s""""committed_at":$t,""") +
                    s""""tables":{${tables.mkString(",")}}""" +
                    (if (dropped.nonEmpty)
                      s""","dropped":[${dropped.map(t =>
                        s""""${esc(t)}"""").mkString(",")}]"""
                    else "") + "}"
                  (Some(cur), acc :+ line)
                }._2
                reply(ex, 200, entries.mkString("[", ",", "]"))
              }
            } catch {
              case e: Exception => reply(ex, 500,
                s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
            }
        }
    })

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
  server.createContext("/lake/remove", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "POST" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        import graft.sources.Versioned
        val params = queryParams(ex)
        (params.get("base"), params.get("table"), params.get("col"),
          params.get("values")) match {
          case (Some(base), Some(table), Some(col), Some(raw)) =>
            val pieces = raw.split(",", -1).map(_.trim).toSeq
            val typed: Either[String, Seq[Any]] =
              if (pieces.exists(_.isEmpty))
                Left("values: empty element in list")
              else params.get("type").getOrElse("string") match {
                case "string" => Right(pieces)
                case "long" =>
                  val parsed = pieces.map(_.toLongOption)
                  if (parsed.contains(None))
                    Left("values: integers required for type=long")
                  else Right(parsed.flatten)
                case "decimal" =>
                  try Right(pieces.map(new java.math.BigDecimal(_)))
                  catch { case _: NumberFormatException =>
                    Left("values: decimals required for type=decimal") }
                case other => Left(s"type: unsupported '$other'")
              }
            typed match {
              case Left(err) => reply(ex, 422, s"""{"detail":"${esc(err)}"}""")
              case Right(vs) =>
                try {
                  val before = Versioned.currentVersion(s, base).getOrElse(
                    sys.error("no committed version"))
                  val tomb = vs.map(v => org.apache.spark.sql.Row(v))
                  val dt = vs.head match {
                    case _: java.lang.Long => org.apache.spark.sql.types.LongType
                    case _: java.math.BigDecimal =>
                      org.apache.spark.sql.types.DecimalType(38, 18)
                    case _ => org.apache.spark.sql.types.StringType
                  }
                  val df = s.createDataFrame(
                    new java.util.ArrayList(
                      scala.jdk.CollectionConverters
                        .SeqHasAsJava(tomb).asJava),
                    org.apache.spark.sql.types.StructType(Seq(
                      org.apache.spark.sql.types.StructField(col, dt))))
                  val after = Versioned.removePublish(s, base, table, df)
                  reply(ex, 200,
                    s"""{"table":"${esc(table)}","from":$before,""" +
                      s""""to":$after,"tombstoned_keys":${vs.size}}""")
                } catch {
                  case e: Exception => reply(ex, 500,
                    s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
                }
            }
          case _ => reply(ex, 422,
            """{"detail":"base, table, col and values required"}""")
        }
    })

  server.createContext("/lake/point", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "GET" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        import graft.sources.Versioned
        val params = queryParams(ex)
        // `value` = single probe; `values` = comma-separated batch
        // (one read audits a whole takedown batch — readPointIn)
        val rawList: Option[Seq[String]] =
          (params.get("value"), params.get("values")) match {
            case (Some(v), None) => Some(Seq(v))
            case (None, Some(vs)) => Some(vs.split(",", -1).map(_.trim).toSeq)
            case _ => None
          }
        (params.get("base"), params.get("table"), params.get("col"),
          rawList) match {
          case (Some(base), Some(table), Some(col), Some(raws)) =>
            val typed: Either[String, Seq[Any]] =
              if (raws.isEmpty || raws.exists(_.isEmpty))
                Left("values: empty element in list")
              else params.get("type").getOrElse("string") match {
                case "string" => Right(raws)
                case "long" =>
                  val parsed = raws.map(_.toLongOption)
                  if (parsed.contains(None))
                    Left("value: integers required for type=long")
                  else Right(parsed.flatten)
                case "decimal" =>
                  try Right(raws.map(new java.math.BigDecimal(_)))
                  catch { case _: NumberFormatException =>
                    Left("value: decimals required for type=decimal") }
                case other => Left(s"type: unsupported '$other'")
              }
            typed match {
              case Left(err) => reply(ex, 422, s"""{"detail":"${esc(err)}"}""")
              case Right(vs) =>
                try {
                  val limit = RestApi.parseLimit(
                    params.get("limit"), default = 100).getOrElse(100)
                  // time travel: version=/asOf= audit a HISTORICAL
                  // lake version (what did the key look like before
                  // the takedown batch?)
                  resolveVersion(s, base, params) match {
                    case Left((code, body)) => reply(ex, code, body)
                    case Right(v) =>
                      val df =
                        if (vs.size == 1)
                          Versioned.readPointAt(s, base, table, v, col, vs.head)
                        else
                          Versioned.readPointInAt(s, base, table, v, col, vs)
                      val rows = df.limit(limit).toJSON.collect()
                      reply(ex, 200, rows.mkString("[", ",", "]"))
                  }
                } catch {
                  case e: Exception => reply(ex, 500,
                    s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
                }
            }
          case _ => reply(ex, 422,
            """{"detail":"base, table, col and value (or values) required"}""")
        }
    })

  // Extension: ad-hoc ranked retrieval over the maintained grain —
  // the interactive face of the chain /index/maintain keeps current.
  // GET so a search is addressable/cacheable; the scoring itself is
  // TextOps.searchBm25 (integer-exact BM25, q130's oracle-checked
  // seam) against the corpus lake's CURRENT version, so a search
  // issued after a publish+maintain sees the new corpus.
  server.createContext("/search", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "GET" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        val params = queryParams(ex)
        RestApi.parseLimit(params.get("limit"), default = 10) match {
          case None =>
            reply(ex, 422, """{"detail":"limit: positive integer required"}""")
          case Some(topK) =>
            (params.get("q").map(_.trim).filter(_.nonEmpty),
              params.get("dir")) match {
              case (Some(q), Some(dir)) =>
                try {
                  val rows = graft.queries.TextOps
                    .searchBm25(s, dir, q, topK).toJSON.collect()
                  reply(ex, 200, rows.mkString("[", ",", "]"))
                } catch {
                  case e: Exception => reply(ex, 500,
                    s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
                }
              case _ =>
                reply(ex, 422,
                  """{"detail":"q (non-empty) and dir required"}""")
            }
        }
    })

  // Extension: quality verdicts served from the maintained frozen-LM
  // chain (TextOps.qualityServe, the q143 serving seam) at the corpus
  // lake's current version. With doc_id: that document's bucket row
  // (empty array = unknown id). Without: the head/middle/tail
  // distribution. GET for the same addressability as /search.
  server.createContext("/quality", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "GET" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        val params = queryParams(ex)
        val rawId = params.get("doc_id")
        val docId = rawId.map(_.trim.toLongOption)
        (params.get("dir"), docId) match {
          case (None, _) => reply(ex, 422, """{"detail":"dir required"}""")
          case (_, Some(None)) =>
            reply(ex, 422, """{"detail":"doc_id: integer required"}""")
          case (Some(dir), id) =>
            try {
              val rows = graft.queries.TextOps
                .qualityServe(s, dir, id.flatten).toJSON.collect()
              reply(ex, 200, rows.mkString("[", ",", "]"))
            } catch {
              case e: Exception => reply(ex, 500,
                s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
            }
        }
    })

  // Extension: ad-hoc vector search — /search's sibling over the
  // maintained IVF index (Similarity.searchKnn, q132's oracle-checked
  // serving path). The query vector arrives as comma-separated floats;
  // Extension: the tokenizer's serving face (r18) — completes the BPE
  // family's train→apply→serve loop the way /search does for BM25 and
  // /knn for ANN. POST (the text rides the body, not the URL); the
  // segmentation runs driver-side against the memoized content-
  // addressed model (TextOps.tokenizeText), so a warm request runs
  // zero Spark jobs, and a corpus replacement at the same dir is a
  // model MISS — the response's `model` address changes, never a
  // stale tokenizer (the /quality mid-stream-bump discipline).
  server.createContext("/tokenize", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "POST" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        (strField(body, "text"), strField(body, "dir")) match {
          case (Some(text), Some(dir)) if text.trim.nonEmpty =>
            try {
              val (model, nMerges, toks) =
                graft.queries.TextOps.tokenizeText(s, dir, text)
              val tokJson = toks.map { t =>
                s"""{"word":"${esc(t.word)}","subwords":[${
                  t.subwords.map(x => s""""${esc(x)}"""").mkString(",")}],""" +
                  s""""ids":[${t.ids.mkString(",")}]}"""
              }.mkString("[", ",", "]")
              reply(ex, 200,
                s"""{"model":"${esc(model)}","merges":$nMerges,""" +
                  s""""tokens":$tokJson}""")
            } catch {
              case e: Exception => reply(ex, 500,
                s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
            }
          case (Some(_), Some(_)) =>
            reply(ex, 422, """{"detail":"text: non-empty string required"}""")
          case _ =>
            reply(ex, 422, """{"detail":"text and dir required"}""")
        }
    })

  // parse failures are explicit 422s, never a silent truncation.
  server.createContext("/knn", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "GET" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        val params = queryParams(ex)
        RestApi.parseLimit(params.get("limit"), default = 5) match {
          case None =>
            reply(ex, 422, """{"detail":"limit: positive integer required"}""")
          case Some(topK) =>
            // split with -1 limit so an empty segment ("1.0,,2.0" or a
            // trailing comma) surfaces as a parse failure → 422, never
            // a silently narrower vector
            val vec = params.get("vec").map(_.split(",", -1).toSeq
              .map(_.trim).map(_.toFloatOption))
            (vec, params.get("dir")) match {
              case (Some(vs), Some(dir))
                  if vs.nonEmpty && vs.forall(_.isDefined) =>
                try {
                  val rows = graft.queries.Similarity
                    .searchKnn(s, dir, vs.flatten.toArray, topK)
                    .toJSON.collect()
                  reply(ex, 200, rows.mkString("[", ",", "]"))
                } catch {
                  // the library's dimension guard — a client error
                  case e: IllegalArgumentException => reply(ex, 422,
                    s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
                  case e: Exception => reply(ex, 500,
                    s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
                }
              case (Some(_), Some(_)) =>
                reply(ex, 422,
                  """{"detail":"vec: comma-separated floats required"}""")
              case _ =>
                reply(ex, 422, """{"detail":"vec and dir required"}""")
            }
        }
    })

  // The packing ladder's monitoring face over HTTP (r20): q162's
  // per-source audit — sequence counts, stream tokens, corpus-wide
  // full-sequence invariant, exact-ppm fill rate, split-doc counts —
  // served the way trainer dashboards poll it. Same contract
  // discipline as /knn: the response IS the library seam's rows.
  server.createContext("/pack/stats", (ex: HttpExchange) =>
    (spark, ex.getRequestMethod) match {
      case (None, _) => reply(ex, 503, """{"detail":"no spark session"}""")
      case (_, m) if m != "GET" =>
        reply(ex, 405, """{"detail":"method not allowed"}""")
      case (Some(s), _) =>
        val params = queryParams(ex)
        // NOT parseLimit: its 1000 clamp is a row-limit guard, and a
        // trainer's L is routinely 2048/4096/8192 — silently clamping
        // would serve an audit of shards that don't exist (review
        // finding, r20). Out-of-range is a loud 422 instead.
        val seqLen = params.get("seq_len") match {
          case None => Some(256)
          case Some(v) => v.toIntOption.filter(l => l >= 1 && l <= (1 << 20))
        }
        seqLen match {
          case None => reply(ex, 422,
            """{"detail":"seq_len: positive integer <= 1048576 required"}""")
          case Some(l) =>
            params.get("dir") match {
              case Some(dir) =>
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
                val buf = scala.collection.mutable
                  .Buffer.empty[org.apache.spark.sql.Dataset[_]]
                graft.queries.TextOps.checkpointTracker.set(buf)
                try {
                  val rows = graft.queries.TextOps
                    .q162PackStats(s, dir, seqLen = l).toJSON.collect()
                  reply(ex, 200, rows.mkString("[", ",", "]"))
                } catch {
                  case e: Exception => reply(ex, 500,
                    s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
                } finally {
                  graft.queries.TextOps.checkpointTracker.remove()
                  try {
                    val mine = buf.flatMap(org.apache.spark.sql
                      .GraftSqlBridge.checkpointedRddIds).toSet
                    s.sparkContext.getPersistentRDDs
                      .filter { case (id, _) => mine.contains(id) }
                      .values.foreach(_.unpersist(blocking = false))
                  } catch { case scala.util.control.NonFatal(_) => () }
                }
              case None =>
                reply(ex, 422, """{"detail":"dir required"}""")
            }
        }
    })

  // R5: OpenAPI document at /docs, mirroring the reference's
  // auto-served Swagger surface (readme.md:176-179, api/main.py:7).
  // Hand-written JSON — the route inventory IS the contract.
  server.createContext("/docs", (ex: HttpExchange) =>
    reply(ex, 200, RestApi.openApiJson))

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
    * maintained by hand next to the handlers it describes. */
  val openApiJson: String =
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
      | "responses":{"200":{"description":"sync run done (counts)"},"202":{"description":"async run started"},"422":{"description":"csvPath required"},"500":{"description":"run failed"},"503":{"description":"no spark session"}}}},
      |"/etl/status":{"get":{"summary":"Last/current job state",
      | "responses":{"200":{"description":"idle|running|done|failed"}}}},
      |"/query/daily_totals":{"get":{"summary":"daily_company_totals rows in a date range (capped at 1000 rows; X-Graft-Truncated header signals an incomplete page); base= computes the view against a versioned lake instead of the session view, with version= or asOf= (epoch ms | ISO-8601) time-travelling to a historical commit",
      | "parameters":[{"name":"from","in":"query","required":true,"schema":{"type":"string","format":"date"}},{"name":"to","in":"query","required":true,"schema":{"type":"string","format":"date"}},{"name":"limit","in":"query","schema":{"type":"integer","default":1000,"maximum":1000}}],
      | "responses":{"200":{"description":"rows"},"409":{"description":"run /etl/run first"},"422":{"description":"bad dates"},"503":{"description":"no spark session"}}}},
      |"/index/maintain":{"post":{"summary":"Bring every derived-index chain (windows, signatures, clusters, CMS, KMV, tf-grain, doc-lengths, corpus-stats, frozen-LM scores, IVF) to its lake's current version; resumes each chain from its newest existing artifact (head counts cached: a repeat no-op call runs zero Spark jobs)",
      |  "requestBody":{"content":{"application/json":{"schema":{"properties":{"dir":{"type":"string"},"async":{"type":"boolean","default":false}},"required":["dir"]}}}},
      |  "responses":{"200":{"description":"chains current; per-artifact row counts + versions built"},"202":{"description":"async maintenance started"},"422":{"description":"dir missing"},"500":{"description":"maintenance failed"},"503":{"description":"no spark session"}}}},
      |"/index/status":{"get":{"summary":"Last/current index-maintenance state",
      | "responses":{"200":{"description":"idle|running|done|failed"}}}},
      |"/query/run":{"get":{"summary":"Run a registered engine query by name",
      | "parameters":[{"name":"name","in":"query","required":true,"schema":{"type":"string"}},{"name":"dir","in":"query","required":true,"schema":{"type":"string"}},{"name":"limit","in":"query","schema":{"type":"integer","default":20,"maximum":1000}}],
      | "responses":{"200":{"description":"rows"},"404":{"description":"unknown query"},"422":{"description":"name and dir required"},"503":{"description":"no spark session"}}}},
      |"/quality":{"get":{"summary":"Quality verdict from the maintained frozen-LM chain at the corpus lake's current version: a document's perplexity-tercile bucket (doc_id given) or the corpus bucket distribution (omitted)",
      |  "parameters":[{"name":"dir","in":"query","required":true},{"name":"doc_id","in":"query","required":false}],
      |  "responses":{"200":{"description":"bucket row(s); empty array = unknown doc_id"},"422":{"description":"missing dir / non-integer doc_id"},"503":{"description":"no spark session"}}}},
      |"/search":{"get":{"summary":"Ad-hoc BM25 ranked search over the maintained retrieval grain at the corpus lake's current version",
      | "parameters":[{"name":"q","in":"query","required":true,"schema":{"type":"string"}},{"name":"dir","in":"query","required":true,"schema":{"type":"string"}},{"name":"limit","in":"query","schema":{"type":"integer","default":10,"maximum":1000}}],
      | "responses":{"200":{"description":"ranked rows (query_id, query, rank, doc_id, score)"},"422":{"description":"q and dir required"},"500":{"description":"search failed"},"503":{"description":"no spark session"}}}},
      |"/knn":{"get":{"summary":"Ad-hoc vector search over the maintained IVF index at the embeddings lake's current version",
      | "parameters":[{"name":"vec","in":"query","required":true,"schema":{"type":"string","description":"comma-separated floats"}},{"name":"dir","in":"query","required":true,"schema":{"type":"string"}},{"name":"limit","in":"query","schema":{"type":"integer","default":5,"maximum":1000}}],
      | "responses":{"200":{"description":"ranked rows (query_id, neighbor_id, rank, cosine)"},"422":{"description":"vec and dir required / malformed vec"},"500":{"description":"search failed"},"503":{"description":"no spark session"}}}},
      |"/pack/stats":{"get":{"summary":"Packing-efficiency audit of the corpus dir's fixed-length training shards (q162's grain): per source, sequence count, stream tokens, full-sequence count, exact-ppm fill rate, and split-document count — the numbers a trainer dashboard polls",
      | "parameters":[{"name":"dir","in":"query","required":true,"schema":{"type":"string"}},{"name":"seq_len","in":"query","schema":{"type":"integer","default":256,"maximum":1048576}}],
      | "responses":{"200":{"description":"per-source audit rows"},"422":{"description":"dir required / bad seq_len"},"500":{"description":"audit failed"},"503":{"description":"no spark session"}}}},
      |"/tokenize":{"post":{"summary":"Segment raw text under the corpus dir's standing BPE tokenizer (subwords + model-stable ids per word) — the tokenizer's serving face; the model is content-addressed, so a corpus replacement at the same dir serves a NEW model (response carries its address)",
      | "requestBody":{"content":{"application/json":{"schema":{"type":"object","required":["text","dir"],"properties":{"text":{"type":"string"},"dir":{"type":"string"}}}}}},
      | "responses":{"200":{"description":"{model, merges, tokens:[{word, subwords, ids}]}"},"422":{"description":"text and dir required"},"500":{"description":"tokenization failed"},"503":{"description":"no spark session"}}}},
      |"/lake/status":{"get":{"summary":"Versioned-lake ops introspection: current/surviving versions, retention and auto-compaction knobs, per-table merge-on-read entry-chain depth (data dirs / tombstones) — pure metadata, no Spark job",
      | "parameters":[{"name":"base","in":"query","required":true,"schema":{"type":"string"}}],
      | "responses":{"200":{"description":"lake status JSON"},"404":{"description":"no committed version"},"422":{"description":"base required"},"503":{"description":"no spark session"}}}},
      |"/lake/compact":{"post":{"summary":"On-demand compaction of a lake table: tail-only by default, mor=true folds the tail across tombstones, partition_by=col1,col2 runs the partition-preserving full rewrite (col=value dirs survive, merge-on-read chain materializes, hot values stay salted — mutually exclusive with mor); idempotent — nothing to shrink returns the current version with compacted=false; async=true returns 202 and exposes progress at /lake/compact/status",
      | "parameters":[{"name":"base","in":"query","required":true,"schema":{"type":"string"}},{"name":"table","in":"query","required":true,"schema":{"type":"string"}},{"name":"mor","in":"query","schema":{"type":"boolean","default":false}},{"name":"partition_by","in":"query","schema":{"type":"string"},"description":"comma-separated partition columns — routes to Versioned.compactPartitioned"},{"name":"async","in":"query","schema":{"type":"boolean","default":false}}],
      | "responses":{"200":{"description":"{state, table, from, to, compacted}"},"202":{"description":"async compaction started"},"422":{"description":"base and table required / partition_by+mor conflict"},"500":{"description":"compaction failed"},"503":{"description":"no spark session"}}}},
      |"/lake/compact/status":{"get":{"summary":"Progress of a /lake/compact run (idle | running | done | failed), keyed by base+table (concurrent jobs on different tables don't shadow each other); with no params the latest-started job answers — the /index/status twin",
      | "responses":{"200":{"description":"job state JSON"}}}},
      |"/lake/history":{"get":{"summary":"Manifest-level history of the surviving versions: per version, its commit instant (committed_at, epoch ms — the clock asOf= resolves against) and each table's entry counts plus whether its ref changed vs the previous surviving version (carried refs read as changed=false) — pure metadata, no Spark job",
      | "parameters":[{"name":"base","in":"query","required":true,"schema":{"type":"string"}}],
      | "responses":{"200":{"description":"JSON array, one entry per surviving version"},"404":{"description":"no committed version"},"422":{"description":"base required"},"503":{"description":"no spark session"}}}},
      |"/lake/remove":{"post":{"summary":"Publish a key-tombstone takedown (Versioned.removePublish) — the right-to-forget request; bytes written are proportional to the keys, standing files untouched, and the auto-compaction policy later folds removed rows out of storage; values comma-separated, typed like /lake/point",
      | "parameters":[{"name":"base","in":"query","required":true,"schema":{"type":"string"}},{"name":"table","in":"query","required":true,"schema":{"type":"string"}},{"name":"col","in":"query","required":true,"schema":{"type":"string"}},{"name":"values","in":"query","required":true,"schema":{"type":"string"}},{"name":"type","in":"query","schema":{"type":"string","default":"string","enum":["string","long","decimal"]}}],
      | "responses":{"200":{"description":"{table, from, to, tombstoned_keys}"},"422":{"description":"missing/mistyped parameters"},"500":{"description":"publish failed"},"503":{"description":"no spark session"}}}},
      |"/lake/point":{"get":{"summary":"Point probe over a lake table via the per-file Bloom sidecars (Versioned.readPoint) — the takedown-audit query; `values` (comma-separated) audits a whole batch in one read (readPointIn); type picks the probe's runtime type (string|long|decimal) and the probe is coerced to the column's stored type before hashing (a DATE column takes its ISO spelling via type=string and still prunes); untracked columns or probes the column type cannot represent degrade to a full scan; version= or asOf= (epoch ms | ISO-8601) audits a historical lake version",
      | "parameters":[{"name":"base","in":"query","required":true,"schema":{"type":"string"}},{"name":"table","in":"query","required":true,"schema":{"type":"string"}},{"name":"col","in":"query","required":true,"schema":{"type":"string"}},{"name":"value","in":"query","schema":{"type":"string"}},{"name":"values","in":"query","schema":{"type":"string"}},{"name":"type","in":"query","schema":{"type":"string","default":"string","enum":["string","long","decimal"]}},{"name":"limit","in":"query","schema":{"type":"integer","default":100}}],
      | "responses":{"200":{"description":"matching rows as a JSON array"},"422":{"description":"missing/mistyped parameters"},"500":{"description":"probe failed"},"503":{"description":"no spark session"}}}},
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
