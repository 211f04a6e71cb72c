package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.service.{First100Set, First100Relational, RestApi}

/** First100 service semantics (FIXTURES.md §5) + REST route behavior
  * (reference readme.md:180-196), driven over real HTTP. */
class ServiceSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("exhaustive: ∀n∈[1,100], extract(n) ⇒ missingBySum == n") {
    (1 to 100).foreach { n =>
      val s = new First100Set
      assert(s.extract(n).isRight)
      assert(s.missingBySum == Right(n))
      assert(s.missingByIdentity == Right(n))
    }
  }

  test("double extraction and out-of-range rejected") {
    val s = new First100Set
    assert(s.extract(0).isLeft)
    assert(s.extract(101).isLeft)
    assert(s.extract(57).isRight)
    assert(s.extract(57).isLeft)
  }

  test("missing with 0 or ≥2 extracted is an error") {
    val s = new First100Set
    assert(s.missingBySum.isLeft)
    s.extract(3); s.extract(4)
    assert(s.missingBySum.isLeft)
  }

  private def http(method: String, url: String, body: Option[String] = None)
      : (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(UTF_8))
    }
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = new String(stream.readAllBytes(), UTF_8)
    (code, text)
  }

  /** Like http(), but also returns a named response header. */
  private def httpHeader(method: String, url: String, header: String)
      : (Int, String, Option[String]) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = new String(stream.readAllBytes(), UTF_8)
    (code, text, Option(conn.getHeaderField(header)))
  }

  test("REST routes mirror the reference API contract") {
    val api = new RestApi(None, 0).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      assert(http("GET", s"$base/health")._1 == 200)
      // R2: missing before any extraction → 400
      assert(http("GET", s"$base/missing")._1 == 400)
      // R1: range validation → 422 (pydantic layer), domain error → 400
      assert(http("POST", s"$base/extract", Some("""{"number":0}"""))._1 == 422)
      assert(http("POST", s"$base/extract", Some("""{"number":101}"""))._1 == 422)
      assert(http("POST", s"$base/extract", Some("""{"nope":1}"""))._1 == 422)
      val (c1, b1) = http("POST", s"$base/extract", Some("""{"number":57}"""))
      assert(c1 == 200 && b1.contains("57"))
      assert(http("POST", s"$base/extract", Some("""{"number":57}"""))._1 == 400)
      val (c2, b2) = http("GET", s"$base/missing")
      assert(c2 == 200 && b2 == """{"missing":57}""")
      // R3: reset → missing 400 again
      assert(http("POST", s"$base/reset")._1 == 200)
      assert(http("GET", s"$base/missing")._1 == 400)
      // method guards
      assert(http("GET", s"$base/extract")._1 == 405)
      // job route without a spark session → 503; status starts idle
      assert(http("POST", s"$base/etl/run", Some("""{"csvPath":"x"}"""))._1 == 503)
      assert(http("GET", s"$base/etl/status")._2 == """{"state":"idle"}""")
    } finally api.stop()
  }

  test("/extract decodes its body as JSON: a fraction or a non-JSON body is a 422") {
    val api = new RestApi(None, 0).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      // pydantic's int rejects a fraction; a regex read took the 5
      for (bad <- Seq("""{"number": 5.7}""", """"number": 5""",
          """{"number": 5""", """{"number": 5} trailing""",
          """{"number": "5"}""", """[5]""")) {
        val (c, b) = http("POST", s"$base/extract", Some(bad))
        assert(c == 422, s"$bad → $c $b")
        assert(mapper.readTree(b).get("detail").isTextual, b)
      }
      // nothing was extracted by any of them
      assert(http("GET", s"$base/missing")._1 == 400)
      // a nested field of the same name is not the top-level field
      assert(http("POST", s"$base/extract",
        Some("""{"nested": {"number": 9}, "number": 5}""")) ==
        ((200, """{"extracted":5}""")))
      assert(http("GET", s"$base/missing") == ((200, """{"missing":5}""")))
    } finally api.stop()
  }

  test("R7 job orchestration: run the ETL and query the view over HTTP") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      // bad path surfaces as failed state, not a hung route
      assert(http("POST", s"$base/etl/run",
        Some("""{"csvPath":"/nope/missing.csv"}"""))._1 == 500)
      assert(http("GET", s"$base/etl/status")._2.contains("failed"))
      // real run (sync): reference counts come back
      val (code, bodyTxt) = http("POST", s"$base/etl/run",
        Some(s"""{"csvPath":"${graft.etl.ChargesEtl.findReferenceCsv()}"}"""))
      assert(code == 200, bodyTxt)
      assert(bodyTxt.contains("\"clean\":9986") && bodyTxt.contains("\"critical\":14"))
      assert(http("GET", s"$base/etl/status")._2.contains("\"state\":\"done\""))
      // view query route with pushdown-able date range
      val (qc, rows) = http("GET",
        s"$base/query/daily_totals?from=2019-03-16&to=2019-03-16")
      assert(qc == 200 && rows.contains("transaction_date"), rows)
      // malformed dates rejected (no SQL injection surface)
      assert(http("GET",
        s"$base/query/daily_totals?from=x&to=y")._1 == 422)
      // bounded driver collect: a wide range is capped, the cap is
      // pushed down as a LIMIT (never a full-result collect), and the
      // truncation is flagged — the driver can't be OOM'd by one curl
      val (tc, tb, tflag) = httpHeader("GET",
        s"$base/query/daily_totals?from=1990-01-01&to=2030-12-31&limit=5",
        "X-Graft-Truncated")
      assert(tc == 200 && tflag.contains("true"), s"$tc $tflag")
      assert("\"company_name\"".r.findAllIn(tb).size == 5, tb.take(200))
      // limit values above the hard cap clamp to 1000, not beyond
      val (wc, wb, _) = httpHeader("GET",
        s"$base/query/daily_totals?from=1990-01-01&to=2030-12-31&limit=999999",
        "X-Graft-Truncated")
      assert(wc == 200 &&
        "\"company_name\"".r.findAllIn(wb).size <= 1000)
      // non-numeric / zero / negative limits are rejected explicitly,
      // same 422 style as the date validation — never silently clamped
      for (bad <- Seq("abc", "0", "-5"))
        assert(http("GET",
          s"$base/query/daily_totals?from=2019-03-16&to=2019-03-16&limit=$bad")
          ._1 == 422, s"limit=$bad must 422")
      // pin the clamp boundary: 1000 is the last value that passes
      // through unchanged, 1001 is the first that clamps — a refactor
      // must not flip the cap into a rejection (or vice versa)
      assert(graft.service.RestApi.parseLimit(Some("1000"), 50) == Some(1000))
      assert(graft.service.RestApi.parseLimit(Some("1001"), 50) == Some(1000))
      assert(http("GET",
        s"$base/query/run?name=q1_agg&dir=${SparkSpec.sfDir}&limit=0")
        ._1 == 422)
      // a narrow range below the cap is complete and says so
      val (nc, _, nflag) = httpHeader("GET",
        s"$base/query/daily_totals?from=2019-03-16&to=2019-03-16",
        "X-Graft-Truncated")
      assert(nc == 200 && nflag.contains("false"))
      // generic query runner: registered name works, junk 404s
      val (gc, gb) = http("GET",
        s"$base/query/run?name=q1_agg&dir=${SparkSpec.sfDir}&limit=3")
      assert(gc == 200 && gb.contains("sum_qty"), gb)
      assert(http("GET",
        s"$base/query/run?name=DROP_TABLES&dir=x")._1 == 404)
      assert(http("GET", s"$base/query/run")._1 == 422)
    } finally api.stop()
  }

  test("a sync body whose csvPath contains 'true' still runs sync") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      // old substring detection ("async" absent but "true" present was
      // enough with a "true"-valued field; worse, `"async":false` plus
      // any "true" in the body flipped async) → must be a sync 500,
      // never a 202
      val (code, _) = http("POST", s"$base/etl/run",
        Some("""{"csvPath":"/nope/true_data.csv","async":false}"""))
      assert(code == 500, "sync run with 'true' in csvPath must stay sync")
      // explicit async:true on a bad path → 202 then failed state
      val (ac, _) = http("POST", s"$base/etl/run",
        Some("""{"csvPath":"/nope/missing.csv","async":true}"""))
      assert(ac == 202)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (http("GET", s"$base/etl/status")._2.contains("running")
          && System.nanoTime() < deadline) Thread.sleep(50)
      assert(http("GET", s"$base/etl/status")._2.contains("failed"))
    } finally api.stop()
  }

  test("/etl/run with \"async\" as a string stays synchronous") {
    val api = new RestApi(Some(SparkSpec.spark), 0).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      val (code, body) = http("POST", s"$base/etl/run",
        Some("""{"csvPath":"/nope/missing.csv","async":"true"}"""))
      assert(code == 500 && mapper.readTree(body).get("state").asText == "failed",
        s"$code $body")
    } finally api.stop()
  }

  test("/etl/run on a generated CSV: sync counts equal the library's, async polls to done") {
    val spark = SparkSpec.spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl-svc")
    val csv = tmp.resolve("charges.csv")
    // clean rows plus one row per critical reason (id, company_id,
    // amount, created_at, status) in ChargesEtl.rawSchema's columns
    val rows = Seq(
      "c01,Acme,co1,10.50,paid,2019-03-16,2019-03-17",
      "c02,,co1,4.25,paid,2019-03-16,",
      "c03,Globex,co2,7.00,voided,2019-03-17,2019-03-18",
      "c04,Globex,co2,1.10,pending,2019-03-17,",
      ",Acme,co1,3.00,paid,2019-03-16,",
      "c06,Acme,,3.00,paid,2019-03-16,",
      "c07,Acme,co1,abc,paid,2019-03-16,",
      "c08,Acme,co1,2.00,paid,2019/03/16,",
      "c09,Globex,co2,2.00,,2019-03-17,")
    java.nio.file.Files.write(csv,
      (graft.etl.ChargesEtl.rawSchema.fieldNames.mkString(",") +: rows)
        .mkString("\n").getBytes(UTF_8))
    val api = new RestApi(Some(spark), 0).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      val (code, body) = http("POST", s"$base/etl/run",
        Some(s"""{"csvPath":"$csv"}"""))
      assert(code == 200, body)
      val res = graft.etl.ChargesEtl.run(spark, csv.toString)
      val expect = Seq("original" -> res.original.count(),
        "clean" -> res.clean.count(), "critical" -> res.critical.count())
      assert(expect.map(_._2) == Seq(9L, 4L, 5L), expect)
      val got = mapper.readTree(body)
      assert(got.get("state").asText == "done", body)
      expect.foreach { case (k, n) => assert(got.get(k).asLong == n, s"$k: $body") }
      assert(http("GET", s"$base/etl/status") == ((200, body)))
      val (qc, qb) = http("GET",
        s"$base/query/daily_totals?from=2019-03-16&to=2019-03-17")
      // c02's blank name fills from co1's first name; amounts stay
      // plain decimals with their scale
      assert(qc == 200 && qb == "[" +
        """{"company_name":"Acme","transaction_date":"2019-03-16","total_amount":14.75},""" +
        """{"company_name":"Globex","transaction_date":"2019-03-17","total_amount":8.10}]""",
        qb)

      val (ac, ab) = http("POST", s"$base/etl/run",
        Some(s"""{"csvPath":"$csv","async":true}"""))
      assert(ac == 202 && ab == """{"state":"running"}""", s"$ac $ab")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var st = ab
      while (st.contains("\"running\"") && System.nanoTime() < deadline) {
        Thread.sleep(50)
        st = http("GET", s"$base/etl/status")._2
      }
      assert(st == body, "the async run must finish with the sync run's counts")
      res.release()
    } finally api.stop()
  }

  test("/health answers while a sync /etl/run is executing") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      @volatile var runDoneAt = 0L
      val runner = new Thread(() => {
        http("POST", s"$base/etl/run",
          Some(s"""{"csvPath":"${graft.etl.ChargesEtl.findReferenceCsv()}"}"""))
        runDoneAt = System.nanoTime()
      })
      runner.start()
      Thread.sleep(100) // let the sync run occupy its pool thread
      val (hc, _) = http("GET", s"$base/health")
      val healthAt = System.nanoTime()
      assert(hc == 200)
      runner.join(60000)
      assert(runDoneAt != 0L, "sync run never completed")
      assert(healthAt < runDoneAt,
        "/health was serialized behind the sync ETL run")
    } finally api.stop()
  }

  test("async run results are visible to other threads; URL decoding works") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      val (ac, ab) = http("POST", s"$base/etl/run",
        Some(s"""{"csvPath":"${graft.etl.ChargesEtl.findReferenceCsv()}","async":true}"""))
      assert(ac == 202, ab)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (http("GET", s"$base/etl/status")._2.contains("running")
          && System.nanoTime() < deadline) Thread.sleep(100)
      assert(http("GET", s"$base/etl/status")._2.contains("\"state\":\"done\""))
      // lastEtl was written on the job thread; this GET is served on an
      // HTTP pool thread — @volatile is what makes the Some visible
      val (qc, rows) = http("GET",
        s"$base/query/daily_totals?from=2019-03-16&to=2019-03-16")
      assert(qc == 200 && rows.contains("transaction_date"), rows)
      // %2D is '-': an encoded date must decode before validation
      val (ec, _) = http("GET",
        s"$base/query/daily_totals?from=2019%2D03%2D16&to=2019%2D03%2D16")
      assert(ec == 200)
      // encoded dir path on the generic runner
      val encDir = java.net.URLEncoder.encode(SparkSpec.sfDir, UTF_8)
      val (gc, gb) = http("GET",
        s"$base/query/run?name=q1_agg&dir=$encDir&limit=3")
      assert(gc == 200 && gb.contains("sum_qty"), gb)
    } finally api.stop()
  }

  test("concurrent /etl/run keeps exactly one result cached (no leak)") {
    val spark = SparkSpec.spark
    val sc = spark.sparkContext
    val api = new RestApi(Some(spark), 0).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      // All assertions below are on SET-DIFFERENCES of the persistent-
      // RDD keyset restricted to entries THIS test creates, never the
      // global size: the session is shared by every suite, so the
      // global count includes caches other suites leaked, and Spark's
      // ContextCleaner asynchronously unpersists any of those whose
      // DataFrame became unreachable whenever a GC runs — both move
      // the global count with zero involvement from the code under
      // test (the r15 flake). This test's own entries stay reachable
      // through the RestApi's held Result, so the cleaner never
      // touches them. The csv is COPIED to a per-run temp path so the
      // canonicalized plan (and thus the cache entry) is this test's
      // own — earlier tests run the reference csv and would otherwise
      // share the entry, making "new entries" empty.
      val tmp = java.nio.file.Files.createTempDirectory("graft-svc")
      val csvA = tmp.resolve("a.csv")
      java.nio.file.Files.copy(java.nio.file.Paths.get(
        graft.etl.ChargesEtl.findReferenceCsv()), csvA)
      val req = Some(s"""{"csvPath":"$csvA"}""")
      val before = sc.getPersistentRDDs.keySet.toSet
      // baseline: one sync run → its cached intermediate(s)
      assert(http("POST", s"$base/etl/run", req)._1 == 200)
      val mine = sc.getPersistentRDDs.keySet.toSet -- before
      assert(mine.nonEmpty, "the ETL run cached nothing")
      // three racing sync runs: with a plain read-then-write swap two
      // threads could read the same previous Result, double-release
      // it, and evict the survivor's cache — getAndSet + the
      // plan-identity guard keep the single-run baseline's entries
      val threads = (1 to 3).map(_ => new Thread(() => {
        http("POST", s"$base/etl/run", req); ()
      }))
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      // same csv ⇒ same canonicalized plan ⇒ ONE shared cache entry:
      // the swap must NOT release it (that would evict the survivor's
      // cache — the pre-fix symptom here was eviction, not a leak) …
      val afterRace = sc.getPersistentRDDs.keySet.toSet
      assert(mine.subsetOf(afterRace),
        s"racing runs evicted the survivor's cache: lost ${mine -- afterRace}")
      // … and no loser may orphan an extra entry of its own
      assert((afterRace -- before -- mine).isEmpty,
        s"replaced ETL results leaked cached partitions: ${afterRace -- before -- mine}")
      // serialized runs can't interleave status: final state is a
      // coherent done-summary, not a torn mix of two runs
      val status = http("GET", s"$base/etl/status")._2
      assert(status.contains("\"state\":\"done\"") &&
        status.contains("\"clean\":9986"), status)
      // a DIFFERENT csv ⇒ distinct plan ⇒ the replaced run's entry
      // must actually be released: the old entries are gone and only
      // the new run's entries remain cached
      val copy = tmp.resolve("b.csv")
      java.nio.file.Files.copy(java.nio.file.Paths.get(
        graft.etl.ChargesEtl.findReferenceCsv()), copy)
      assert(http("POST", s"$base/etl/run",
        Some(s"""{"csvPath":"$copy"}"""))._1 == 200)
      val afterSwap = sc.getPersistentRDDs.keySet.toSet
      assert(mine.intersect(afterSwap).isEmpty,
        s"a replaced ETL result leaked its cached partitions: ${mine.intersect(afterSwap)}")
      assert((afterSwap -- before).nonEmpty, "the new-plan run cached nothing")
      // suite hygiene: this test's temp-csv plans are reachable only
      // through the api being stopped below — drop their entries so
      // this suite doesn't leak into the shared session
      (afterSwap -- before).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    } finally api.stop()
  }

  test("/docs serves an OpenAPI document listing every route (R5)") {
    // both sides of the 503 guard: without a session every Spark-backed
    // route answers 503 first; with one, its own 405/422 answers
    for (session <- Seq(None, Some(SparkSpec.spark))) {
      val api = new RestApi(session, 0).start()
      try {
        val base = s"http://localhost:${api.boundPort}"
        val (code, body) = http("GET", s"$base/docs")
        assert(code == 200)
        val doc = mapper.readTree(body)
        assert(doc.has("openapi"))
        val paths = doc.get("paths")
        // the documented paths ARE the registered routes, in both
        // directions: a route without docs or docs without a route fails
        assert(api.routes.map(_.path).toSet == paths.fieldNames().asScala.toSet)
        api.routes.foreach { rt =>
          val ops = paths.get(rt.path)
          rt.method.foreach(m =>
            assert(ops.has(m.toLowerCase), s"${rt.path}: $m undocumented"))
          assert(ops.elements().asScala.forall(_.get("responses").has("503"))
            == rt.needsSpark, s"${rt.path}: 503 documented iff it needs Spark")
          // every body parses as JSON; every error body has a string detail
          def checked(method: String): Int = {
            val (c, b) = http(method, base + rt.path,
              if (method == "POST") Some("{}") else None)
            val tree = mapper.readTree(b)
            if (c / 100 != 2)
              assert(Option(tree.get("detail")).exists(_.isTextual),
                s"$method ${rt.path} → $c: $b")
            c
          }
          rt.method.foreach { m =>
            val wrong = if (m == "GET") "POST" else "GET"
            assert(checked(wrong) ==
              (if (rt.needsSpark && session.isEmpty) 503 else 405), rt.path)
          }
          // no query params and an empty object body: a missing-parameter
          // request for every route that takes parameters
          checked(rt.method.getOrElse("GET"))
        }
      } finally api.stop()
    }
  }

  test("/knn serves index-backed ANN over HTTP; contract = the library seam") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    val dir = "/root/testdata/sf0.001"
    try {
      val base = s"http://localhost:${api.boundPort}"
      assert(http("GET", s"$base/knn?dir=$dir")._1 == 422)
      assert(http("GET", s"$base/knn?dir=$dir&vec=1.0,abc")._1 == 422)
      assert(http("POST", s"$base/knn?dir=$dir&vec=1.0", Some("{}"))._1 == 405)
      val v0 = Tables(spark, dir, "embeddings")
        .filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
        .select("embedding").collect().head.getSeq[Float](0)
      val vecParam = v0.mkString(",")
      val (code, body) = http("GET", s"$base/knn?dir=$dir&vec=$vecParam&limit=3")
      assert(code == 200, body)
      val expect = graft.queries.Similarity
        .searchKnn(spark, dir, v0.toArray, 3)
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == expect, "HTTP rows diverged from the library seam")
      assert(body.contains("\"rank\":1"), s"no ranked rows: $body")
      // a wrong-width vector is the library's IllegalArgumentException
      val (c2, b2) = http("GET", s"$base/knn?dir=$dir&vec=${v0.drop(1).mkString(",")}")
      assert(c2 == 422 && b2.contains("dimensional"), b2)
    } finally api.stop()
  }

  test("/pack/stats serves the packing audit over HTTP; contract = the library seam") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    val dir = "/root/testdata/sf0.001"
    try {
      val base = s"http://localhost:${api.boundPort}"
      assert(http("GET", s"$base/pack/stats")._1 == 422)
      assert(http("GET", s"$base/pack/stats?dir=$dir&seq_len=0")._1 == 422)
      assert(http("GET", s"$base/pack/stats?dir=$dir&seq_len=abc")._1 == 422)
      assert(http("GET", s"$base/pack/stats?dir=$dir&seq_len=1048577")._1
        == 422, "out-of-range seq_len must be loud, never clamped")
      assert(http("POST", s"$base/pack/stats?dir=$dir", Some("{}"))._1 == 405)
      val (code, body) = http("GET", s"$base/pack/stats?dir=$dir&seq_len=64")
      assert(code == 200, body)
      val expect = graft.queries.TextOps.q162PackStats(spark, dir, seqLen = 64)
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == expect, "HTTP rows diverged from the library seam")
      assert(body.contains("\"fill_ppm\""), s"no audit rows: $body")
      // a trainer-realistic L above parseLimit's 1000 row-cap must be
      // honored, not silently clamped (review, r20) — at L=2048 every
      // sf0.001 source packs into ONE under-filled sequence
      val (c2, b2) = http("GET", s"$base/pack/stats?dir=$dir&seq_len=2048")
      assert(c2 == 200, b2)
      val expect2048 = graft.queries.TextOps
        .q162PackStats(spark, dir, seqLen = 2048)
        .toJSON.collect().mkString("[", ",", "]")
      assert(b2 == expect2048, "seq_len=2048 diverged — clamp regression")
      // the handler drops what each call checkpointed: polling must
      // not grow the block manager (review, r20)
      val before = spark.sparkContext.getPersistentRDDs.size
      (1 to 3).foreach(_ =>
        assert(http("GET", s"$base/pack/stats?dir=$dir&seq_len=64")._1 == 200))
      assert(spark.sparkContext.getPersistentRDDs.size <= before,
        "served audits leaked persisted RDDs")
    } finally api.stop()
  }

  test("/search serves grain-backed BM25 over HTTP; contract = the library seam") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    val dir = "/root/testdata/sf0.001"
    try {
      val base = s"http://localhost:${api.boundPort}"
      // contract errors first: missing q, blank q, wrong method, bad limit
      assert(http("GET", s"$base/search?dir=$dir")._1 == 422)
      assert(http("GET", s"$base/search?dir=$dir&q=%20%20")._1 == 422)
      assert(http("POST", s"$base/search?dir=$dir&q=x",
        Some("{}"))._1 == 405)
      assert(http("GET", s"$base/search?dir=$dir&q=x&limit=0")._1 == 422)
      // a real query: the corpus's heaviest term (known to match docs)
      import graft.queries.{Dedup, TextOps}
      val lake = Dedup.versionedCorpus(spark, dir)
      TextOps.tfGrainAt(spark, lake, 1L)
      val top = TextOps.tfGrainAt(spark, lake, 2L)
        .groupBy("term").agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("tf")).as("n"))
        .orderBy(org.apache.spark.sql.functions.col("n").desc,
          org.apache.spark.sql.functions.col("term"))
        .limit(1).collect().head.getString(0)
      val enc = java.net.URLEncoder.encode(top, "UTF-8")
      val (code, body) = http("GET", s"$base/search?dir=$dir&q=$enc&limit=5")
      assert(code == 200, body)
      // the endpoint is plumbing: rows must equal the library call's
      val expect = TextOps.searchBm25(spark, dir, top, 5)
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == expect, "HTTP rows diverged from the library seam")
      assert(body.contains("\"rank\":1"), s"no ranked rows: $body")
    } finally api.stop()
  }

  test("a multi-line error message still makes a valid JSON error body") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      // a dir that does not exist, with a newline and a tab in its name:
      // the failure message quotes it verbatim
      val (code, body) =
        http("GET", s"$base/search?dir=/no/such%0Adir%09here&q=x")
      assert(code == 500, body)
      val detail = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(body).get("detail").asText()
      assert(detail.contains("such\ndir\there"), detail)
    } finally api.stop()
  }

  test("/quality serves chain-backed LM buckets over HTTP; contract = the library seam") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    val dir = "/root/testdata/sf0.001"
    try {
      val base = s"http://localhost:${api.boundPort}"
      // contract errors: missing dir, non-integer doc_id, wrong method
      assert(http("GET", s"$base/quality")._1 == 422)
      assert(http("GET", s"$base/quality?dir=$dir&doc_id=x")._1 == 422)
      assert(http("POST", s"$base/quality?dir=$dir", Some("{}"))._1 == 405)
      // a known doc: bucket row equal to the library seam's
      import graft.queries.TextOps
      val id = Tables(spark, dir, "documents")
        .orderBy("doc_id").limit(1).collect().head.getLong(0)
      val (code, body) = http("GET", s"$base/quality?dir=$dir&doc_id=$id")
      assert(code == 200, body)
      val expect = TextOps.qualityServe(spark, dir, Some(id))
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == expect, "HTTP rows diverged from the library seam")
      assert(body.contains("\"bucket\":"), s"no bucket row: $body")
      // unknown id is data, not an error
      assert(http("GET", s"$base/quality?dir=$dir&doc_id=99999999")
        == ((200, "[]")))
      // the distribution covers the whole scored corpus
      val (c2, b2) = http("GET", s"$base/quality?dir=$dir")
      assert(c2 == 200, b2)
      val total = "\"n\":(\\d+)".r.findAllMatchIn(b2)
        .map(_.group(1).toLong).sum
      val scored = TextOps.qualityServe(spark, dir, None)
        .agg(org.apache.spark.sql.functions.sum("n")).collect().head.getLong(0)
      assert(total == scored && total > 0, s"distribution mass: $b2")
    } finally api.stop()
  }

  test("/quality: a mid-stream lake publish changes verdicts for subsequent calls only") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      import org.apache.spark.sql.functions._
      val base = s"http://localhost:${api.boundPort}"
      // a private corpus dir so this test owns the lake's versions
      val tmp = java.nio.file.Files.createTempDirectory("graft-qual").toString
      Tables(spark, "/root/testdata/sf0.001", "documents")
        .write.parquet(s"$tmp/documents.parquet")
      val enc = java.net.URLEncoder.encode(tmp, UTF_8)
      // first serving call: bootstraps the lake, maintains the chain,
      // memoizes the thresholds under THIS version's score artifact
      val (c1, b1) = http("GET", s"$base/quality?dir=$enc")
      assert(c1 == 200, b1)
      // mid-stream publish (the startVersioned discipline): a new lake
      // version lands with 120 junk documents appended while the
      // server keeps serving
      import graft.sources.Versioned
      val lake = graft.queries.Dedup.versionedCorpus(spark, tmp)
      val v2 = Versioned.currentVersion(spark, lake).get
      val junk = spark.range(0, 120).select(
        (col("id") + 1000000L).as("doc_id"),
        lit("zq zq zq zq zq zq zq zq").as("text"),
        lit("xx").as("lang"), lit("synthetic").as("source"),
        lit(23L).as("n_chars"))
      Versioned.publish(spark, lake, Seq(
        Versioned.TableSpec("documents",
          Versioned.read(spark, lake, "documents").unionByName(junk)),
        Versioned.TableSpec("documents_delta", junk)))
      assert(Versioned.currentVersion(spark, lake).contains(v2 + 1))
      // subsequent calls serve the NEW version: thresholds memoize per
      // content-addressed score artifact (d0e6e69), so the new version
      // is a memo MISS (fresh cut), never a stale hit from v2
      val (c2, b2) = http("GET", s"$base/quality?dir=$enc")
      assert(c2 == 200, b2)
      assert(b2 != b1, "a mid-stream publish must change subsequent verdicts")
      def mass(b: String) = "\"n\":(\\d+)".r.findAllMatchIn(b)
        .map(_.group(1).toLong).sum
      assert(mass(b2) == mass(b1) + 120,
        s"appended docs missing from the served cut: $b2")
      // repeat call = same artifact = memo hit, verdicts identical
      assert(http("GET", s"$base/quality?dir=$enc") == ((c2, b2)))
    } finally api.stop()
  }

  test("/tokenize serves the standing BPE model; a corpus replacement bumps it") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      import org.apache.spark.sql.functions._
      import graft.queries.TextOps
      val base = s"http://localhost:${api.boundPort}"
      val tmp = java.nio.file.Files.createTempDirectory("graft-tok").toString
      def corpus(text: String, n: Long) = spark.range(0, n).select(
        col("id").as("doc_id"), lit(text).as("text"),
        lit("en").as("lang"), lit("synthetic").as("source"),
        lit(text.length.toLong).as("n_chars"))
      corpus("abab abab banana", 300)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      // contract errors first
      assert(http("POST", s"$base/tokenize", Some("{}"))._1 == 422)
      assert(http("GET", s"$base/tokenize")._1 == 405)
      assert(http("POST", s"$base/tokenize",
        Some(s"""{"text":" ","dir":"$tmp"}"""))._1 == 422)
      // value identity with the library seam, byte for byte
      def render(model: String, n: Int, toks: Seq[TextOps.Tokenized]) = {
        val tj = toks.map(t =>
          s"""{"word":"${t.word}","subwords":[${
            t.subwords.map(x => s""""$x"""").mkString(",")}],""" +
            s""""ids":[${t.ids.mkString(",")}]}""").mkString("[", ",", "]")
        s"""{"model":"$model","merges":$n,"tokens":$tj}"""
      }
      val (c1, b1) = http("POST", s"$base/tokenize",
        Some(s"""{"text":"abab zq","dir":"$tmp"}"""))
      assert(c1 == 200, b1)
      val (m1, n1, t1) = TextOps.tokenizeText(spark, tmp, "abab zq")
      assert(b1 == render(m1, n1, t1), s"endpoint diverged: $b1")
      // the hot pair (a,b) merged: "abab" emits the learned symbol
      // "ab" with a merge-space id (≥ 0x110000); subwords always
      // reassemble the word; every subword has an id
      val ab = t1.find(_.word == "abab").get
      assert(ab.subwords.mkString == "abab")
      assert(ab.subwords.exists(_.length > 1),
        s"the hot pair never merged: $ab")
      assert(ab.ids.length == ab.subwords.length)
      assert(ab.ids.exists(_ >= 0x110000L), s"no merged-symbol id: $ab")
      // single-codepoint ids are codepoints
      val zq = t1.find(_.word == "zq").get
      assert(zq.subwords.forall(_.length == 1) ||
        zq.ids.zip(zq.subwords).forall { case (id, s) =>
          s.length > 1 || id == s.codePointAt(0).toLong })
      // in-place corpus REPLACEMENT at the same dir: the model is
      // content-addressed, so the next request serves a NEW model
      // (the /quality mid-stream-bump discipline), never a stale one
      corpus("cdcd cdcd qqq", 500)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val (c2, b2) = http("POST", s"$base/tokenize",
        Some(s"""{"text":"abab zq","dir":"$tmp"}"""))
      assert(c2 == 200, b2)
      val model2 = "\"model\":\"([^\"]+)\"".r
        .findFirstMatchIn(b2).get.group(1)
      assert(model2 != m1, "corpus replacement must bump the model address")
      assert(!b2.contains("\"ab\""),
        s"the old corpus's (a,b) merge leaked into the new model: $b2")
    } finally api.stop()
  }

  test("/tokenize decodes JSON escapes: the served text is the client's text") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      import org.apache.spark.sql.functions._
      import graft.queries.TextOps
      val base = s"http://localhost:${api.boundPort}"
      val tmp = java.nio.file.Files.createTempDirectory("graft-tok-esc").toString
      spark.range(0, 200).select(col("id").as("doc_id"),
        lit("say hi say hi").as("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), lit(13L).as("n_chars"))
        .write.parquet(s"$tmp/documents.parquet")
      // the body spells the text with JSON escapes: an escaped quote, a
      // backslash, a newline, \u00e9 and the surrogate pair of U+1F600
      val smile = new String(Character.toChars(0x1F600))
      val text = "say \"hi\" C:\\tmp\ncafé " + smile + "x"
      val req = "{\"text\":\"say \\\"hi\\\" C:\\\\tmp\\ncaf\\u00e9 " +
        "\\ud83d\\ude00x\",\"dir\":" + mapper.writeValueAsString(tmp) + "}"
      assert(mapper.readTree(req).get("text").asText == text, req)
      val (code, body) = http("POST", s"$base/tokenize", Some(req))
      assert(code == 200, body)
      // the existing render layout, with each string a JSON literal
      def q(x: String) = mapper.writeValueAsString(x)
      val (model, n, toks) = TextOps.tokenizeText(spark, tmp, text)
      val tj = toks.map(t =>
        s"""{"word":${q(t.word)},"subwords":[${
          t.subwords.map(q).mkString(",")}],""" +
          s""""ids":[${t.ids.mkString(",")}]}""").mkString("[", ",", "]")
      assert(body == s"""{"model":${q(model)},"merges":$n,"tokens":$tj}""", body)
      val words = mapper.readTree(body).get("tokens").elements().asScala
        .map(_.get("word").asText).toSeq
      assert(words == Seq("say", "\"hi\"", "C:\\tmp", "café", smile + "x"),
        words)
    } finally api.stop()
  }

  test("time travel over HTTP: daily_totals and /lake/point at version=/asOf=") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      import graft.sources.Versioned
      val base = s"http://localhost:${api.boundPort}"
      val lake = java.nio.file.Files.createTempDirectory("graft-svc-tt")
        .toString + "/lake"
      def mkCharges(lo: Int, hi: Int) = spark.range(lo, hi).select(
        col("id"), (col("id") % 2 + 1).as("company_id"),
        (col("id") + 1).cast("decimal(16,2)").as("amount"),
        lit("2024-03-05").cast("timestamp").as("created_at"))
      val companies = Seq((1L, "acme"), (2L, "globex"))
        .toDF("company_id", "company_name")
      Versioned.publish(spark, lake, Seq(
        Versioned.TableSpec("charges", mkCharges(0, 20),
          bloomCols = Seq("id")),
        Versioned.TableSpec("companies", companies)))
      Versioned.setAutoCompact(spark, lake, 0)
      Thread.sleep(50) // marker mtimes separate the asOf instants
      val t1 = System.currentTimeMillis()
      Thread.sleep(50)
      Versioned.appendPublish(spark, lake, "charges",
        mkCharges(20, 30), Seq("id"))
      val enc = java.net.URLEncoder.encode(lake, UTF_8)

      // the expected body at a version, computed through the library
      // seam the endpoint rides — value identity, not just row counts
      def expect(v: Long): String = graft.etl.ChargesEtl
        .dailyTotalsAt(spark, lake, v)
        .select(col("company_name"),
          col("transaction_date").cast("string").as("d"),
          col("total_amount").cast("string").as("total"))
        .orderBy(col("company_name"), col("d"))
        .collect().map(r =>
          s"""{"company_name":"${r.getString(0)}","transaction_date":"${r.getString(1)}","total_amount":${r.getString(2)}}""")
        .mkString("[", ",", "]")
      val range = "from=2024-03-01&to=2024-03-31"
      val (c1, b1) = http("GET",
        s"$base/query/daily_totals?$range&base=$enc&version=1")
      assert(c1 == 200 && b1 == expect(1), s"v1: $b1")
      val (c2, b2) = http("GET",
        s"$base/query/daily_totals?$range&base=$enc&version=2")
      assert(c2 == 200 && b2 == expect(2), s"v2: $b2")
      assert(b1 != b2, "the mutation must be visible across versions")
      // no version → current; asOf=t1 → the pre-mutation version
      assert(http("GET",
        s"$base/query/daily_totals?$range&base=$enc")._2 == b2)
      assert(http("GET",
        s"$base/query/daily_totals?$range&base=$enc&asOf=$t1")._2 == b1,
        "asOf should resolve to the newest commit at or before the instant")
      // ISO-8601 asOf parses too
      val iso = java.time.Instant.ofEpochMilli(t1).toString
      assert(http("GET",
        s"$base/query/daily_totals?$range&base=$enc&asOf=$iso")._2 == b1)
      // contract errors: both params, bad version, pre-history asOf
      assert(http("GET",
        s"$base/query/daily_totals?$range&base=$enc&version=1&asOf=$t1")._1
        == 422)
      assert(http("GET",
        s"$base/query/daily_totals?$range&base=$enc&version=99")._1 == 404)
      assert(http("GET",
        s"$base/query/daily_totals?$range&base=$enc&asOf=1000")._1 == 404)

      // /lake/point time travel: a key born in v2 audits absent at v1
      val probe = s"$base/lake/point?base=$enc&table=charges&col=id" +
        "&value=25&type=long"
      assert(http("GET", s"$probe&version=1")._2 == "[]",
        "a v2-born key must audit absent at v1")
      assert(http("GET", s"$probe&version=2")._2.contains("\"id\":25"))
      assert(http("GET", s"$probe&asOf=$t1")._2 == "[]")
      assert(http("GET", s"$probe&version=1&asOf=$t1")._1 == 422)
    } finally api.stop()
  }

  test("/lake/status and /lake/compact: ops introspection + on-demand fold retirement") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      import org.apache.spark.sql.functions._
      import graft.sources.Versioned
      val base = s"http://localhost:${api.boundPort}"
      // contract errors first
      assert(http("GET", s"$base/lake/status")._1 == 422)
      assert(http("POST", s"$base/lake/compact", Some(""))._1 == 422)
      assert(http("GET", s"$base/lake/compact")._1 == 405)
      val missing = java.net.URLEncoder.encode("/tmp/graft-no-such-lake", UTF_8)
      assert(http("GET", s"$base/lake/status?base=$missing")._1 == 404)
      // a real lake with MoR debt: base publish + 3 appends, policy off
      val lake = java.nio.file.Files.createTempDirectory("graft-svc-lake")
        .toString + "/lake"
      def facts(lo: Int, hi: Int) = spark.range(lo, hi)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      Versioned.publish(spark, lake,
        Seq(Versioned.TableSpec("t", facts(0, 50))))
      Versioned.setAutoCompact(spark, lake, 0)
      (0 until 3).foreach(i =>
        Versioned.appendPublish(spark, lake, "t",
          facts(50 + i * 10, 60 + i * 10), Seq("k")))
      val enc = java.net.URLEncoder.encode(lake, UTF_8)
      val (sc1, sb1) = http("GET", s"$base/lake/status?base=$enc")
      assert(sc1 == 200, sb1)
      assert(sb1.contains("\"version\":4") &&
        sb1.contains("\"autocompact\":0") &&
        sb1.contains("\"t\":{\"entries\":4,\"data\":4,\"tombstones\":0}"), sb1)
      // compact the tail over HTTP; values must be identical after
      val before = Versioned.read(spark, lake, "t")
        .collect().map(_.toSeq).toSet
      val (cc, cb) = http("POST", s"$base/lake/compact?base=$enc&table=t",
        Some(""))
      assert(cc == 200 && cb.contains("\"compacted\":true"), cb)
      val (sc2, sb2) = http("GET", s"$base/lake/status?base=$enc")
      assert(sc2 == 200 &&
        sb2.contains("\"t\":{\"entries\":1,\"data\":1,\"tombstones\":0}"), sb2)
      assert(Versioned.read(spark, lake, "t")
        .collect().map(_.toSeq).toSet == before,
        "HTTP-triggered compaction changed values")
      // idempotent re-call: nothing to shrink → compacted:false
      val (cc2, cb2) = http("POST", s"$base/lake/compact?base=$enc&table=t",
        Some(""))
      assert(cc2 == 200 && cb2.contains("\"compacted\":false"), cb2)
    } finally api.stop()
  }

  test("/lake/compact partition_by: layout-keeping OPTIMIZE over HTTP") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      import org.apache.spark.sql.functions._
      import graft.sources.Versioned
      val base = s"http://localhost:${api.boundPort}"
      val lake = java.nio.file.Files.createTempDirectory("graft-svc-plake")
        .toString + "/lake"
      def facts(lo: Int, hi: Int) = spark.range(lo, hi).select(
        col("id").as("k"),
        (col("id") % 3).cast("int").as("pk"))
      Versioned.publish(spark, lake, Seq(Versioned.TableSpec("t",
        facts(0, 300), partitionBy = Seq("pk"), statsCols = Seq("k"))))
      Versioned.setAutoCompact(spark, lake, 0)
      Versioned.appendPublish(spark, lake, "t", facts(300, 400), Seq("k"))
      val enc = java.net.URLEncoder.encode(lake, UTF_8)
      // contradictory request rejected loudly
      assert(http("POST",
        s"$base/lake/compact?base=$enc&table=t&partition_by=pk&mor=true",
        Some(""))._1 == 422)
      val before = Versioned.read(spark, lake, "t")
        .collect().map(_.toSeq).toSet
      val (cc, cb) = http("POST",
        s"$base/lake/compact?base=$enc&table=t&partition_by=pk", Some(""))
      assert(cc == 200 && cb.contains("\"compacted\":true"), cb)
      // value identity vs the library seam, chain materialized, and
      // the col=value layout survived (dir pruning intact)
      assert(Versioned.read(spark, lake, "t")
        .collect().map(_.toSeq).toSet == before)
      val chain = Versioned.entryChainAt(spark, lake, "t",
        Versioned.currentVersion(spark, lake).get)
      assert(chain.size == 1, s"chain not materialized: $chain")
      assert(new java.io.File(
        new java.io.File(lake, chain.head._2), "pk=1").isDirectory,
        "partition_by compaction flattened the dir layout")
    } finally api.stop()
  }

  test("/lake/compact async lifecycle + /lake/point bloom probe over HTTP") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      import graft.sources.Versioned
      val base = s"http://localhost:${api.boundPort}"
      // a bloom-tracked table with MoR debt (policy off so the HTTP
      // compact is what retires it)
      val lake = java.nio.file.Files.createTempDirectory("graft-svc-alake")
        .toString + "/lake"
      def facts(lo: Int, hi: Int) = spark.range(lo, hi)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      Versioned.publish(spark, lake, Seq(Versioned.TableSpec("t",
        facts(0, 50), bloomCols = Seq("k"))))
      Versioned.setAutoCompact(spark, lake, 0)
      Versioned.appendPublish(spark, lake, "t", facts(50, 60), Seq("k"))
      Versioned.removePublish(spark, lake, "t",
        Seq(7L, 55L).toDF("k"))
      val enc = java.net.URLEncoder.encode(lake, UTF_8)
      val before = Versioned.read(spark, lake, "t")
        .collect().map(_.toSeq).toSet

      // point probe over HTTP ≡ the library seam (and errors)
      assert(http("GET", s"$base/lake/point?base=$enc&table=t")._1 == 422)
      assert(http("GET",
        s"$base/lake/point?base=$enc&table=t&col=k&value=x&type=long")._1 == 422)
      assert(http("POST",
        s"$base/lake/point?base=$enc&table=t&col=k&value=3&type=long",
        Some(""))._1 == 405)
      val (pc, pb) = http("GET",
        s"$base/lake/point?base=$enc&table=t&col=k&value=3&type=long")
      assert(pc == 200, pb)
      val expect = Versioned.readPoint(spark, lake, "t", "k", 3L)
        .toJSON.collect().mkString("[", ",", "]")
      assert(pb == expect, s"HTTP point probe diverged: $pb vs $expect")
      // a removed key probes to an empty set — the takedown audit
      val (rc, rb) = http("GET",
        s"$base/lake/point?base=$enc&table=t&col=k&value=7&type=long")
      assert(rc == 200 && rb == "[]", rb)
      // a DATE bloom column probes via its ISO spelling (r19): the
      // string probe coerces to epoch days and still prunes
      val dlake = java.nio.file.Files.createTempDirectory("graft-svc-dlake")
        .toString + "/lake"
      Versioned.publish(spark, dlake, Seq(Versioned.TableSpec("d",
        spark.range(0, 200).select(col("id").as("k"),
          expr("date_add(date'2020-01-01', cast(id as int))").as("dt"))
          .repartition(4),
        bloomCols = Seq("dt"))))
      val denc = java.net.URLEncoder.encode(dlake, UTF_8)
      val (dc, db) = http("GET",
        s"$base/lake/point?base=$denc&table=d&col=dt&value=2020-03-01")
      assert(dc == 200, db)
      val dexpect = Versioned.readPoint(spark, dlake, "d", "dt",
          java.sql.Date.valueOf("2020-03-01"))
        .toJSON.collect().mkString("[", ",", "]")
      assert(db == dexpect && db.contains("2020-03-01"),
        s"HTTP date probe diverged: $db vs $dexpect")

      // async compact: 202 now, done via status polling, values intact
      val (ac, ab) = http("POST",
        s"$base/lake/compact?base=$enc&table=t&mor=true&async=true",
        Some(""))
      assert(ac == 202 && ab.contains("\"running\""), ab)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var st = ""
      while ({
        st = http("GET", s"$base/lake/compact/status")._2
        st.contains("\"running\"") && System.nanoTime() < deadline
      }) Thread.sleep(100)
      assert(st.contains("\"state\":\"done\"") &&
        st.contains("\"compacted\":true"), st)
      // the status is keyed by (base, table): the keyed poll answers
      // this job, an unknown key reads idle, and a LATER job on a
      // different lake must not shadow this one's keyed state
      assert(http("GET",
        s"$base/lake/compact/status?base=$enc&table=t")._2 == st)
      assert(http("GET",
        s"$base/lake/compact/status?base=$enc&table=nope")._2
        .contains("\"idle\""))
      val lake2 = java.nio.file.Files.createTempDirectory("graft-svc-blake")
        .toString + "/lake"
      Versioned.publish(spark, lake2,
        Seq(Versioned.TableSpec("u", facts(0, 10))))
      val enc2 = java.net.URLEncoder.encode(lake2, UTF_8)
      assert(http("POST", s"$base/lake/compact?base=$enc2&table=u",
        Some(""))._1 == 200)
      val keyed = http("GET",
        s"$base/lake/compact/status?base=$enc&table=t")._2
      assert(keyed.contains("\"state\":\"done\"") &&
        keyed.contains("\"table\":\"t\""),
        s"another lake's compaction shadowed this job's status: $keyed")
      assert(http("GET", s"$base/lake/compact/status")._2
        .contains("\"table\":\"u\""), "parameterless poll should read latest")
      assert(Versioned.read(spark, lake, "t")
        .collect().map(_.toSeq).toSet == before,
        "async HTTP compaction changed values")
      val (sc, sb) = http("GET", s"$base/lake/status?base=$enc")
      assert(sc == 200 &&
        sb.contains("\"t\":{\"entries\":1,\"data\":1,\"tombstones\":0}"), sb)
      // the point probe still answers after the fold (fresh sidecars)
      val (pc2, pb2) = http("GET",
        s"$base/lake/point?base=$enc&table=t&col=k&value=3&type=long")
      assert(pc2 == 200 && pb2.contains("\"k\":3"), pb2)
      assert(http("GET",
        s"$base/lake/point?base=$enc&table=t&col=k&value=7&type=long")._2
        == "[]", "takedown audit resurrected a removed key after the fold")

      // the GDPR loop over HTTP: POST /lake/remove tombstones keys,
      // GET /lake/point audits them gone; value identity for the rest
      assert(http("POST", s"$base/lake/remove?base=$enc&table=t",
        Some(""))._1 == 422)
      assert(http("POST",
        s"$base/lake/remove?base=$enc&table=t&col=k&values=x,2&type=long",
        Some(""))._1 == 422)
      assert(http("GET",
        s"$base/lake/remove?base=$enc&table=t&col=k&values=2&type=long")
        ._1 == 405)
      val beforeRm = Versioned.read(spark, lake, "t")
        .collect().map(_.toSeq).toSet
      val (mc, mb) = http("POST",
        s"$base/lake/remove?base=$enc&table=t&col=k&values=11,23&type=long",
        Some(""))
      assert(mc == 200 && mb.contains("\"tombstoned_keys\":2"), mb)
      assert(http("GET",
        s"$base/lake/point?base=$enc&table=t&col=k&value=11&type=long")._2
        == "[]", "removed key still probes after /lake/remove")
      // the batch audit: the whole removal batch in ONE probe
      assert(http("GET",
        s"$base/lake/point?base=$enc&table=t&col=k&values=11,23&type=long")._2
        == "[]", "batch takedown audit found a removed key")
      val (bc, bb) = http("GET",
        s"$base/lake/point?base=$enc&table=t&col=k&values=11,12&type=long")
      assert(bc == 200 && bb.contains("\"k\":12") && !bb.contains("\"k\":11"),
        bb)
      assert(http("GET",
        s"$base/lake/point?base=$enc&table=t&col=k&values=1,,2&type=long")
        ._1 == 422, "empty list element must 422")
      assert(Versioned.read(spark, lake, "t").collect().map(_.toSeq).toSet
        == beforeRm.filterNot(r => r.head == 11L || r.head == 23L),
        "HTTP takedown removed the wrong rows")

      // manifest history: per surviving version, which tables changed
      assert(http("GET", s"$base/lake/history")._1 == 422)
      val missing2 = java.net.URLEncoder.encode("/tmp/graft-nope", UTF_8)
      assert(http("GET", s"$base/lake/history?base=$missing2")._1 == 404)
      val (hc, hb) = http("GET", s"$base/lake/history?base=$enc")
      assert(hc == 200, hb)
      val vs = "\"version\":(\\d+)".r.findAllMatchIn(hb)
        .map(_.group(1).toLong).toSeq
      assert(vs.nonEmpty && vs == vs.sorted, s"versions unsorted: $vs")
      // the newest version is the /lake/remove publish: t changed
      val last = hb.substring(hb.lastIndexOf("{\"version\":"))
      assert(last.contains("\"t\":{") && last.contains("\"changed\":true"),
        last)
      // a version that only ADDED a sibling table carries t unchanged:
      // publish t2 with t carried by reference, then re-read history
      Versioned.publish(spark, lake, Seq(Versioned.TableSpec("t2",
        facts(0, 3))), carry = Seq("t"))
      val hb2 = http("GET", s"$base/lake/history?base=$enc")._2
      val last2 = hb2.substring(hb2.lastIndexOf("{\"version\":"))
      assert(last2.contains("\"t2\":{\"entries\":1,\"data\":1,\"tombstones\":0,\"changed\":true}"),
        last2)
      assert(last2.contains("\"t\":{") &&
        "\"t\":\\{[^}]*\"changed\":false".r.findFirstIn(last2).isDefined,
        s"carried table must read changed=false: $last2")
      // every surviving version carries its commit instant, and that
      // instant round-trips as an asOf probe: a key tombstoned in a
      // LATER version still audits present at an earlier committed_at
      val times = "\"version\":(\\d+),\"committed_at\":(\\d+)".r
        .findAllMatchIn(hb2).map(m => m.group(1).toLong -> m.group(2).toLong)
        .toMap
      assert(times.keySet == "\"version\":(\\d+)".r.findAllMatchIn(hb2)
        .map(_.group(1).toLong).toSet,
        s"some versions lack committed_at: $hb2")
      assert(times.values.toSeq.sorted == times.toSeq.sortBy(_._1).map(_._2),
        "commit instants must be monotone in version order")
      // the oldest SURVIVING version's instant (earlier ones are GC'd)
      val vMin = times.keys.min
      val got = http("GET", s"$base/lake/point?base=$enc&table=t&col=k" +
        s"&value=11&type=long&asOf=${times(vMin)}")._2
      val want = Versioned.readPointAt(spark, lake, "t", vMin, "k", 11L)
        .toJSON.collect().mkString("[", ",", "]")
      assert(got == want,
        s"asOf at a committed_at must read that version: $got vs $want")
    } finally api.stop()
  }

  test("R7 index maintenance: resume-from-newest, crash retry, async status") {
    val spark = SparkSpec.spark
    val api = new RestApi(Some(spark), 0).start()
    val dir = "/root/testdata/sf0.001"
    def counts(b: String): Map[String, Long] =
      "\"(\\w+)\":(\\d+)".r.findAllMatchIn(b)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    try {
      val base = s"http://localhost:${api.boundPort}"
      assert(http("POST", s"$base/index/maintain",
        Some("""{"nope":1}"""))._1 == 422)
      assert(http("GET", s"$base/index/maintain")._1 == 405)
      val (c, b) = http("POST", s"$base/index/maintain",
        Some(s"""{"dir":"$dir"}"""))
      assert(c == 200 && b.contains("\"state\":\"done\""), b)
      val chains = Seq("windows", "signatures", "clusters", "cms_rows",
        "kmv_sources", "tf_grain", "doc_lens", "corpus_stats",
        "lm_scores", "ivf_vectors")
      chains.foreach(k =>
        assert(counts(b).get(k).exists(_ > 0), s"$k missing/empty: $b"))

      // RESUME: the second call finds every chain current — zero
      // versions built (self-reported) AND the head artifact's
      // _SUCCESS untouched on disk (externally observed)
      import graft.queries.Dedup
      import graft.sources.Versioned
      val lake = Dedup.versionedCorpus(spark, dir)
      val v = Versioned.currentVersion(spark, lake).get
      val headArt = Dedup.windowIndexArtifact(lake, v)
      def mtime(p: String): Long = {
        val hp = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
        hp.getFileSystem(spark.sessionState.newHadoopConf())
          .getFileStatus(hp).getModificationTime
      }
      val t1 = mtime(headArt)
      val (c2, b2) = http("POST", s"$base/index/maintain",
        Some(s"""{"dir":"$dir"}"""))
      assert(c2 == 200 && counts(b2)("steps_built") == 0L,
        s"repeat must build nothing: $b2")
      chains.foreach(k => assert(counts(b2)(k) == counts(b)(k),
        s"$k count drifted: $b vs $b2"))
      assert(mtime(headArt) == t1, "repeat rewrote a current artifact")

      // MID-WALK CRASH RETRY: a crash that lost one chain's newest
      // artifact (others done) — the retry rebuilds exactly that one
      // version of that one chain
      val hp = new org.apache.hadoop.fs.Path(headArt)
      hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
      val (c3, b3) = http("POST", s"$base/index/maintain",
        Some(s"""{"dir":"$dir"}"""))
      assert(c3 == 200 && counts(b3)("steps_built") == 1L &&
        counts(b3)("windows_built") == 1L,
        s"retry must rebuild only the lost head: $b3")
      assert(counts(b3)("windows") == counts(b)("windows"),
        "rebuilt artifact diverged")

      // ASYNC: 202 immediately, then /index/status converges to done
      val (ca, ba) = http("POST", s"$base/index/maintain",
        Some(s"""{"dir":"$dir","async":true}"""))
      assert(ca == 202 && ba.contains("running"), s"$ca $ba")
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      var st = ""
      while (!st.contains("\"state\":\"done\"") &&
          System.nanoTime() < deadline) {
        Thread.sleep(200)
        st = http("GET", s"$base/index/status")._2
        assert(!st.contains("failed"), st)
      }
      assert(st.contains("\"state\":\"done\"") &&
        counts(st)("steps_built") == 0L, st)
    } finally api.stop()
  }

  test("relational twin recovers the missing number via anti-join + Gauss") {
    val spark = SparkSpec.spark
    val m = First100Relational.missing(spark, Seq(42)).head().getLong(0)
    assert(m == 42L)
  }
}
