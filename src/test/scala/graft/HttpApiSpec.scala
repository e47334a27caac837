package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.HttpApi

/** End-to-end gates on the HTTP/SSE front door: a real server on an
  * ephemeral port, queried with the JDK HttpClient, over real written log
  * segments — health, validation, discovery, the SSE streaming contract
  * (result batches then a done event), tenant/param errors, and the POST
  * JSON payload form.
  */
class HttpApiSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val segDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_logseg")
      .toString
    val logs = graft.model.Cooked.logs(spark, sf)
      .withColumn("chq_fingerprint",
        graft.ingest.LogFingerprint.fingerprint(col("log_message")))
    graft.ingest.Segments.writeLogSegments(logs, dir, maxRecordsPerFile = 2000)
    graft.ingest.FingerprintIndex.buildLogIndex(spark, dir)
    dir
  }

  private lazy val (tsLo, tsHi): (Long, Long) = {
    val r = graft.model.Cooked.logs(spark, sf)
      .agg(min(col("chq_timestamp")), max(col("chq_timestamp"))).head()
    (r.getLong(0), r.getLong(1) + 1)
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private val client = java.net.http.HttpClient.newHttpClient()
  private def get(base: String, path: String): (Int, String) = {
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
        .GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
  private def post(base: String, path: String, json: String): (Int, String) = {
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(json)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private lazy val metricDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_metricseg")
      .toString
    val ev = graft.model.Tables.events(spark, sf)
    val base = graft.ingest.MetricsPreAgg.preAggregate(
      ev, col("ts_ms"), lit("events_value"), col("value"),
      Seq("attr_event_type" -> col("event_type")), freqMs = 10000L,
      withSketch = false)
    graft.ingest.Segments.writeMetricSegments(base, dir)
    graft.ingest.Segments.writeMetricSegments(
      graft.ingest.MetricsPreAgg.rollup(base, 3600000L), dir)
    dir
  }

  private lazy val spanDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_spanseg")
      .toString
    val spans = graft.model.Cooked.spans(spark, sf)
    graft.ingest.Segments.writeSpanSegments(spans, dir, maxRecordsPerFile = 2000)
    graft.ingest.FingerprintIndex.buildLogIndex(spark, dir)
    dir
  }

  test("HTTP front door: org param enforces tenant isolation end-to-end") {
    // two tenants in ONE segment dir under the leading org= partition key,
    // with DIFFERENT row sets (event-type split) so any leak is visible
    val dir = java.nio.file.Files.createTempDirectory("graft_http_orgseg")
      .toString
    val logs = graft.model.Cooked.logs(spark, sf)
      .withColumn("chq_fingerprint",
        graft.ingest.LogFingerprint.fingerprint(col("log_message")))
    graft.ingest.Segments.writeLogSegments(
      logs.filter(col("attr_event_type") === "click"), dir, 2000,
      org = Some("acme"))
    graft.ingest.Segments.writeLogSegments(
      logs.filter(col("attr_event_type") =!= "click"), dir, 2000,
      org = Some("globex"))
    val api = new HttpApi(spark, logsDir = Some(dir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      // DEBUG covers click (acme's whole tenant) AND view (globex-only)
      val q = enc("""{log_level="DEBUG"}""")
      def rows(org: String): String =
        get(base, s"/api/v1/logs/query?q=$q&s=$tsLo&e=$tsHi&limit=100000" +
          s"&fields=chq_timestamp,attr_event_type&org=$org")._2
      val acme = rows("acme")
      assert(acme.contains("\"status\":\"ok\""), acme.take(200))
      assert(acme.contains("\"attr_event_type\":\"click\"") &&
        !acme.contains("\"attr_event_type\":\"view\""), acme.take(400))
      val globex = rows("globex")
      assert(globex.contains("\"attr_event_type\":\"view\"") &&
        !globex.contains("\"attr_event_type\":\"click\""), globex.take(400))
      // discovery is tenant-scoped the same way
      val tv = get(base, s"/api/v1/logs/tagvalues?tag=attr_event_type" +
        s"&s=$tsLo&e=$tsHi&org=acme")._2
      assert(tv.contains("click") && !tv.contains("view"), tv.take(300))
    } finally api.stop()
  }

  test("HTTP front door: API-key middleware resolves the tenant, 401s strangers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_keyseg")
      .toString
    val logs = graft.model.Cooked.logs(spark, sf)
      .withColumn("chq_fingerprint",
        graft.ingest.LogFingerprint.fingerprint(col("log_message")))
    graft.ingest.Segments.writeLogSegments(
      logs.filter(col("attr_event_type") === "click"), dir, 2000,
      org = Some("acme"))
    graft.ingest.Segments.writeLogSegments(
      logs.filter(col("attr_event_type") =!= "click"), dir, 2000,
      org = Some("globex"))
    val api = new HttpApi(spark, logsDir = Some(dir),
      apiKeys = Map("k-acme" -> "acme", "k-globex" -> "globex")).start()
    def getH(base: String, path: String, hs: (String, String)*): (Int, String) = {
      val b = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(base + path)).GET()
      hs.foreach { case (k, v) => b.header(k, v) }
      val resp = client.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val q = enc("""{log_level="DEBUG"}""")
      val path = s"/api/v1/logs/query?q=$q&s=$tsLo&e=$tsHi&limit=100000" +
        "&fields=chq_timestamp,attr_event_type"
      // no key / unknown key -> 401 before any query planning
      assert(getH(base, path)._1 == 401)
      assert(getH(base, path, "x-cardinalhq-api-key" -> "nope")._1 == 401)
      // healthz stays open (registered outside the middleware, like the ref)
      assert(getH(base, "/healthz")._1 == 200)
      // a valid key scopes the query to ITS org — even when the client
      // tries to read another tenant via the org param
      val (c1, acme) = getH(base, path + "&org=globex",
        "x-cardinalhq-api-key" -> "k-acme")
      assert(c1 == 200)
      assert(acme.contains("\"attr_event_type\":\"click\"") &&
        !acme.contains("\"attr_event_type\":\"view\""), acme.take(400))
      // legacy header and cookie forms resolve the same way
      val globex = getH(base, path, "Api-Key" -> "k-globex")._2
      assert(globex.contains("\"attr_event_type\":\"view\"") &&
        !globex.contains("\"attr_event_type\":\"click\""), globex.take(400))
      val cookie = getH(base, path, "Cookie" -> "other=1; api_key=k-acme")._2
      assert(cookie.contains("\"attr_event_type\":\"click\"") &&
        !cookie.contains("\"attr_event_type\":\"view\""), cookie.take(400))
      // discovery honors the key's org too
      val tv = getH(base, s"/api/v1/logs/tagvalues?tag=attr_event_type" +
        s"&s=$tsLo&e=$tsHi", "x-cardinalhq-api-key" -> "k-globex")._2
      assert(tv.contains("view") && !tv.contains("click"), tv.take(300))
    } finally api.stop()
  }

  test("HTTP front door survives garbage: no 500s, server stays serving") {
    val api = new HttpApi(spark, logsDir = Some(segDir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val rng = new scala.util.Random(42)
      val paths = Seq(
        "/api/v1/logs/query", "/api/v1/logs/tagvalues", "/api/v1/logs/series",
        "/api/v1/metrics/query", "/api/v1/spans/trace", "/api/v1/services",
        "/api/v1/logql/validate", "/api/v1/promql/validate")
      def junkParam(): String = {
        val keys = Seq("q", "s", "e", "limit", "fields", "org", "tag", "id", "zz")
        val vals = Seq("", "-1", "NaN", "{", "%7B", "1e99", "'; DROP TABLE --",
          "{x=\"", "rate(", " ", "a" * 200,
          rng.nextLong().toString)
        s"${keys(rng.nextInt(keys.length))}=${java.net.URLEncoder.encode(vals(rng.nextInt(vals.length)), "UTF-8")}"
      }
      // 60 junk requests across routes: every response is a CLIENT error
      // class (or a 200 for trivially-satisfiable ones), never a 500, and
      // the server keeps answering
      for (i <- 0 until 60) {
        val p = paths(rng.nextInt(paths.length)) + "?" +
          (0 to rng.nextInt(3)).map(_ => junkParam()).mkString("&")
        val (code, body) = get(base, p)
        assert(code == 200 || code == 400 || code == 404,
          s"$p -> $code ${body.take(200)}")
      }
      // still alive and correct afterwards
      assert(get(base, "/healthz")._1 == 200)
      val q = enc("""{log_level="DEBUG"}""")
      val (okc, okb) = get(base,
        s"/api/v1/logs/query?q=$q&s=$tsLo&e=$tsHi&limit=10")
      assert(okc == 200 && okb.contains("\"status\":\"ok\""), okb.take(200))
    } finally api.stop()
  }

  test("HTTP front door: metrics SSE query + metadata + tags, spans trace") {
    val api = new HttpApi(spark, metricsDir = Some(metricDir),
      spansDir = Some(spanDir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val ev = graft.model.Tables.events(spark, sf)
        .agg(min(col("ts_ms")), max(col("ts_ms"))).head()
      val (s, e) = (ev.getLong(0), ev.getLong(1) + 1)

      val (cm, mbody) = get(base,
        s"/api/v1/metrics/query?q=${enc("sum(rate(events_value[1h]))")}&s=$s&e=$e")
      assert(cm == 200 && mbody.contains("\"type\":\"result\"") &&
        mbody.contains("\"status\":\"ok\""), mbody.take(400))

      // summary mode: one summary event per series, then done
      val (csm, sbody) = get(base,
        s"/api/v1/metrics/query?q=${enc("sum(rate(events_value[1h]))")}&s=$s&e=$e&summary=true")
      assert(csm == 200 && sbody.contains("\"type\":\"summary\"") &&
        sbody.contains("\"count\"") && sbody.contains("\"status\":\"ok\""),
        sbody.take(400))

      // multi-expression fusion: q + q2/q3 over the same selector route
      // through queryMultiAt — one scan, columns value/value2/value3
      val (cmm, mm) = get(base,
        s"/api/v1/metrics/query?q=${enc("rate(events_value[1h])")}" +
          s"&q2=${enc("increase(events_value[1h])")}" +
          s"&q3=${enc("max_over_time(events_value[1h])")}&s=$s&e=$e")
      assert(cmm == 200 && mm.contains("\"value\"") &&
        mm.contains("\"value2\"") && mm.contains("\"value3\"") &&
        mm.contains("\"status\":\"ok\""), mm.take(400))
      // mixed selectors can't fuse — since r15 they fall back to the
      // TAGGED general door (one materialized pass per request) instead
      // of 400ing: rows carry alias/series, both panels answer
      val (chet, het) = get(base,
        s"/api/v1/metrics/query?q=${enc("rate(events_value[1h])")}" +
          s"&q2=${enc("sum by (attr_event_type) (events_value)")}&s=$s&e=$e")
      assert(chet == 200 && het.contains("\"alias\"") &&
        het.contains("\"series\"") && het.contains("\"status\":\"ok\""),
        het.take(400))
      assert(het.contains("\"alias\":\"value\"") &&
        het.contains("\"alias\":\"value2\""),
        s"both panels' tagged rows expected: ${het.take(400)}")
      // a malformed expression is still a client error, not a 500
      val (cbad, _) = get(base,
        s"/api/v1/metrics/query?q=${enc("rate(events_value[1h])")}" +
          s"&q2=${enc("rate(events_value[)")}&s=$s&e=$e")
      assert(cbad == 400, s"malformed multi expression should 400, got $cbad")

      // agg-of-range-window panels (r15): sum(rate)/max(increase) over the
      // same selector ride the q2..q9 route through the fused agg-window
      // path of Engine.queryMulti
      val (caw, aw) = get(base,
        s"/api/v1/metrics/query?q=${enc("sum(rate(events_value[1h]))")}" +
          s"&q2=${enc("max(increase(events_value[1h]))")}&s=$s&e=$e")
      assert(caw == 200 && aw.contains("\"value\"") &&
        aw.contains("\"value2\"") && aw.contains("\"status\":\"ok\""),
        aw.take(400))
      // mixed grouping across agg-window panels also rides the tagged
      // fallback since r15 (was a 400)
      val (cawMix, awMix) = get(base,
        s"/api/v1/metrics/query?q=${enc("sum(rate(events_value[1h]))")}" +
          s"&q2=${enc("sum by (attr_event_type) (rate(events_value[1h]))")}" +
          s"&s=$s&e=$e")
      assert(cawMix == 200 && awMix.contains("\"alias\":\"value2\"") &&
        awMix.contains("\"series\""), awMix.take(400))

      val (cmd, meta) = get(base, s"/api/v1/metrics/metadata?s=$s&e=$e")
      assert(cmd == 200 && meta.contains("events_value"), meta.take(300))
      val (cmt, mtags) = get(base, s"/api/v1/metrics/tags?s=$s&e=$e")
      assert(cmt == 200 && mtags.contains("attr_event_type"), mtags.take(300))
      val (cmv, mvals) = get(base,
        s"/api/v1/metrics/tagvalues?tag=attr_event_type&s=$s&e=$e")
      assert(cmv == 200 && mvals.contains("tag_value"), mvals.take(300))

      // spans: trace fetch by id through the exact index path
      val sp = spark.read.parquet(spanDir)
      val sr = sp.agg(min(col("chq_timestamp")), max(col("chq_timestamp")),
        min(col("span_trace_id"))).head()
      val (ss, se, tid) = (sr.getLong(0), sr.getLong(1) + 1, sr.getString(2))
      val (ctr, tbody) = get(base, s"/api/v1/spans/trace?id=$tid&s=$ss&e=$se")
      assert(ctr == 200 && tbody.contains(tid) &&
        tbody.contains("\"status\":\"ok\""), tbody.take(400))
      val (cst, stags) = get(base, s"/api/v1/spans/tags?s=$ss&e=$se")
      assert(cst == 200 && stags.contains("span_"), stags.take(300))

      // spans multi door (r15): two metric panels tagged on one pass
      val sq1 = enc("""sum by (span_name) (count_over_time({span_status_code="STATUS_CODE_ERROR"}[1h]))""")
      val sq2 = enc("""sum by (resource_service_name) (count_over_time({span_kind="SPAN_KIND_SERVER"}[1h]))""")
      val (csm2, smb) = get(base,
        s"/api/v1/spans/query?q=$sq1&q2=$sq2&s=$ss&e=$se")
      assert(csm2 == 200 && smb.contains("\"alias\":\"value\"") &&
        smb.contains("\"alias\":\"value2\"") && smb.contains("\"series\""),
        smb.take(400))

      // spans MIXED multi (r16): a raw span panel next to a metric panel
      // returns both shapes in one response, the raw section capped by
      // `limit` (previously ignored on the multi path)
      val sqr = enc("""{span_status_code="STATUS_CODE_ERROR"}""")
      val (csm3, smx) = get(base,
        s"/api/v1/spans/query?q=$sq1&q2=$sqr&s=$ss&e=$se&limit=5")
      assert(csm3 == 200 && smx.contains("\"status\":\"ok\""), smx.take(400))
      val om2 = new com.fasterxml.jackson.databind.ObjectMapper()
      val smxRows = smx.linesIterator.filter(_.startsWith("data: "))
        .map(_.stripPrefix("data: "))
        .filter(_.startsWith("""{"type":"result""""))
        .flatMap { evt =>
          val rows = om2.readTree(evt).get("data").get("rows")
          (0 until rows.size).map(i => rows.get(i))
        }.toSeq
      val rawSpans = smxRows.filter(r =>
        r.has("alias") && r.get("alias").asText == "value2" && !r.has("series"))
      assert(rawSpans.size == 5 && rawSpans.forall(_.has("span_trace_id")),
        s"raw span panel limit=5: got ${rawSpans.size}")
      assert(smxRows.exists(r => r.has("series") &&
        r.get("alias").asText == "value"), "metric panel missing from mixed response")
    } finally api.stop()
  }

  test("metrics SSE: long range streams slice-by-slice, equals one-shot") {
    val api = new HttpApi(spark, metricsDir = Some(metricDir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val ev = graft.model.Tables.events(spark, sf)
        .agg(min(col("ts_ms")), max(col("ts_ms"))).head()
      val (s, e) = (ev.getLong(0), ev.getLong(1) + 1)
      // the events table spans ~30 days -> 1h step, 8 time slices
      val q = "sum(rate(events_value[2h]))"
      val (code, body) = get(base,
        s"/api/v1/metrics/query?q=${enc(q)}&s=$s&e=$e")
      assert(code == 200 && body.contains("\"status\":\"ok\""), body.take(300))
      val events = body.linesIterator.filter(_.startsWith("data: "))
        .map(_.stripPrefix("data: ")).toSeq
      val results = events.filter(_.startsWith("""{"type":"result""""))
      // the slice path must emit MULTIPLE result events (one-shot SSE
      // with default batching would emit one): the reference's
      // bucket-by-bucket streaming UX
      assert(results.size >= 2, s"expected >=2 result events: ${results.size}")
      // concatenated slice rows == the one-shot engine result. Both sides
      // normalize through Jackson so float formatting can't alias.
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val got = results.flatMap { evt =>
        val rows = om.readTree(evt).get("data").get("rows")
        (0 until rows.size).map(i => rows.get(i).toString)
      }.sorted
      val want = graft.api.MetricSegments.query(spark, metricDir, q, s, e)
        .toJSON.collect().toSeq.map(r => om.readTree(r).toString).sorted
      assert(got == want,
        s"slice concat != one-shot: got=${got.size} want=${want.size}")
      // slices ascend in time: per-event max ts never exceeds the next
      // event's... (batches within a slice keep arrival order, slices are
      // ordered) — check first vs last event's row timestamps
      def tsOf(rowsJson: String): Seq[Long] = {
        val rows = om.readTree(rowsJson).get("data").get("rows")
        (0 until rows.size).map(i => rows.get(i).get("ts").asLong)
      }
      assert(tsOf(results.head).max < tsOf(results.last).min)

      // negative offset stays sliceable (r16): each slice's scan widens
      // FORWARD by the look-ahead (Ast.forwardMs in the per-slice dateint
      // bounds), so the concatenation equals the one-shot — a slice
      // evaluated against an unwidened scan would lose its last 26h of
      // buckets
      val qn = "sum by (attr_event_type) (events_value offset -26h)"
      val en = e - 2L * 86400000L // leave 2 days of data past the window
      val pn = graft.api.StepPolicy.paramsFor(s, en)
      val slicesN = graft.api.MetricSegments.slicePlan(pn)
      assert(slicesN.size >= 2, s"span should slice: ${slicesN.size}")
      val oneShotN = graft.api.MetricSegments
        .queryAt(spark, metricDir, qn, pn)
        .toJSON.collect().toSeq.map(r => om.readTree(r).toString).sorted
      val slicedN = graft.api.MetricSegments
        .queryAtSliced(spark, metricDir, qn, pn, slicesN)
        .flatMap(_.apply().toJSON.collect())
        .map(r => om.readTree(r).toString).sorted
      assert(oneShotN.nonEmpty && slicedN == oneShotN,
        s"negative-offset slice concat != one-shot: ${slicedN.size} vs ${oneShotN.size}")
    } finally api.stop()
  }

  test("metrics query route: the fresh tail is DEFAULT (r18) — the "
      + "not-yet-rolled-up day streams through SSE; fresh=false keeps the "
      + "strict one-tier contract") {
    // lagged store: 10s base for 5 days, hourly rollup stops before day 4
    val day0 = 1704067200000L
    val day = 86400000L
    val dir = java.nio.file.Files
      .createTempDirectory("graft_http_fresh_").toString
    val ev = {
      import spark.implicits._
      (0 until 5 * 24).map(h =>
        (day0 + h * 3600000L + 7000L, "a", 2.0)).toDF("ts_ms", "attr_k", "v")
    }
    val base = graft.ingest.MetricsPreAgg.preAggregate(
      ev, col("ts_ms"), lit("m_http_fresh"), col("v"),
      Seq("attr_k" -> col("attr_k")), freqMs = 10000L, withSketch = false)
    graft.ingest.Segments.writeMetricSegments(base, dir)
    graft.ingest.Segments.writeMetricSegments(
      graft.ingest.MetricsPreAgg.rollup(
        base.filter(col("chq_timestamp") < day0 + 4 * day), 3600000L), dir)
    val api = new HttpApi(spark, metricsDir = Some(dir)).start()
    try {
      val baseUrl = s"http://127.0.0.1:${api.port}"
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      def maxTs(extra: String): Long = {
        val (code, body) = get(baseUrl,
          s"/api/v1/metrics/query?q=${enc("sum(m_http_fresh)")}" +
            s"&s=$day0&e=${day0 + 5 * day}$extra")
        assert(code == 200 && body.contains("\"status\":\"ok\""), body.take(300))
        body.linesIterator.filter(_.startsWith("data: "))
          .map(_.stripPrefix("data: "))
          .filter(_.startsWith("""{"type":"result""""))
          .flatMap { evt =>
            val rows = om.readTree(evt).get("data").get("rows")
            (0 until rows.size).map(i => rows.get(i).get("ts").asLong)
          }.max
      }
      // strict opt-out: the newest day is silently absent (the
      // reference's literal one-frequency lookup)
      assert(maxTs("&fresh=false") < day0 + 4 * day)
      // default (and explicit fresh=true): the 10s tail fills it in
      assert(maxTs("") >= day0 + 4 * day)
      assert(maxTs("&fresh=true") >= day0 + 4 * day)
    } finally api.stop()
  }

  test("discovery annotates its tier plan: a lagged store shows the " +
      "un-rolled day pinned to the base tier; repeated calls are LIST-free " +
      "(r17 VERDICT next-round #3/#5)") {
    val day0 = 1704067200000L
    val day = 86400000L
    val dir = java.nio.file.Files
      .createTempDirectory("graft_http_plan_").toString
    val ev = {
      import spark.implicits._
      (0 until 5 * 24).map(h =>
        (day0 + h * 3600000L + 7000L, "a", 2.0)).toDF("ts_ms", "attr_k", "v")
    }
    val base = graft.ingest.MetricsPreAgg.preAggregate(
      ev, col("ts_ms"), lit("m_http_plan"), col("v"),
      Seq("attr_k" -> col("attr_k")), freqMs = 10000L, withSketch = false)
    graft.ingest.Segments.writeMetricSegments(base, dir)
    graft.ingest.Segments.writeMetricSegments(
      graft.ingest.MetricsPreAgg.rollup(
        base.filter(col("chq_timestamp") < day0 + 4 * day), 3600000L), dir)
    val api = new HttpApi(spark, metricsDir = Some(dir)).start()
    try {
      val baseUrl = s"http://127.0.0.1:${api.port}"
      def tagvalues(): String = {
        val (code, body) = get(baseUrl,
          s"/api/v1/metrics/tagvalues?tag=attr_k&s=$day0&e=${day0 + 5 * day}")
        assert(code == 200, body.take(300))
        body
      }
      val body = tagvalues()
      // the response says which tier each day was read from: the operator
      // SEES discovery running un-rolled on the fresh day (360x the rows)
      // instead of reverse-engineering it from latency
      assert(body.contains("\"tier_plan\":{"), body.take(400))
      assert(body.contains("\"20240101\":3600000"), body.take(400))
      assert(body.contains("\"20240105\":10000"), body.take(400))
      // tags route carries the same annotation
      val tags = get(baseUrl,
        s"/api/v1/metrics/tags?s=$day0&e=${day0 + 5 * day}")._2
      assert(tags.contains("\"tier_plan\":{"), tags.take(400))
      // repeated discovery requests must NOT re-LIST the store inside the
      // metadata TTL — the S3 autocomplete contract
      val n0 = graft.api.TierFreshness.metadataReadCount
      (1 to 3).foreach(_ => tagvalues())
      assert(graft.api.TierFreshness.metadataReadCount == n0,
        "discovery re-listed the store on a hot cache")
    } finally api.stop()
  }

  test("metrics SSE: per-slice prefetch collect is hard-capped on the " +
      "driver; over-cap streams flag truncation (r16 VERDICT #4)") {
    // an adversarial high-cardinality `by` panel over a long range: each
    // slice's grid (series × steps) far exceeds a tiny cap. The prefetch
    // must collect at most cap+1 rows per slice (bounded driver heap, no
    // matter the panel), stream the first cap, and close with
    // "truncated":true — the jsonRows best-effort contract. A roomy cap
    // on the same query stays untruncated and complete.
    val cap = 5
    val api = new HttpApi(spark, metricsDir = Some(metricDir),
      maxSliceRows = cap).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val ev = graft.model.Tables.events(spark, sf)
        .agg(min(col("ts_ms")), max(col("ts_ms"))).head()
      val (s, e) = (ev.getLong(0), ev.getLong(1) + 1)
      val q = "sum by (attr_event_type) (events_value)"
      val slices = graft.api.MetricSegments
        .slicePlan(graft.api.StepPolicy.paramsFor(s, e))
      assert(slices.size >= 2, s"span should slice: ${slices.size}")
      val (code, body) = get(base, s"/api/v1/metrics/query?q=${enc(q)}&s=$s&e=$e")
      assert(code == 200, body.take(300))
      assert(body.contains(""""status":"ok","truncated":true"""), body.take(400))
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val nRows = body.linesIterator.filter(_.startsWith("data: "))
        .map(_.stripPrefix("data: "))
        .filter(_.startsWith("""{"type":"result""""))
        .map(evt => om.readTree(evt).get("data").get("rows").size).sum
      assert(nRows <= slices.size * cap, s"$nRows rows past the cap")
      assert(nRows > 0)
    } finally api.stop()
    // roomy cap: same query, complete and untruncated
    val api2 = new HttpApi(spark, metricsDir = Some(metricDir)).start()
    try {
      val base = s"http://127.0.0.1:${api2.port}"
      val ev = graft.model.Tables.events(spark, sf)
        .agg(min(col("ts_ms")), max(col("ts_ms"))).head()
      val (s, e) = (ev.getLong(0), ev.getLong(1) + 1)
      val q = "sum by (attr_event_type) (events_value)"
      val (code, body) = get(base, s"/api/v1/metrics/query?q=${enc(q)}&s=$s&e=$e")
      assert(code == 200 && body.contains("""{"type":"done","data":{"status":"ok"}}"""),
        body.takeRight(300))
      assert(!body.contains("truncated"), body.takeRight(300))
    } finally api2.stop()
  }

  test("metrics SSE: multi-panel long range streams slice-by-slice over one shared scan") {
    val api = new HttpApi(spark, metricsDir = Some(metricDir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val ev = graft.model.Tables.events(spark, sf)
        .agg(min(col("ts_ms")), max(col("ts_ms"))).head()
      val (s, e) = (ev.getLong(0), ev.getLong(1) + 1)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      // heterogeneous pair (different groupings) → tagged rows, sliced
      val q1 = "sum(rate(events_value[2h]))"
      val q2 = "max by (attr_event_type) (events_value)"
      val (code, body) = get(base,
        s"/api/v1/metrics/query?q=${enc(q1)}&q2=${enc(q2)}&s=$s&e=$e")
      assert(code == 200 && body.contains("\"status\":\"ok\""), body.take(300))
      val results = body.linesIterator.filter(_.startsWith("data: "))
        .map(_.stripPrefix("data: "))
        .filter(_.startsWith("""{"type":"result"""")).toSeq
      assert(results.size >= 2,
        s"multi request should stream >=2 slice events: ${results.size}")
      val got = results.flatMap { evt =>
        val rows = om.readTree(evt).get("data").get("rows")
        (0 until rows.size).map(i => rows.get(i).toString)
      }.sorted
      // concatenated slices == the one-shot tagged result
      val p = graft.api.StepPolicy.paramsFor(s, e)
      val want = graft.api.MetricSegments.queryMultiAt(spark, metricDir,
        Seq("value" -> q1, "value2" -> q2), p)
        .toJSON.collect().toSeq.map(r => om.readTree(r).toString).sorted
      assert(got == want,
        s"multi slice concat != one-shot: got=${got.size} want=${want.size}")
      assert(got.exists(_.contains("\"alias\":\"value2\"")), got.take(2).toString)

      // FUSABLE pair (same selector) sliced: keeps the alias-column shape
      // per slice; concatenation equals the one-shot fused result
      val f1 = "rate(events_value[2h])"
      val f2 = "increase(events_value[2h])"
      val (cf, fbody) = get(base,
        s"/api/v1/metrics/query?q=${enc(f1)}&q2=${enc(f2)}&s=$s&e=$e")
      assert(cf == 200, fbody.take(300))
      val fres = fbody.linesIterator.filter(_.startsWith("data: "))
        .map(_.stripPrefix("data: "))
        .filter(_.startsWith("""{"type":"result"""")).toSeq
      assert(fres.size >= 2, s"fused multi should stream slices: ${fres.size}")
      val fgot = fres.flatMap { evt =>
        val rows = om.readTree(evt).get("data").get("rows")
        (0 until rows.size).map(i => rows.get(i).toString)
      }.sorted
      val fwant = graft.api.MetricSegments.queryMultiAt(spark, metricDir,
        Seq("value" -> f1, "value2" -> f2), p)
        .toJSON.collect().toSeq.map(r => om.readTree(r).toString).sorted
      assert(fgot == fwant,
        s"fused slice concat != one-shot: got=${fgot.size} want=${fwant.size}")
      assert(fgot.exists(_.contains("\"value2\"")), fgot.take(2).toString)

      // tagged=true forces the uniform tagged shape even though the set
      // fuses — one schema for any panel mix
      val (ct, tbody2) = get(base,
        s"/api/v1/metrics/query?q=${enc(f1)}&q2=${enc(f2)}&s=$s&e=$e&tagged=true")
      assert(ct == 200 && tbody2.contains("\"alias\":\"value2\"") &&
        tbody2.contains("\"series\""), tbody2.take(300))
    } finally api.stop()
  }

  test("logs SSE: long-range raw query streams day-sliced with early-exit " +
      "limit, equals one-shot in order") {
    val api = new HttpApi(spark, logsDir = Some(segDir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val q = enc("""{log_level="INFO"}""")
      def sseRows(path: String): Seq[String] = {
        val (code, body) = get(base, path)
        assert(code == 200 && body.contains("\"status\":\"ok\""), body.take(300))
        body.linesIterator.filter(_.startsWith("data: "))
          .map(_.stripPrefix("data: "))
          .filter(_.startsWith("""{"type":"result""""))
          .flatMap { evt =>
            val rows = om.readTree(evt).get("data").get("rows")
            (0 until rows.size).map(i => rows.get(i).toString)
          }.toSeq
      }
      def oneShot(limit: Int, desc: Boolean): Seq[String] =
        graft.api.LogSegments.query(spark, segDir, """{log_level="INFO"}""",
          graft.api.StepPolicy.paramsFor(tsLo, tsHi), limit = limit,
          desc = desc, fields = Seq("chq_timestamp", "log_message"))
          .toJSON.collect().toSeq.map(r => om.readTree(r).toString)
      // small limit: the budget trims the stream to the one-shot top-25.
      // Rows with EQUAL chq_tsns are interchangeable at the boundary (the
      // sort has no further tiebreak), so compare the timestamp multiset,
      // the count, and monotonicity rather than exact row identity.
      def tss(rows: Seq[String]): Seq[Long] =
        rows.map(r => om.readTree(r).get("chq_timestamp").asLong)
      val got25 = sseRows(s"/api/v1/logs/query?q=$q&s=$tsLo&e=$tsHi" +
        "&limit=25&fields=chq_timestamp,log_message")
      val want25 = oneShot(25, desc = true)
      assert(got25.size == 25 && tss(got25).sorted == tss(want25).sorted,
        s"desc limit-25 mismatch: ${got25.size}")
      val ts25 = tss(got25)
      assert(ts25 == ts25.sorted(Ordering[Long].reverse), "not descending")
      // ascending variant
      val gotAsc = sseRows(s"/api/v1/logs/query?q=$q&s=$tsLo&e=$tsHi" +
        "&limit=25&order=asc&fields=chq_timestamp,log_message")
      assert(gotAsc.size == 25 &&
        tss(gotAsc).sorted == tss(oneShot(25, desc = false)).sorted,
        s"asc limit-25 mismatch: ${gotAsc.size}")
      assert(tss(gotAsc) == tss(gotAsc).sorted, "not ascending")
      // large limit: full equality with the one-shot result as a multiset
      // (order checked above; a big window crosses slice boundaries)
      val gotAll = sseRows(s"/api/v1/logs/query?q=$q&s=$tsLo&e=$tsHi" +
        "&limit=100000&fields=chq_timestamp,log_message")
      assert(gotAll.sorted == oneShot(100000, desc = true).sorted,
        s"full mismatch: ${gotAll.size}")

      // logs multi door (r15): two metric panels over different streams
      // and groupings ride one shared pass; the ~30d span streams
      // slice-by-slice and the concatenation equals the one-shot door
      val mq1 = enc("""sum by (log_level) (count_over_time({log_level="INFO"}[1h]))""")
      val mq2 = enc("""sum by (resource_service_name) (count_over_time({log_level="ERROR"}[1h]))""")
      val (mc, mbody) = get(base,
        s"/api/v1/logs/query?q=$mq1&q2=$mq2&s=$tsLo&e=$tsHi")
      assert(mc == 200 && mbody.contains("\"status\":\"ok\""), mbody.take(300))
      val mevents = mbody.linesIterator.filter(_.startsWith("data: "))
        .map(_.stripPrefix("data: "))
        .filter(_.startsWith("""{"type":"result"""")).toSeq
      assert(mevents.size >= 2,
        s"logs multi should stream >=2 slice events: ${mevents.size}")
      val mrows = mevents.flatMap { evt =>
        val rows = om.readTree(evt).get("data").get("rows")
        (0 until rows.size).map(i => rows.get(i).toString)
      }
      assert(mrows.exists(_.contains("\"alias\":\"value\"")) &&
        mrows.exists(_.contains("\"alias\":\"value2\"")) &&
        mrows.exists(_.contains("\"series\"")), mrows.take(2).toString)
      val mwant = graft.api.LogSegments.queryMultiTagged(spark, segDir,
        Seq("value" -> """sum by (log_level) (count_over_time({log_level="INFO"}[1h]))""",
          "value2" -> """sum by (resource_service_name) (count_over_time({log_level="ERROR"}[1h]))"""),
        graft.api.StepPolicy.paramsFor(tsLo, tsHi))
        .toJSON.collect().toSeq.map(r => om.readTree(r).toString)
      assert(mrows.sorted == mwant.sorted,
        s"logs multi slice concat != one-shot: ${mrows.size} vs ${mwant.size}")
      // MIXED raw+metric multi request (r15 VERDICT #5): a raw "recent
      // errors" panel next to two metric panels returns BOTH shapes in
      // ONE response — tagged grid rows for the metric panels (shared
      // pass) and alias-tagged raw rows with the raw params
      // (limit/fields) applied, which a raw-in-multi request previously
      // 400'd away
      val (cmix, mixBody) = get(base,
        s"/api/v1/logs/query?q=$mq1&q2=$mq2&q3=$q&s=$tsLo&e=$tsHi" +
          "&limit=7&fields=chq_timestamp,log_message")
      assert(cmix == 200 && mixBody.contains("\"status\":\"ok\""),
        mixBody.take(300))
      val mixRows = mixBody.linesIterator.filter(_.startsWith("data: "))
        .map(_.stripPrefix("data: "))
        .filter(_.startsWith("""{"type":"result""""))
        .flatMap { evt =>
          val rows = om.readTree(evt).get("data").get("rows")
          (0 until rows.size).map(i => rows.get(i))
        }.toSeq
      val rawRows = mixRows.filter(r =>
        r.has("alias") && r.get("alias").asText == "value3")
      val gridRows = mixRows.filter(r =>
        r.has("series") && r.has("alias") && r.get("alias").asText != "value3")
      assert(rawRows.size == 7, s"raw panel limit=7, got ${rawRows.size}")
      assert(rawRows.forall(r => r.has("log_message") && r.has("chq_timestamp")),
        "raw rows must carry the requested fields")
      assert(gridRows.exists(_.get("alias").asText == "value") &&
        gridRows.exists(_.get("alias").asText == "value2"),
        "metric panels must still stream tagged grid rows")
      // the metric section equals the metric-only multi door's answer
      val mixGrid = gridRows.map(_.toString).sorted
      assert(mixGrid == mwant.sorted,
        s"mixed-request metric section != metric-only door: ${mixGrid.size} vs ${mwant.size}")
    } finally api.stop()
  }

  test("HTTP front door: health, validate, discovery, SSE query, errors") {
    val api = new HttpApi(spark, logsDir = Some(segDir),
      spansDir = Some(segDir), sseBatchRows = 3).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      assert(get(base, "/healthz") == ((200, """{"status":"ok"}""")))
      assert(get(base, "/api/v1/ping")._2.contains("pong"))

      // validation without execution
      val okq = enc("""{log_level="INFO"}""")
      assert(get(base, s"/api/v1/logql/validate?q=$okq")._2
        .contains("\"valid\":true"))
      assert(get(base, "/api/v1/logql/validate?q=%7Bbroken")._2
        .contains("\"valid\":false"))
      assert(get(base, s"/api/v1/promql/validate?q=${enc("rate(x[5m])")}")._2
        .contains("\"valid\":true"))

      // discovery over the written segments
      val (ct, tags) = get(base, s"/api/v1/logs/tags?s=$tsLo&e=$tsHi")
      assert(ct == 200 && tags.contains("log_level"), tags.take(300))
      val (cv, tv) = get(base,
        s"/api/v1/logs/tagvalues?tag=log_level&s=$tsLo&e=$tsHi")
      assert(cv == 200 && tv.contains("INFO"), tv.take(300))
      val (cs, svc) = get(base, s"/api/v1/services?s=$tsLo&e=$tsHi")
      assert(cs == 200 && svc.contains("service_name"), svc.take(300))
      val (cr, series) = get(base,
        s"/api/v1/logs/series?labels=log_level&s=$tsLo&e=$tsHi")
      assert(cr == 200 && series.contains("\"n\""), series.take(300))

      // SSE log query: result batches then the done event, in order
      val (cq, body) = get(base,
        s"/api/v1/logs/query?q=$okq&s=$tsLo&e=$tsHi&limit=7")
      assert(cq == 200, body.take(300))
      val events = body.split("\n\n").filter(_.startsWith("data: "))
      assert(events.length >= 2, body.take(300))
      assert(events.init.forall(_.contains("\"type\":\"result\"")), body.take(500))
      assert(events.last.contains("\"type\":\"done\"") &&
        events.last.contains("\"status\":\"ok\""), events.last)
      // limit honored: 7 rows across batches of 3
      assert(events.init.map(_.count(_ == '{')).sum > 0)
      assert(body.contains("log_message"))

      // POST JSON payload form (reference accepts both)
      val (cp, pbody) = post(base, "/api/v1/logs/query",
        s"""{"q":"{log_level=\\"INFO\\"}","s":$tsLo,"e":$tsHi,"limit":2}""")
      assert(cp == 200 && pbody.contains("\"type\":\"done\""), pbody.take(300))

      // features reflects configured signals
      val (cf, fbody) = get(base, "/api/v1/features")
      assert(cf == 200 && fbody.contains("\"logs\"") &&
        fbody.contains("\"spans\"") && !fbody.contains("\"metrics\""), fbody)
      assert(fbody.contains("\"multi\":true") &&
        fbody.contains("\"tagged\":true") &&
        fbody.contains("\"multi_mixed\":true"), fbody)

      // concurrency: parallel SSE queries all complete with done:ok (the
      // server's thread pool + Spark's scheduler serve them simultaneously)
      val futs = (1 to 4).map { _ =>
        java.util.concurrent.CompletableFuture.supplyAsync(() =>
          get(base, s"/api/v1/logs/query?q=$okq&s=$tsLo&e=$tsHi&limit=5")._2)
      }
      futs.foreach(f => assert(f.get(60, java.util.concurrent.TimeUnit.SECONDS)
        .contains("\"status\":\"ok\"")))

      // parameter errors surface as 400, not a hung stream
      assert(get(base, "/api/v1/logs/query")._1 == 400)
      assert(get(base, s"/api/v1/logs/tagvalues?s=$tsLo&e=$tsHi")._1 == 400)
      // unconfigured signal dir -> 400
      assert(get(base, s"/api/v1/metrics/metadata?s=$tsLo&e=$tsHi")._1 == 400)
      // a bad query 400s BEFORE the stream opens (plan-before-headers)
      val (cbad, badBody) = get(base,
        s"/api/v1/logs/query?q=%7Bbroken&s=$tsLo&e=$tsHi")
      assert(cbad == 400 && badBody.contains("\"status\":\"error\""),
        s"$cbad ${badBody.take(200)}")
    } finally api.stop()
  }

  test("spans SSE: a single raw query honours order and fields, day-sliced " +
      "like logs") {
    val api = new HttpApi(spark, spansDir = Some(spanDir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val sr = spark.read.parquet(spanDir)
        .agg(min(col("chq_timestamp")), max(col("chq_timestamp"))).head()
      val (ss, se) = (sr.getLong(0), sr.getLong(1) + 1)
      val q = """{span_kind="SPAN_KIND_SERVER"}"""
      val (code, body) = get(base, s"/api/v1/spans/query?q=${enc(q)}&s=$ss" +
        s"&e=$se&limit=40&order=asc&fields=chq_timestamp,span_name")
      assert(code == 200 && body.contains("\"status\":\"ok\""), body.take(300))
      val rows = body.linesIterator.filter(_.startsWith("data: "))
        .map(_.stripPrefix("data: "))
        .filter(_.startsWith("""{"type":"result""""))
        .flatMap { evt =>
          val rs = om.readTree(evt).get("data").get("rows")
          (0 until rs.size).map(i => rs.get(i))
        }.toSeq
      import scala.jdk.CollectionConverters._
      assert(rows.nonEmpty && rows.forall(r =>
        r.fieldNames.asScala.toSet == Set("chq_timestamp", "span_name")),
        rows.take(3).toString)
      val ts = rows.map(_.get("chq_timestamp").asLong)
      assert(ts == ts.sorted, "not ascending")
      val want = graft.api.SpanSegments.query(spark, spanDir, q,
        graft.api.StepPolicy.paramsFor(ss, se), limit = 40, desc = false,
        fields = Seq("chq_timestamp", "span_name"))
        .collect().map(_.getLong(0)).toSeq
      assert(ts.size == want.size && ts.sorted == want.sorted,
        s"${ts.size} rows vs one-shot ${want.size}")
    } finally api.stop()
  }

  test("a negative limit is a client error (400), not a failed query (500)") {
    val api = new HttpApi(spark, logsDir = Some(segDir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val q = enc("""{log_level="INFO"}""")
      val (cq, bq) = get(base, s"/api/v1/logs/query?q=$q&s=$tsLo&e=$tsHi&limit=-1")
      assert(cq == 400 && bq.contains("limit"), s"$cq ${bq.take(200)}")
      val (cv, bv) = get(base,
        s"/api/v1/logs/tagvalues?tag=log_level&s=$tsLo&e=$tsHi&limit=-1")
      assert(cv == 400 && bv.contains("limit"), s"$cv ${bv.take(200)}")
      // limit=0 stays a valid (empty) request
      assert(get(base, s"/api/v1/logs/tagvalues?tag=log_level&s=$tsLo&e=$tsHi" +
        "&limit=0")._1 == 200)
    } finally api.stop()
  }

  test("a subquery outside a range function is a type error (400), not a " +
      "MatchError (500)") {
    val api = new HttpApi(spark, metricsDir = Some(metricDir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val ev = graft.model.Tables.events(spark, sf)
        .agg(min(col("ts_ms")), max(col("ts_ms"))).head()
      val (s, e) = (ev.getLong(0), ev.getLong(1) + 1)
      for (q <- Seq("rate(events_value[5m])[30m:1m]",
          "sum(rate(events_value[5m])[30m:1m])")) {
        val (c, b) = get(base, s"/api/v1/metrics/query?q=${enc(q)}&s=$s&e=$e")
        assert(c == 400 && b.contains("range vector"), s"$q: $c ${b.take(200)}")
      }
      // under a range function the same subquery stays a valid query
      val (ok, b) = get(base, "/api/v1/metrics/query?q=" +
        enc("max_over_time(rate(events_value[5m])[30m:1m])") + s"&s=$s&e=$e")
      assert(ok == 200 && b.contains("\"status\":\"ok\""), b.take(200))
    } finally api.stop()
  }
}
