package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.promql.QueryParams

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** HTTP/SSE serving layer — the reference's query front door
  * (`queryapi/querier.go:754-775`) re-expressed over the JDK's built-in
  * `com.sun.net.httpserver` (part of the Java SE API since 9 — zero
  * added dependencies; the JSON payload parser is Jackson, which ships
  * with Spark). One instance wraps a SparkSession plus the segment
  * directories the library front doors already query:
  *
  *  - `GET /healthz`, `GET|POST /api/v1/ping`
  *  - `GET|POST /api/v1/{metrics,logs,spans}/query` — PromQL over metric
  *    segments, LogQL over log or span segments; SSE. One route body for
  *    all three: the request becomes a [[PanelSet]] (`q`, plus `q2`..`q9`
  *    for a multi-panel dashboard) and ONE planner ([[PanelSet.route]])
  *    decides one-shot vs time-sliced, fused vs tagged, and the raw
  *    panels' row budgets
  *  - `GET|POST /api/v1/spans/trace` — one trace's spans by id
  *    ([[SpanSegments.tracesByIds]]; `id` may repeat or be comma-joined)
  *  - discovery: `/api/v1/{logs,metrics,spans}/tags`, `.../tagvalues`,
  *    `/api/v1/logs/series`, `/api/v1/metrics/metadata`,
  *    `/api/v1/services` — JSON arrays ([[Discovery]])
  *  - `GET|POST /api/v1/{promql,logql}/validate` — parse acceptance
  *    without execution
  *
  * SSE contract mirrors `querier.go:100-137`: every event is one
  * `data: {"type": <event>, "data": <payload>}` line followed by a blank
  * line; result rows stream in bounded batches as
  * `{"type":"result","data":{"rows":[...]}}` and the stream closes with
  * `{"type":"done","data":{"status":"ok"|"error", ...}}`. Row JSON is
  * Spark's own `toJSON` encoding, produced through `toLocalIterator` so
  * the driver never holds more than one partition of results — at scale
  * the executor-side query is unchanged and the HTTP layer is a
  * constant-memory relay.
  *
  * Tenant isolation (`org` param) is delegated to the front doors, which
  * prune the org partition key before anything is read. When `apiKeys`
  * is non-empty, the reference's API-key middleware applies
  * (`queryapi/middleware.go:49-110`): every `/api/v1/...` request must
  * present a known key via the `x-cardinalhq-api-key` header, the
  * legacy `Api-Key` header, or the `api_key` cookie — checked in that
  * order — and the key's org REPLACES any client-supplied `org` param,
  * so a tenant cannot query another tenant's partitions by editing a
  * query string. Unknown or missing keys get 401; `/healthz` stays
  * open (reference registers it outside the middleware). The
  * reference's JWT-cookie leg needs its control-plane token service
  * and is out of scope (documented divergence).
  */
final class HttpApi(
    spark: SparkSession,
    logsDir: Option[String] = None,
    metricsDir: Option[String] = None,
    spansDir: Option[String] = None,
    bindPort: Int = 0,
    sseBatchRows: Int = 256,
    apiKeys: Map[String, String] = Map.empty,
    maxSliceRows: Int = 250000) {

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 0)
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  server.setExecutor(pool)

  /** bound port (useful with bindPort = 0 in tests) */
  def port: Int = server.getAddress.getPort

  def start(): HttpApi = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  // ---------------------------------------------------------------- util

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** request params: URL query string overlaid by a JSON object body (the
    * reference accepts both forms — `readQueryPayload`, querier.go:62-97)
    */
  private def params(ex: HttpExchange): Map[String, String] = {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    val fromUrl = Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split('&')).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => dec(k) -> dec(v)
          case Array(k)    => dec(k) -> ""
        }
      }
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val fromBody =
      if (body.trim.startsWith("{")) {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val it = node.fields()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) {
          val f = it.next()
          b += f.getKey -> (if (f.getValue.isTextual) f.getValue.asText()
                            else f.getValue.toString)
        }
        b.result()
      } else Nil
    val authed = Option(ex.getAttribute("graft.org")) match {
      case Some(o: String) => Seq("org" -> o) // middleware wins over client
      case _               => Nil
    }
    (fromUrl ++ fromBody ++ authed).toMap
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Hard cap on rows any [[jsonRows]] route may collect to the driver.
    * The discovery endpoints are bounded by construction, but nothing
    * used to ENFORCE that — a future route wired through jsonRows with an
    * unbounded frame would OOM the driver. Results larger than the cap
    * are truncated and flagged (`"truncated":true`), matching the
    * discovery endpoints' best-effort contract; unbounded results belong
    * on the SSE iterator path.
    */
  val maxJsonRows: Int = 10000

  /** JSON endpoint: rows as a JSON array under "results" (bounded by the
    * front door's own limit/ordering AND the [[maxJsonRows]] guard).
    * `extraJson` is appended verbatim to the envelope (leading comma
    * included) — the discovery routes' tier-plan annotation rides here.
    */
  private def jsonRows(ex: HttpExchange, extraJson: String = "")(
      df: => DataFrame): Unit =
    try {
      // `df` is by-name: the swap retry re-evaluates it, so a request that
      // raced a compaction swap re-plans against the post-swap listing
      // instead of surfacing a spurious 500
      val rows = ScanCache.withSwapRetry(spark, Nil)(
        df.limit(maxJsonRows + 1).toJSON.collect())
      val truncated = rows.length > maxJsonRows
      val kept = if (truncated) rows.take(maxJsonRows) else rows
      val extra = (if (truncated) ""","truncated":true""" else "") + extraJson
      respond(ex, 200,
        s"""{"status":"ok","results":[${kept.mkString(",")}]$extra}""")
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 400, s"""{"status":"error","error":"${esc(e.getMessage)}"}""")
      case e: Throwable =>
        respond(ex, 500, s"""{"status":"error","error":"${esc(String.valueOf(e.getMessage))}"}""")
    }

  /** SSE endpoint: stream result rows in batches, then a done event. The
    * plan executes distributed; `toLocalIterator` relays one partition at
    * a time, so driver memory is bounded by a partition, not the result.
    */
  private def sse(ex: HttpExchange, rowEvent: Option[String] = None)(
      dfArg: => DataFrame): Unit =
    sseSlices(ex, rowEvent)(PanelSet.Plan(Seq(() => dfArg)))

  /** SSE over a [[PanelSet.Plan]]'s ORDERED frames — for a sliced plan the
    * reference's bucket-by-bucket streaming UX
    * (`queryapi/metrics_evaluator.go:61-112` runs one job per time bucket
    * and pushes each bucket's rows as it completes). Every frame is
    * PLANNED before any header goes out, so a parse/compile error is an
    * ordinary 400 (the reference 400s invalid expressions before opening
    * the stream); only runtime failures stream as a done-error event.
    * Each frame then executes as its own Spark job and its rows stream in
    * bounded batches the moment it lands, in plan order, so a 30-day
    * query emits its first slice after one slice-job latency, and the
    * concatenated stream equals the one-shot result. A batch never spans
    * a frame boundary.
    *
    * Budgets: frames map to a group (`groupOf`); a group with a budget (a
    * raw log panel's `limit`) early-exits independently — once spent, the
    * stream trims the current frame, skips the group's remaining frames
    * and cancels their in-flight prefetch — the reference's newest-first
    * early-exit walk: a needle query over 30 days that fills its limit
    * from the first day never touches the other 29. Groups without a
    * budget are unbounded.
    *
    * Swap retry: the build runs the doors' eager driver jobs (listings,
    * the index-exclusion collect, shared materialized passes) over cached
    * listings a concurrent compaction or index rewrite may have replaced.
    * The build and every frame's first job run under ONE retry policy
    * ([[ScanCache.withSwapRetry]]): a retry drops the caches and rebuilds
    * the whole plan from `mk` (by-name) — a captured frame pins its
    * pre-swap snapshot. Once rows are out, a failure is a done-error
    * event and the client retries the request.
    *
    * Event shape: result rows go out in batches of `sseBatchRows` as
    * `result` events; with `rowEvent` set, each row is its own event of
    * that type instead (the reference's summary mode:
    * `{"type":"summary","data":<series summary>}` per series).
    */
  private def sseSlices(ex: HttpExchange, rowEvent: Option[String] = None)(
      mk: => PanelSet.Plan): Unit = {
    val (plan, dfs) = ScanCache.withSwapRetry(spark, Nil) {
      val pl = mk
      (pl, pl.frames.map(_.apply()))
    }
    def onFrame[T](i: Int)(job: DataFrame => T): T = {
      var first = true
      ScanCache.withSwapRetry(spark, Nil) {
        val df = if (first) dfs(i) else mk.frames(i)()
        first = false
        job(df)
      }
    }
    val h = ex.getResponseHeaders
    h.set("Content-Type", "text/event-stream")
    h.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0L) // chunked
    val out = ex.getResponseBody
    def event(json: String): Unit = {
      out.write(("data: " + json + "\n\n").getBytes(UTF_8))
      out.flush()
    }
    // hoisted so the finally can cancel in-flight prefetch work on ANY
    // early exit — budget spent, a slice job failing, or the client
    // disconnecting mid-stream (ADVICE r12: abandoned collect() jobs
    // otherwise keep running on the shared slicePool, holding their rows
    // and starving other streams' slices)
    var sliceFuts: Array[java.util.concurrent.Future[Array[String]]] = null
    var sliceTag: String = null
    try {
      var truncated = false
      val batch = new scala.collection.mutable.ArrayBuffer[String](sseBatchRows)
      def flushBatch(): Unit = if (batch.nonEmpty) {
        rowEvent match {
          case Some(t) => batch.foreach(r => event(s"""{"type":"$t","data":$r}"""))
          case None =>
            event(s"""{"type":"result","data":{"rows":[${batch.mkString(",")}]}}""")
        }
        batch.clear()
      }
      if (dfs.size == 1) {
        // one frame: partition-at-a-time iterator, constant driver memory;
        // the first hasNext runs the first partition's job under the retry
        val it = onFrame(0) { df =>
          val it = df.toJSON.toLocalIterator()
          it.hasNext
          it
        }
        while (it.hasNext) {
          batch += it.next()
          if (batch.size >= sseBatchRows) flushBatch()
        }
        flushBatch()
      } else {
        // Multi-slice: slice jobs PREFETCH concurrently (the reference's
        // ordered coordinator runs one worker job per bucket in parallel
        // and drains results in time order, metrics_evaluator.go:61-112);
        // emission stays strictly ascending. Lookahead is bounded by
        // SlicePrefetch, so driver memory holds at most SlicePrefetch
        // slices (each ~1/K of the full frame) — still far below the
        // one-shot collect the slicing replaced. Wall-clock ≈
        // max(slice) + stream time instead of Σ(slice).
        //
        // Per-slice HARD row cap (`maxSliceRows`, r16 VERDICT #4): raw
        // panels are budget-bounded and metric grids are series×steps-
        // bounded, but a pathological `by (high_card_label)` panel over a
        // long range could otherwise collect an unbounded slice onto the
        // driver heap where the single-frame path's toLocalIterator would
        // not. The prefetch collects cap+1 (the limit also plans a
        // LocalLimit, so executors stop early too); an over-cap slice
        // streams its first cap rows and the stream closes with
        // `"truncated":true` in the done event — the same best-effort
        // contract as [[jsonRows]]. Untruncated streams are unchanged.
        val futs = new Array[java.util.concurrent.Future[Array[String]]](dfs.size)
        val tag = s"graft-sse-${java.util.UUID.randomUUID()}"
        sliceFuts = futs; sliceTag = tag
        val budgets = scala.collection.mutable.Map[Int, Int]() ++ plan.budgets
        val groupOf = plan.groupOf
        def remaining(g: Int): Int = budgets.getOrElse(g, Int.MaxValue)
        def submit(i: Int): Unit = if (i < dfs.size && futs(i) == null &&
            remaining(groupOf(i)) > 0)
          futs(i) = HttpApi.slicePool.submit(
            new java.util.concurrent.Callable[Array[String]] {
              override def call(): Array[String] = {
                // per-slice job group (set on the pool thread, so it tags
                // exactly this slice's Spark jobs): the finally below can
                // cancel the cluster-side work of an abandoned slice, not
                // just its pool task
                val sc = spark.sparkContext
                sc.setJobGroup(s"$tag-$i", "sse slice prefetch",
                  interruptOnCancel = true)
                try onFrame(i)(_.toJSON.limit(maxSliceRows + 1).collect())
                finally sc.clearJobGroup()
              }
            })
        (0 until math.min(HttpApi.SlicePrefetch, dfs.size)).foreach(submit)
        var i = 0
        while (i < dfs.length) {
          val g = groupOf(i)
          if (remaining(g) <= 0) {
            // this group's budget is spent: skip the frame and cancel any
            // prefetch already in flight for it; other groups keep going
            val f = futs(i)
            if (f != null && !f.isDone) {
              f.cancel(true)
              try spark.sparkContext.cancelJobGroupAndFutureJobs(s"$tag-$i")
              catch { case _: Throwable => () }
            }
            futs(i) = null
          } else {
            submit(i)
            submit(i + HttpApi.SlicePrefetch)
            // unwrap the executor's ExecutionException: the done-error
            // event should carry the Spark failure, not the wrapper
            val rows =
              try futs(i).get()
              catch {
                case e: java.util.concurrent.ExecutionException =>
                  throw Option(e.getCause).getOrElse(e)
              }
            futs(i) = null // free the slice as soon as it is streamed
            if (rows.length > maxSliceRows) truncated = true
            val take = math.min(math.min(rows.length, maxSliceRows), remaining(g))
            var r = 0
            while (r < take) {
              batch += rows(r)
              if (batch.size >= sseBatchRows) flushBatch()
              r += 1
            }
            if (budgets.contains(g)) budgets(g) = remaining(g) - take
            flushBatch() // slice boundary: emit what this slice produced
          }
          i += 1
        }
      }
      event(if (truncated)
        """{"type":"done","data":{"status":"ok","truncated":true}}"""
      else """{"type":"done","data":{"status":"ok"}}""")
    } catch {
      case e: Throwable =>
        event(s"""{"type":"done","data":{"status":"error","error":"${esc(String.valueOf(e.getMessage))}"}}""")
    } finally {
      // reap whatever prefetch is still in flight: cancel the pool task
      // AND the tagged Spark jobs of every slice that never streamed.
      // AndFutureJobs closes the race where the Callable has started but
      // not yet submitted its collect job — a plain cancelJobGroup fired
      // in that window cancels nothing and the late-submitted job would
      // run to completion cluster-side (r13 review find); the
      // future-jobs variant marks the (UUID-unique) group so the late
      // submission is cancelled on arrival.
      if (sliceFuts != null) {
        var j = 0
        while (j < sliceFuts.length) {
          val f = sliceFuts(j)
          if (f != null && !f.isDone) {
            f.cancel(true)
            try spark.sparkContext.cancelJobGroupAndFutureJobs(s"$sliceTag-$j")
            catch { case _: Throwable => () }
          }
          j += 1
        }
      }
      ex.close()
    }
  }

  /** per-series aggregate stats over a (ts, value, labels…) result frame —
    * the reference's summary mode (`handlePromQuerySummary`,
    * `evaluateMetricsSummaryLegacy`: run the query, aggregate per series)
    */
  private def seriesSummary(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val labels = df.schema.fieldNames.filterNot(Set("ts", "value").contains).toSeq
    val base = df.filter(!isnan(col("value")))
    val aggs = Seq(min(col("value")).as("min"), max(col("value")).as("max"),
      avg(col("value")).as("avg"), sum(col("value")).as("sum"),
      count(col("value")).as("count"))
    if (labels.isEmpty) base.agg(aggs.head, aggs.tail: _*)
    else base.groupBy(labels.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def need(p: Map[String, String], k: String): String =
    p.getOrElse(k, throw new IllegalArgumentException(s"missing required param: $k"))
  /** a `limit` param, `default` when absent; a negative or non-numeric
    * limit is a client error (400), not a failed Spark analysis (500)
    */
  private def limitParam(v: Option[String], default: Int): Int =
    v.fold(default) { s =>
      val n = s.toInt
      require(n >= 0, s"limit must be >= 0, got $n")
      n
    }
  private def tsRange(p: Map[String, String]): (Long, Long) =
    (need(p, "s").toLong, need(p, "e").toLong)
  private def needDir(o: Option[String], signal: String): String =
    o.getOrElse(throw new IllegalArgumentException(s"no $signal segment dir configured"))

  /** a discovery-grade segment scan: partition keys pruned (org equality,
    * dateint range) before the read, each in-window day read from its
    * COARSEST PRESENT tier — rolled days cost ~1/360th of their rows and
    * a day whose rollup hasn't run yet stays visible from the finest
    * tier that exists for it (r16 VERDICT #2: the previous dir-wide
    * coarsest-tier pin made freshly-ingested labels invisible to
    * tags/tagvalues/series until the rollup job landed). One shared
    * implementation with the catalog's oracle-gated discovery rows:
    * [[Discovery.segmentScan]].
    */
  private def segScan(dir: String, s: Long, e: Long,
      org: Option[String]): DataFrame =
    Discovery.segmentScan(spark, dir, s, e, org)

  /** the tier plan as a response annotation: which rollup tier each
    * in-window day was read from (r17 VERDICT next-round #5 — when
    * rollups lag, discovery silently reads the full-resolution tier;
    * correct, 360x the rows; operators need to SEE that, not
    * reverse-engineer it from latency). Emitted only when a tier choice
    * happened at all, so log/span stores (no freq dimension) and flat
    * layouts add zero bytes.
    */
  private def planJson(plan: Option[Discovery.ScanPlan]): String =
    plan match {
      case None => ""
      case Some(pl) =>
        val perDay = pl.perDay.toSeq.sorted
          .map { case (d, t) => s""""$d":$t""" }.mkString(",")
        val pin = pl.pinned.map(t => s""","tier_pin":$t""").getOrElse("")
        s""","tier_plan":{$perDay}$pin"""
    }

  private def labelCols(df: DataFrame): Seq[String] =
    df.schema.fieldNames.filterNot(graft.logql.LogStore.systemCols.contains).toSeq

  /** metric label columns are prefix-namespaced (cooked contract); the
    * chq_* rollup/system columns are never tags
    */
  private def metricLabelCols(df: DataFrame): Seq[String] =
    df.schema.fieldNames.filter(n => n.startsWith("attr_") ||
      n.startsWith("resource_") || n.startsWith("scope_")).toSeq

  /** reference extractAPIKey order: primary header, legacy header,
    * api_key cookie */
  private def extractApiKey(ex: HttpExchange): Option[String] = {
    val h = ex.getRequestHeaders
    Option(h.getFirst("x-cardinalhq-api-key")).filter(_.nonEmpty)
      .orElse(Option(h.getFirst("Api-Key")).filter(_.nonEmpty))
      .orElse {
        import scala.jdk.CollectionConverters._
        Option(h.get("Cookie")).toSeq.flatMap(_.asScala)
          .flatMap(_.split(';')).map(_.trim)
          .collectFirst { case c if c.startsWith("api_key=") =>
            c.stripPrefix("api_key=") }
          .filter(_.nonEmpty)
      }
  }

  /** resolve the tenant for this request, or respond 401 and return None.
    * Open instances (no keys configured) pass through untouched.
    */
  private def authOrg(ex: HttpExchange): Option[Option[String]] =
    if (apiKeys.isEmpty) Some(None)
    else extractApiKey(ex) match {
      case None =>
        respond(ex, 401,
          """{"status":"error","error":"authentication required (provide API key)"}""")
        None
      case Some(k) => apiKeys.get(k) match {
        case None =>
          respond(ex, 401, """{"status":"error","error":"invalid API key"}""")
          None
        case Some(org) => Some(Some(org))
      }
    }

  private def handle(path: String)(f: HttpExchange => Unit): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      try {
        if (path == "/healthz") f(ex)
        else authOrg(ex).foreach { org =>
          org.foreach(o => ex.setAttribute("graft.org", o))
          f(ex)
        }
      }
      catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"status":"error","error":"${esc(String.valueOf(e.getMessage))}"}""")
        case e: Throwable =>
          respond(ex, 500, s"""{"status":"error","error":"${esc(String.valueOf(e.getMessage))}"}""")
      })

  // -------------------------------------------------------------- routes

  handle("/healthz")(ex => respond(ex, 200, """{"status":"ok"}"""))
  handle("/api/v1/ping")(ex => respond(ex, 200, """{"status":"ok","message":"pong"}"""))
  handle("/api/v1/features") { ex =>
    // feature discovery (reference handleFeatures): which signals this
    // instance serves plus the always-on query capabilities
    val signals = Seq("logs" -> logsDir, "metrics" -> metricsDir,
      "spans" -> spansDir).collect { case (n, Some(_)) => "\"" + n + "\"" }
    respond(ex, 200,
      s"""{"signals":[${signals.mkString(",")}],""" +
        """"promql":true,"logql":true,"sse":true,"summary":true,""" +
        """"multi":true,"tagged":true,"multi_mixed":true}""")
  }

  /** ONE query route per signal, one body for all three: the request
    * becomes a [[PanelSet]] (`q` plus optional `q2`..`q9` panels named
    * `value`, `value2`, ..) and streams [[PanelSet.plan]]'s frames. Params:
    * `s`, `e`, `org`; log-style signals add `limit`, `order`, `fields`;
    * metrics add `tagged` (force the uniform tagged shape), `fresh`
    * (DEFAULT true since r18: the tier fresh-tail union — on a settled
    * store scan- and bit-identical to the plain one-frequency scan;
    * `fresh=false` opts back into the strict scan) and `summary`
    * (single-panel: one per-series summary event per series).
    */
  Seq(PanelSet.Metrics -> metricsDir, PanelSet.Logs -> logsDir,
      PanelSet.Spans -> spansDir).foreach { case (signal, dirOpt) =>
    handle(s"/api/v1/${signal.name}/query") { ex =>
      val p = params(ex)
      val (s, e) = tsRange(p)
      val dir = needDir(dirOpt, signal.name)
      val logStyle = signal != PanelSet.Metrics
      def logParam(k: String) = p.get(k).filter(_ => logStyle)
      val ps = PanelSet(signal,
        ("value" -> need(p, "q")) +: (2 to 9).flatMap(i => p.get(s"q$i").map(s"value$i" -> _)),
        s, e, p.get("org"),
        limit = limitParam(logParam("limit"), 1000),
        desc = !logParam("order").contains("asc"),
        fields = logParam("fields").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
        tagged = p.get("tagged").contains("true"),
        fresh = !p.get("fresh").contains("false"))
      if (!logStyle && ps.panels.size == 1 && p.get("summary").contains("true"))
        sse(ex, Some("summary"))(seriesSummary(MetricSegments.query(spark,
          dir, ps.panels.head._2, s, e, ps.org, ps.fresh)))
      else sseSlices(ex)(PanelSet.plan(spark, dir, ps))
    }
  }

  handle("/api/v1/spans/trace") { ex =>
    val p = params(ex)
    val (s, e) = tsRange(p)
    val ids = need(p, "id").split(',').toSeq.filter(_.nonEmpty)
    sse(ex)(SpanSegments.tracesByIds(spark, needDir(spansDir, "spans"), ids,
      QueryParams(s, e, StepPolicy.paramsFor(s, e).stepMs), p.get("org")))
  }

  private def tagRoutes(signal: String, dirOf: () => String,
      labelsOf: DataFrame => Seq[String] = labelCols): Unit = {
    handle(s"/api/v1/$signal/tags") { ex =>
      val p = params(ex)
      val (s, e) = tsRange(p)
      val (scan, plan) = Discovery.segmentScanWithPlan(spark, dirOf(), s, e,
        p.get("org"))
      jsonRows(ex, planJson(plan)) {
        Discovery.tagNames(scan, labelsOf(scan), s, e)
      }
    }
    handle(s"/api/v1/$signal/tagvalues") { ex =>
      val p = params(ex)
      val (s, e) = tsRange(p)
      val (scan0, plan) = Discovery.segmentScanWithPlan(spark, dirOf(), s, e,
        p.get("org"))
      jsonRows(ex, planJson(plan)) {
        var scan = scan0
        // metric scoping (the reference's per-metric tag values form)
        for (m <- p.get("metric")
             if scan.schema.fieldNames.contains("metric_name"))
          scan = scan.filter(col("metric_name") === m)
        Discovery.tagValues(scan, need(p, "tag"), s, e,
          limit = limitParam(p.get("limit"), 1000))
      }
    }
  }
  tagRoutes("logs", () => needDir(logsDir, "logs"))
  tagRoutes("metrics", () => needDir(metricsDir, "metrics"), metricLabelCols)
  tagRoutes("spans", () => needDir(spansDir, "spans"))

  handle("/api/v1/logs/series") { ex =>
    val p = params(ex)
    val (s, e) = tsRange(p)
    jsonRows(ex) {
      val scan = segScan(needDir(logsDir, "logs"), s, e, p.get("org"))
      val labels = p.get("labels").map(_.split(',').toSeq.filter(_.nonEmpty))
        .getOrElse(labelCols(scan))
      Discovery.series(scan, labels, s, e,
        limit = limitParam(p.get("limit"), 10000))
    }
  }

  handle("/api/v1/metrics/metadata") { ex =>
    val p = params(ex)
    val (s, e) = tsRange(p)
    jsonRows(ex) {
      var scan = segScan(needDir(metricsDir, "metrics"), s, e, p.get("org"))
      // written segments carry no metric-type column (the cooked rollup
      // contract); metadata still lists names + datapoint counts
      if (!scan.schema.fieldNames.contains("chq_metric_type"))
        scan = scan.withColumn("chq_metric_type",
          org.apache.spark.sql.functions.lit(null).cast("string"))
      Discovery.metricMetadata(scan, s, e)
    }
  }

  handle("/api/v1/services") { ex =>
    val p = params(ex)
    val (s, e) = tsRange(p)
    jsonRows(ex)(Discovery.services(
      segScan(needDir(logsDir, "logs"), s, e, p.get("org")), s, e))
  }

  private def validateRoute(path: String, check: String => Either[String, Unit]): Unit =
    handle(path) { ex =>
      check(need(params(ex), "q")) match {
        case Right(()) => respond(ex, 200, """{"valid":true}""")
        case Left(err) => respond(ex, 200,
          s"""{"valid":false,"error":"${esc(err)}"}""")
      }
    }
  validateRoute("/api/v1/promql/validate", Discovery.validatePromQL)
  validateRoute("/api/v1/logql/validate", Discovery.validateLogQL)
}

object HttpApi {
  /** max slice frames in flight per stream (and at rest in driver
    * memory) for the ordered multi-slice SSE path
    */
  val SlicePrefetch = 3

  /** shared daemon pool for slice prefetch across all HttpApi instances —
    * bounded so N concurrent streaming clients cannot fork N×K Spark
    * action threads (jobs still share the session's scheduler)
    */
  lazy val slicePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(4,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"sse-slice-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
}
