package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check, Parameters}

/** Property-based invariants for the pure kernels every query path leans
  * on: fingerprint hashing, trigram extraction, template normalization,
  * and parser totality (arbitrary garbage must yield Left, never throw).
  */
class PropertySpec extends AnyFunSuite {

  private def holds(p: Prop, n: Int = 200): Unit = {
    val r = check(Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '=', '"', '.', '-', ':')))
      .map(_.mkString)

  test("CountMin: estimate >= exact, merge commutes/associates, serde total") {
    import graft.sketch.CountMin
    val streamGen = Gen.listOf(Gen.chooseNum(0, 60).map(i => s"k$i"))
    holds(forAll(streamGen) { vals =>
      val a = new CountMin(3, 64)
      vals.foreach(a.add(_))
      val exact = vals.groupBy(identity).view.mapValues(_.size.toLong)
      val over = exact.forall { case (k, n) => a.estimate(k) >= n }
      // split anywhere: (x ++ y) == merge(x, y) == merge(y, x), cell-exact
      val cut = vals.length / 2
      val x = new CountMin(3, 64); vals.take(cut).foreach(x.add(_))
      val y = new CountMin(3, 64); vals.drop(cut).foreach(y.add(_))
      val xy = CountMin.deserialize(x.serialize()).merge(y)
      val yx = CountMin.deserialize(y.serialize()).merge(x)
      over &&
        java.util.Arrays.equals(xy.serialize(), a.serialize()) &&
        java.util.Arrays.equals(yx.serialize(), a.serialize())
    }, n = 100)
    // corrupted bytes reject cleanly (exception, not a JVM fault)
    val good = { val s = new CountMin(2, 8); s.add("x"); s.serialize() }
    for (i <- good.indices by 7) {
      val bad = good.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      try { CountMin.deserialize(bad); () } catch { case _: Exception => () }
    }
  }

  test("chunk: full word coverage and exact overlap between neighbors") {
    import graft.ops.Packing
    val spark = TestSpark.spark
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      mw <- Gen.chooseNum(2, 12)
      ov <- Gen.chooseNum(0, mw - 1)
    } yield (n, mw, ov)
    holds(forAll(gen) { case (n, mw, ov) =>
      val words = (1 to n).map(i => s"w$i")
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val chunks = Packing.chunk(df, "doc_id", "text", mw, ov)
        .orderBy("chunk_idx").collect().map(_.getString(2).split(" ").toSeq)
      // every word appears in at least one chunk, in order
      val covered = chunks.toSeq.flatten.distinct == words
      // neighbors share exactly the overlap (unless the tail is shorter)
      val overlapOk = chunks.toSeq.sliding(2).forall {
        case Seq(a, b) => b.startsWith(a.takeRight(ov))
        case _ => true
      }
      covered && overlapOk
    }, n = 60)
  }

  test("hash48 is stable and 48-bit for arbitrary input") {
    import graft.ingest.{FingerprintIndex => FI}
    holds(forAll(asciiText) { s =>
      val h = FI.hash48(s)
      h == FI.hash48(s) && h >= 0L && h < (1L << 48)
    })
    // exists/exact/sentinel namespaces stay apart for the same name
    assert(Set(FI.existsFp("log_level"), FI.fingerprint("log_level", "x"),
      FI.sentinelFp("log_level")).size == 3)
  }

  test("trigrams: count, width, and containment invariants") {
    import graft.ingest.{FingerprintIndex => FI}
    holds(forAll(asciiText) { s =>
      val t = FI.trigrams(s)
      val expectedMax = math.max(0, s.length - 2)
      t.size <= expectedMax &&
        t.forall(_.length == 3) &&
        t.forall(s.contains(_)) &&
        (s.length < 3) == t.isEmpty
    })
  }

  test("template normalization is idempotent") {
    import graft.ingest.LogFingerprint
    import spark_helpers._
    // each sample evaluates the Column on a tiny local relation → keep the
    // sample count modest
    holds(forAll(asciiText.suchThat(_.length < 200)) { s =>
      val once = templateOf(s)
      templateOf(once) == once
    }, n = 40)
  }

  test("pruning containment: every leaf's raw read window sits inside the " +
      "walker-derived windows, for arbitrary offset/pin/subquery shapes") {
    import graft.promql._
    // The segment front door prunes the scan to windows derived from the
    // PURE walkers (Ast.lookbackMs / forwardMs / pinWindowsMs + max-step
    // alignment slack). This property replays the ENGINE's actual leaf
    // read-window arithmetic (leafBucketed effStart/effEnd, pinToGrid
    // down-alignment, subqueryWindow's shifted inner params) for randomly
    // generated expression shapes and asserts ms-level containment — a
    // walker that under-prices any shape (the r15 enumerated-walker bug
    // class, the r16 negative-offset/pin holes, the subquery-step
    // alignment corner this test caught pre-ship) fails here without
    // needing a segment fixture per shape.
    def alignedStart(p: QueryParams): Long = p.startMs - p.startMs % p.stepMs
    def reads(e: Expr, p: QueryParams): Seq[(Long, Long)] = e match {
      case s: Selector =>
        if (s.atKind == 0) {
          Seq((p.startMs - s.rangeMs - s.offsetMs, p.endMs - s.offsetMs))
        } else {
          val te = s.atKind match {
            case 1 => s.atMs
            case 2 => p.startMs
            case _ => p.endMs
          }
          val teA = te - te % p.stepMs
          reads(s.copy(atKind = 0), QueryParams(teA, teA + p.stepMs, p.stepMs))
        }
      case Subquery(arg, r, st, off) =>
        val istep = if (st > 0) st else p.stepMs
        reads(arg, QueryParams(alignedStart(p) - r - off, p.endMs - off, istep))
      case other => Ast.children(other).flatMap(c => reads(c, p))
    }
    val step = 3600000L
    val start = 1704067200000L // step-aligned, the door contract (paramsFor)
    val p = QueryParams(start, start + 3L * 86400000L, step)
    val durGen = Gen.oneOf(0L, 60000L, 600000L, 3600000L, 4L * 3600000L,
      26L * 3600000L)
    val offGen = Gen.oneOf(0L, 60000L, 7200000L, 86400000L,
      -60000L, -7200000L, -86400000L)
    val selGen = for {
      range <- durGen
      off <- offGen
      sub <- Gen.oneOf(0L, 60000L, 7200000L) // sub-step may EXCEED p.step
      atKind <- Gen.oneOf(0, 0, 1, 2, 3) // unpinned twice as likely
      atMs <- Gen.chooseNum(start - 30L * 86400000L, p.endMs + 30L * 86400000L)
    } yield Selector("m", Nil, range, off, sub, atKind, atMs)
    val exprGen: Gen[Expr] = selGen.flatMap { s =>
      Gen.oneOf(
        Gen.const(s: Expr),
        Gen.const(Agg("sum", s.copy(rangeMs = 0L), Nil, Nil, None): Expr),
        Gen.const(RangeFn("sum_over_time",
          s.copy(rangeMs = math.max(s.rangeMs, 60000L))): Expr),
        for { // fn over an expression subquery, signed subquery offset
          r2 <- durGen.suchThat(_ > 0)
          st2 <- Gen.oneOf(0L, 600000L, 7200000L)
          off2 <- offGen
        } yield RangeFn("max_over_time",
          Subquery(s.copy(rangeMs = 0L, subStepMs = 0L), r2, st2, off2)): Expr)
    }
    holds(forAll(exprGen) { e =>
      val look = Ast.lookbackMs(e)
      val fwd = Ast.forwardMs(e)
      val sels = Ast.selectors(e)
      def allNodes(x: Expr): Seq[Expr] = x +: Ast.children(x).flatMap(allNodes)
      val subSteps = allNodes(e).collect { case s: Subquery => s.stepMs }
      val maxStep = ((p.stepMs +: sels.map(_.subStepMs)) ++ subSteps).max
      val pad =
        if (sels.exists(s => s.atKind == 2 || s.atKind == 3)) 2L * maxStep else 0L
      val covers: Seq[(Long, Long)] =
        (p.startMs - look - pad, p.endMs + fwd + pad) +:
          Ast.pinWindowsMs(e).map { case (lo, hi) => (lo - maxStep, hi + maxStep) }
      val doorOk = reads(e, p).forall { case (lo, hi) =>
        covers.exists { case (clo, chi) => clo <= lo && hi <= chi }
      }
      // the tagged multi door's per-selector prefilter windows
      // (Engine.selectorWindows) must cover the same leaf reads — every
      // generated selector carries metric "m", so any window of the set
      // may cover (the metric conjunct matches)
      val pre = Engine.selectorWindows(Seq(e), p)
      val preOk = reads(e, p).forall { case (lo, hi) =>
        pre.exists { case (_, clo, chi) => clo <= lo && hi <= chi }
      }
      doorOk && preOk
    }, n = 3000)
  }

  test("tier fresh-bound containment: every sample exactly once; misses " +
      "only in the documented un-watermarked half-day") {
    // Simulated rollup state, replaying the door's split arithmetic
    // (TierFreshness.freshBoundMs) against ground truth: the base tier
    // holds EVERY sample; the coarse tier reflects exactly those with
    // ts < C (the true rolled-through point, which only the rollup job
    // knows); partitions — hence the day-granular bound — derive from
    // the rolled rows; an honest watermark is any W ≤ C. The union must
    // never count a sample twice, be EXACT whenever rollups land whole
    // days (this repo's two rollup paths) or a watermark is recorded,
    // and mis-serve at most the [C, dayEnd(day(C))) half-day tail when
    // neither holds — the contract TierFreshness documents.
    import graft.api.TierFreshness
    val day = 86400000L
    val day0 = 1704067200000L
    val tiers = graft.ingest.MetricsPreAgg.RollupChainMs.filter(_ > 10000L)
    val gen = for {
      t <- Gen.oneOf(tiers)
      nDays <- Gen.choose(1, 7)
      ts <- Gen.nonEmptyListOf(Gen.choose(0L, nDays * day - 1)).map(_.map(day0 + _))
      // true rolled-through point: day-aligned half the time (batch
      // chain), arbitrary otherwise (mid-batch / partial)
      dayAligned <- Gen.oneOf(true, false)
      cRaw <- Gen.choose(0L, nDays * day)
      c = if (dayAligned) cRaw - cRaw % day else cRaw
      // honest watermark ≤ C, sometimes absent
      wm <- Gen.option(Gen.choose(0L, math.max(0L, c)))
    } yield (t, ts, day0 + c, wm.map(day0 + _), dayAligned)
    holds(forAll(gen) { case (t, ts, c, wm, dayAligned) =>
      val rolled = ts.filter(_ < c)
      if (rolled.isEmpty) true // no partitions: door reads base-everything
      else {
        val hwmDate = graft.api.StepPolicy.dateintOf(rolled.max)
        val b = TierFreshness.freshBoundMs(hwmDate, wm, t)
        // a sample is served by the coarse branch iff its bucket is below
        // the bound AND the rollup reflected it; by the base branch iff
        // ts >= bound
        def viaCoarse(r: Long) = (r - r % t) < b && r < c
        def viaBase(r: Long) = r >= b
        val dupes = ts.count(r => viaCoarse(r) && viaBase(r))
        val missed = ts.filter(r => !viaCoarse(r) && !viaBase(r))
        val exactExpected = dayAligned || wm.isDefined
        dupes == 0 &&
          (if (exactExpected) missed.isEmpty
           else missed.forall(r => r >= c &&
             r < TierFreshness.dayEndMs(graft.api.StepPolicy.dateintOf(c))))
      }
    }, n = 3000)
  }

  test("batch-maintenance watermark: W = maxRolled+1 makes the union " +
      "EXACT at every partial-ingest point; dropping the stamp (or " +
      "writing partial days) is detectably lossy") {
    // Models graft.ingest.MetricsPreAgg.maintainRollupsBatch: the job
    // rolls EVERY ingested base row (C = maxIngested + 1) and stamps
    // W = C. Ground truth: samples keep arriving after the run. The
    // union must serve every sample exactly once with the stamp; and if
    // a rollup path STOPPED stamping while rolling partial days, the
    // day-granular bound over-claims — the property asserts that loss is
    // real (non-empty misses whenever post-C samples share C's day), so
    // a regression of either side of the whole-day/stamp contract fails
    // here, not in production.
    import graft.api.TierFreshness
    val day = 86400000L
    val day0 = 1704067200000L
    val tiers = graft.ingest.MetricsPreAgg.RollupChainMs.filter(_ > 10000L)
    val gen = for {
      t <- Gen.oneOf(tiers)
      nDays <- Gen.choose(1, 7)
      ts <- Gen.nonEmptyListOf(Gen.choose(0L, nDays * day - 1)).map(_.map(day0 + _))
      ingestPoint <- Gen.choose(0L, nDays * day - 1)
    } yield (t, ts, day0 + ingestPoint)
    holds(forAll(gen) { case (t, ts, ip) =>
      val rolled = ts.filter(_ <= ip)
      if (rolled.isEmpty) true // nothing ingested at run time: no tier dirs
      else {
        val c = rolled.max + 1 // the batch run's claim: every row < C rolled
        val hwmDate = graft.api.StepPolicy.dateintOf(rolled.max)
        def served(b: Long)(r: Long): Int =
          (if ((r - r % t) < b && r < c) 1 else 0) + (if (r >= b) 1 else 0)
        // stamped (what maintainRollupsBatch does): exact, always
        val bStamped = TierFreshness.freshBoundMs(hwmDate, Some(c), t)
        val exact = ts.forall(r => served(bStamped)(r) == 1)
        // un-stamped on the same state: the day bound over-claims C's day;
        // any sample in [C, dayEnd(day(C))) is lost — and ONLY those
        val bDay = TierFreshness.freshBoundMs(hwmDate, None, t)
        val missed = ts.filter(r => served(bDay)(r) == 0)
        val dupes = ts.count(r => served(bDay)(r) > 1)
        val tail = ts.filter(r => r >= c && r < TierFreshness.dayEndMs(hwmDate))
        exact && dupes == 0 && missed == tail
      }
    }, n = 3000)
  }

  test("LogQL parser is total: arbitrary input never throws") {
    holds(forAll(Gen.asciiPrintableStr) { s =>
      graft.logql.Parser.parseFull(s)
      true // reaching here (Left or Right, no exception) is the property
    })
  }

  test("PromQL parser is total: arbitrary input never throws") {
    holds(forAll(Gen.asciiPrintableStr) { s =>
      graft.promql.Parser.parse(s)
      true
    })
  }

  test("wire decoder is total on garbage: clean error or result, never a crash class") {
    import graft.ingest.OtelProto
    val bytesGen = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    holds(forAll(bytesGen) { bs =>
      def ok(f: => Any): Boolean =
        try { f; true }
        catch { case _: IllegalArgumentException => true } // the designed failure mode
      ok(OtelProto.parseLogs(bs)) && ok(OtelProto.parseMetrics(bs)) &&
        ok(OtelProto.parseHistograms(bs)) && ok(OtelProto.parseExpoHistograms(bs)) &&
        ok(OtelProto.parseSummaries(bs)) && ok(OtelProto.parseExemplars(bs)) &&
        ok(OtelProto.parseSpans(bs))
    }, n = 300)
    // mutated VALID messages (bit flips in real structure) must also fail cleanly
    val valid = OtelProto.Encode.logsData(Seq("a" -> "b"), "s",
      Seq(OtelProto.Encode.logRecord(1L, 9, "INFO", "hello world", Seq("k" -> "v"))))
    holds(forAll(Gen.choose(0, valid.length - 1), Gen.choose(0, 7)) { (i, bit) =>
      val m = valid.clone()
      m(i) = (m(i) ^ (1 << bit)).toByte
      try { OtelProto.parseLogs(m); true }
      catch { case _: IllegalArgumentException => true }
    }, n = 300)
  }

  test("OTLP envelope: every record keeps its own resource and scope, " +
      "whatever the field order") {
    import graft.ingest.OtelProto
    import graft.ingest.OtelProto.Encode._
    // a document: resources of (resource field first?, scopes), scopes of
    // (scope field first?, record kinds); kind 0 gauge, 1 monotonic sum,
    // 2 histogram, 3 exponential histogram, 4 summary (metrics only)
    val scopeGen = for {
      first <- Gen.oneOf(true, false)
      n <- Gen.choose(0, 4)
      kinds <- Gen.listOfN(n, Gen.choose(0, 4))
    } yield (first, kinds)
    val resourceGen = for {
      first <- Gen.oneOf(true, false)
      n <- Gen.choose(1, 3)
      scopes <- Gen.listOfN(n, scopeGen)
    } yield (first, scopes)
    val docGen = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, resourceGen))

    def metric(kind: Int, i: Long): Array[Byte] = {
      val ex = Seq(exemplar(i, i.toDouble, f"$i%032x", f"$i%016x"))
      val name = s"m$i"
      kind match {
        case 0 => gaugeMetric(name, Seq(numberDp(i, i.toDouble, Nil, ex)))
        case 1 => sumMetric(name, monotonic = true, Seq(numberDp(i, i.toDouble, Nil, ex)))
        case 2 => histogramMetric(name,
          Seq(histogramDp(i, 1L, 1.0, 1.0, 1.0, Seq(1L), Nil, Nil, ex)))
        case 3 => expoHistogramMetric(name,
          Seq(expoHistogramDp(i, 1L, 1.0, 1.0, 1.0, 0, 0L, 0, Seq(1L), Nil)))
        case _ => summaryMetric(name, Seq(summaryDp(i, 1L, 1.0, Seq(0.5 -> 1.0), Nil)))
      }
    }
    def kvs(field: Int, attrs: Map[String, String]): Array[Byte] =
      attrs.toSeq.flatMap { case (k, v) => ld(field, kv(k, v)) }.toArray

    holds(forAll(docGen) { doc =>
      // the document, and its records in document order as (id, kind,
      // resource attrs, scope name, scope attrs)
      def build(record: (Int, Long) => Array[Byte])
          : (Array[Byte], Seq[(Long, Int, Map[String, String], String, Map[String, String])]) = {
        var i = 0L
        val expected = Seq.newBuilder[(Long, Int, Map[String, String], String, Map[String, String])]
        val bytes = doc.zipWithIndex.flatMap { case ((resFirst, scopes), ri) =>
          val resAttrs = Map("rk" -> s"r$ri")
          val resource = ld(1, kvs(1, resAttrs))
          val scopeMsgs = scopes.zipWithIndex.flatMap { case ((scopeFirst, kinds), si) =>
            val (name, attrs) = (s"s$ri.$si", Map("sk" -> s"a$ri.$si"))
            val scope = ld(1, str(1, name) ++ kvs(3, attrs))
            val records = kinds.flatMap { k =>
              i += 1
              expected += ((i, k, resAttrs, name, attrs))
              ld(2, record(k, i))
            }.toArray
            ld(2, if (scopeFirst) scope ++ records else records ++ scope)
          }.toArray
          ld(1, if (resFirst) resource ++ scopeMsgs else scopeMsgs ++ resource)
        }.toArray
        (bytes, expected.result())
      }
      val (logs, exp) = build((_, i) => logRecord(i, 9, "INFO", s"b$i", Nil))
      val (traces, _) = build((_, i) =>
        span(f"$i%032x", f"$i%016x", "", s"op$i", 1, i, i + 1, 0, "", Nil))
      val (metrics, _) = build(metric)
      def only(kinds: Int*) = exp.filter(e => kinds.contains(e._2))
        .map { case (id, _, r, sn, sa) => (id, s"m$id", r, sn, sa) }

      OtelProto.parseLogs(logs)
        .map(l => (l.timeUnixNano, l.body, l.resourceAttrs, l.scopeName, l.scopeAttrs)) ==
        exp.map { case (id, _, r, sn, sa) => (id, s"b$id", r, sn, sa) } &&
      OtelProto.parseSpans(traces)
        .map(s => (s.startUnixNano, s.name, s.resourceAttrs, s.scopeName, s.scopeAttrs)) ==
        exp.map { case (id, _, r, sn, sa) => (id, s"op$id", r, sn, sa) } &&
      OtelProto.parseMetrics(metrics)
        .map(m => (m.timeUnixNano, m.metricName, m.resourceAttrs, m.scopeName, m.scopeAttrs)) ==
        only(0, 1) &&
      OtelProto.parseMetrics(metrics).map(_.metricType) ==
        exp.collect { case e if e._2 == 0 => "gauge"; case e if e._2 == 1 => "count" } &&
      OtelProto.parseHistograms(metrics)
        .map(h => (h.timeUnixNano, h.metricName, h.resourceAttrs, h.scopeName, h.scopeAttrs)) ==
        only(2) &&
      OtelProto.parseExpoHistograms(metrics)
        .map(h => (h.timeUnixNano, h.metricName, h.resourceAttrs, h.scopeName, h.scopeAttrs)) ==
        only(3) &&
      OtelProto.parseSummaries(metrics)
        .map(s => (s.timeUnixNano, s.metricName, s.resourceAttrs, s.scopeName, s.scopeAttrs)) ==
        only(4) &&
      OtelProto.parseExemplars(metrics)
        .map(x => (x.timeUnixNano, x.metricName, x.resourceAttrs, x.scopeName, x.scopeAttrs)) ==
        only(0, 1, 2) &&
      OtelProto.parseExemplars(metrics).map(x => (x.metricType, x.traceId, x.spanId)) ==
        exp.filter(_._2 <= 2).map { case (id, k, _, _, _) =>
          (Seq("gauge", "sum", "histogram")(k), f"$id%032x", f"$id%016x") }
    }, n = 200)
  }

  test("valid queries keep parsing after random whitespace padding") {
    val qs = Seq(
      """sum by (attr_event_type) (rate(events_value[4h]))""",
      """topk(3, sum by (a) (m))""",
      """{log_level="ERROR"} |= "x" | logfmt | dur > 250ms""",
      // round-6 surface: group modifiers, @, expression subqueries,
      // count_values, Inf literals, ip()
      """m1 * on(k) group_left(info) m2""",
      """max_over_time(rate(m[4h])[1d:4h])""",
      """count_values("v", round(m * 100)) by (a)""",
      """clamp(m @ start(), -Inf, 3)""",
      """double_exponential_smoothing(m[1h], 0.3, 0.6)""",
      """histogram_fraction(1, 50, m)""",
      """{log_level="INFO"} |= ip("10.0.0.0/9") | logfmt | src = ip("10.1.2.3-10.1.2.9")""",
      // round-6 late surface: experimental aggs/fns, classic histograms,
      // pattern line filters, unpack/distinct
      """limitk(5, m) by (a)""",
      """limit_ratio(-0.25, m)""",
      """sort_by_label_desc(m, "a", "b")""",
      """mad_over_time(m[30m])""",
      """ts_of_max_over_time(m[1h]) - ts_of_min_over_time(m[1h])""",
      """histogram_quantile(0.9, sum by (le) (rate(m_bucket[5m])))""",
      """{log_level="DEBUG"} |> "GET <_> took <_>ms" !> "<_>error<_>" """,
      """{log_level="INFO"} | unpack | svc = "api" | distinct svc""",
      """{log_level="INFO"} | json | __error__ = "" """,
      "{log_level=\"INFO\"} | label_format x=`{{.__line__ | trunc 5 | upper}}`, " +
        "y=`{{.svc | replace \"a|b\" \"c\" | default \"none\"}}`")
    holds(forAll(Gen.oneOf(qs), Gen.choose(0, 5), Gen.choose(0, 5)) { (q, l, r) =>
      val padded = (" " * l) + q + (" " * r)
      if (q.startsWith("{")) graft.logql.Parser.parseFull(padded).isRight
      else graft.promql.Parser.parse(padded).isRight
    })
  }

  test("AVI codec: random ramp clips round-trip to exact predicted sums") {
    import graft.ops.Multimodal
    val gen = for {
      w <- Gen.chooseNum(1, 17) // odd widths exercise DIB row padding
      h <- Gen.chooseNum(1, 13)
      n <- Gen.chooseNum(1, 9)
      r0 <- Gen.chooseNum(0, 255); rs <- Gen.chooseNum(0, 40)
      g0 <- Gen.chooseNum(0, 255); gs <- Gen.chooseNum(0, 40)
      b0 <- Gen.chooseNum(0, 255); bs <- Gen.chooseNum(0, 40)
    } yield (w, h, n, r0, rs, g0, gs, b0, bs)
    holds(forAll(gen) { case (w, h, n, r0, rs, g0, gs, b0, bs) =>
      val bytes = Multimodal.aviRamp(w, h, n, 33333, r0, rs, g0, gs, b0, bs)
      val px = w.toLong * h
      def ramp(c0: Int, cs: Int) = px * (0 until n).map(f => (c0 + f * cs) % 256).sum
      Multimodal.parseAvi(bytes).exists { s =>
        s.width == w && s.height == h && s.bit_count == 24 &&
          s.n_frames == n && s.frames_read == n && s.us_per_frame == 33333 &&
          s.sum_r == ramp(r0, rs) && s.sum_g == ramp(g0, gs) &&
          s.sum_b == ramp(b0, bs)
      }
    }, n = 100)
  }

  test("MJPG AVI: random solid-ramp clips round-trip structurally exact, " +
      "channel means within JPEG tolerance") {
    import graft.ops.Multimodal
    val gen = for {
      w <- Gen.chooseNum(1, 5).map(_ * 8)  // 8..40
      h <- Gen.chooseNum(1, 4).map(_ * 8)
      n <- Gen.chooseNum(1, 7)
      r0 <- Gen.chooseNum(20, 219); rs <- Gen.chooseNum(0, 5)
      g0 <- Gen.chooseNum(20, 219); gs <- Gen.chooseNum(0, 5)
      b0 <- Gen.chooseNum(20, 219); bs <- Gen.chooseNum(0, 5)
    } yield (w, h, n, r0, rs, g0, gs, b0, bs)
    holds(forAll(gen) { case (w, h, n, r0, rs, g0, gs, b0, bs) =>
      val bytes = Multimodal.aviMjpgRamp(w, h, n, 40000, r0, rs, g0, gs, b0, bs)
      val px = w.toLong * h
      def ramp(c0: Int, cs: Int) = px * (0 until n).map(f => (c0 + f * cs) % 256).sum
      Multimodal.parseAvi(bytes).exists { s =>
        def near(sum: Long, want: Long) =
          math.abs(sum - want).toDouble / (px * n) <= 6.0
        s.width == w && s.height == h && s.n_frames == n &&
          s.frames_read == n && s.us_per_frame == 40000 &&
          near(s.sum_r, ramp(r0, rs)) && near(s.sum_g, ramp(g0, gs)) &&
          near(s.sum_b, ramp(b0, bs))
      }
    }, n = 60)
  }

  test("fused BpeApplySummary equals the Column-algebra bpeApply, incl. " +
      "newline glue, unicode, and repeated (cached) words") {
    import graft.ops.TextOps
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    import spark.implicits._
    // words over an alphabet exercising the regex-metachar quoting, the
    // '(.)' line-terminator glue anomaly (\n inside and at word end),
    // multibyte and astral code points, and uppercase (lowered by tokens())
    val alphaBpe: Seq[String] =
      Seq("a", "b", "X", ".", "$", "\\", "\n", "é", "😀")
    val genWord = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alphaBpe)).map(_.mkString))
    val genDoc = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, genWord).map(_.mkString(" ")))
    val genPair = for {
      a <- Gen.oneOf(alphaBpe.filterNot(_ == "X")) // lowered corpus
      b <- Gen.oneOf(alphaBpe.filterNot(_ == "X"))
      c <- Gen.oneOf(alphaBpe.filterNot(_ == "X"))
      two <- Gen.oneOf(true, false)
    } yield if (two) (a + b, c) else (a, b)
    val genCase = for {
      docs <- Gen.listOfN(16, genDoc)
      ms <- Gen.listOfN(5, genPair)
    } yield (docs, ms)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long, Long)] =
      df.orderBy(col("doc_id")).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val prop = forAll(genCase) { case (docs, ms) =>
      // duplicate the corpus so the per-thread word memo serves hits
      val df = (docs ++ docs).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      rows(TextOps.bpeApply(df, "text", ms)) ==
        rows(TextOps.bpeApplyColumns(df, "text", ms))
    }
    for (seed <- Seq(7L, 31337L)) {
      val r = check(Parameters.default.withMinSuccessfulTests(12)
        .withInitialSeed(org.scalacheck.rng.Seed(seed)), prop)
      assert(r.passed, s"seed $seed: ${r.status}")
    }
  }

  test("WordBigramPairs equals the zip_with Column construction") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val genDoc = Gen.listOf(Gen.oneOf("the", "cat", "SAT", "", " ", "é😀", "a b"))
      .map(_.mkString(" "))
    val prop = forAll(Gen.listOfN(24, genDoc)) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val ws = filter(split(lower(col("text")), " +"), w => length(w) > 0)
      val colForm = element_at(transform(array(ws), w =>
        when(size(w) >= 2,
          zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))), 1)
      def rows(c: org.apache.spark.sql.Column): Seq[(Long, Int, String, String)] =
        df.select(col("doc_id"), posexplode(c).as(Seq("pos", "pr")))
          .select(col("doc_id"), col("pos"), col("pr.w1"), col("pr.w2"))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
            r.getString(3))).toSeq.sorted
      rows(graft.ops.WordBigramPairs.pairs(col("text"))) == rows(colForm)
    }
    val r = check(Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(org.scalacheck.rng.Seed(77L)), prop)
    assert(r.passed, r.status.toString)
  }

  test("BPE string-scan passes equal the reference list fold, incl. regex " +
      "metacharacters") {
    import graft.ops.TextOps
    import org.apache.spark.sql.functions._
    // the plain-list fold the regexp_replace representation must match
    def refBpe(word: String, merges: Seq[(String, String)]): List[String] =
      merges.foldLeft(word.map(_.toString).toList) { case (toks, (x, y)) =>
        toks.foldLeft(List.empty[String]) { (acc, t) =>
          if (acc.nonEmpty && acc.last == x && t == y) acc.init :+ (x + y)
          else acc :+ t
        }
      }
    // alphabet deliberately full of regex/replacement metacharacters —
    // a quoting bug in the pattern or the "$1" replacement shows here
    val alpha = "ab.$^*\\x"
    val genWord = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha.toSeq)).map(_.mkString))
    val genPair = for {
      a <- Gen.oneOf(alpha.toSeq); b <- Gen.oneOf(alpha.toSeq)
      c <- Gen.oneOf(alpha.toSeq)
      two <- Gen.oneOf(true, false)
    } yield if (two) (a.toString + b, c.toString) else (a.toString, b.toString)
    val genCase = for {
      ws <- Gen.listOfN(24, genWord)
      ms <- Gen.listOfN(4, genPair)
    } yield (ws, ms)
    def sparkBpe(ws: Seq[String], ms: Seq[(String, String)]): Seq[List[String]] =
      spark_helpers.frame(ws)
        .select(TextOps.bpeTokens(org.apache.spark.sql.functions.col("w"), ms))
        .collect().map(_.getSeq[String](0).toList).toSeq
    // deterministic regressions for the delimiter-consumption bug: a scan
    // that eats the shared delimiter merges only the FIRST of back-to-back
    // pair occurrences ([x,y,x,y] -> [xy,x,y] instead of [xy,xy])
    val fixed: Seq[(String, Seq[(String, String)], List[String])] = Seq(
      ("banana", Seq("a" -> "n"), List("b", "an", "an", "a")),
      ("jojo", Seq("j" -> "o"), List("jo", "jo")),
      ("xxx", Seq("x" -> "x"), List("xx", "x")),
      ("xxxx", Seq("x" -> "x"), List("xx", "xx")),
      ("xyxy", Seq("x" -> "y"), List("xy", "xy")),
      ("xyxyxy", Seq("x" -> "y"), List("xy", "xy", "xy")),
      ("ababab", Seq("a" -> "b", "ab" -> "ab"), List("abab", "ab")),
      ("$^$^", Seq("$" -> "^"), List("$^", "$^")))
    for ((w, ms, want) <- fixed) {
      assert(refBpe(w, ms) == want, s"refBpe sanity on $w")
      assert(sparkBpe(Seq(w), ms).head == want, s"spark BPE on $w with $ms")
    }
    val prop = forAll(genCase) { case (ws, ms) =>
      sparkBpe(ws, ms).sameElements(ws.map(w => refBpe(w, ms)))
    }
    // >=1000 word-cases across independent seeds: 3 seeds x 15 samples x
    // 24 words — each sample is one tiny local Spark job
    for (seed <- Seq(11L, 4242L, 990017L)) {
      val r = check(Parameters.default.withMinSuccessfulTests(15)
        .withInitialSeed(org.scalacheck.rng.Seed(seed)), prop)
      assert(r.passed, s"seed $seed: ${r.status}")
    }
  }

  test("BPE trainFast equals an independent naive trainer on random corpora") {
    import graft.ops.TextOps
    // adversarial cross-check: a from-scratch reimplementation of the BPE
    // greedy loop (full pair recount + full merge pass every round — no
    // incremental state, no heap) must agree with bpeTrainFast's
    // incrementally-maintained counts on random corpora. The tiny
    // alphabet forces heavy pair interaction (runs, overlaps, re-formed
    // pairs from merged tokens) — exactly where incremental deltas break.
    def naive(wordHist: Map[String, Long], k: Int): Seq[(String, String, Long)] = {
      var words = wordHist.toSeq.map { case (w, c) =>
        (w.map(_.toString).toArray, c)
      }
      val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      var r = 0
      var go = true
      while (r < k && go) {
        r += 1
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        for ((t, c) <- words; j <- 0 until t.length - 1)
          counts.update((t(j), t(j + 1)),
            counts.getOrElse((t(j), t(j + 1)), 0L) + c)
        if (counts.isEmpty) go = false
        else {
          val ((x, y), c) = counts.toSeq.minBy { case ((x, y), c) =>
            (-c, x, y)
          }
          out += ((x, y, c))
          words = words.map { case (t, cn) =>
            val b = scala.collection.mutable.ArrayBuffer[String]()
            var j = 0
            while (j < t.length) {
              if (j < t.length - 1 && t(j) == x && t(j + 1) == y) {
                b += (x + y); j += 2
              } else { b += t(j); j += 1 }
            }
            (b.toArray, cn)
          }
        }
      }
      out.toSeq
    }
    val genWord = Gen.chooseNum(1, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val genCorpus = Gen.chooseNum(3, 30).flatMap(n => Gen.listOfN(n, genWord))
    val prop = forAll(genCorpus, Gen.chooseNum(1, 12)) { (ws, k) =>
      val df = spark_helpers.frame(ws.map(_ + " " + ws.headOption.getOrElse("")))
        .toDF("text")
      val hist = ws.flatMap(w => Seq(w, ws.head))
        .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      TextOps.bpeTrainFast(df, "text", k) == naive(hist, k)
    }
    for (seed <- Seq(7L, 31337L)) {
      val r = check(Parameters.default.withMinSuccessfulTests(25)
        .withInitialSeed(org.scalacheck.rng.Seed(seed)), prop)
      assert(r.passed, s"seed $seed: ${r.status}")
    }
  }

  test("token-budget mixture equals a naive reference on random corpora") {
    import graft.ops.Sampling
    val s = TestSpark.spark
    import s.implicits._
    val genDocs = Gen.chooseNum(4, 25).flatMap(n => Gen.listOfN(n, for {
      src <- Gen.oneOf("a", "b", "c")
      tok <- Gen.chooseNum(1L, 50L)
    } yield (src, tok)))
    val prop = forAll(genDocs, Gen.chooseNum(10L, 500L)) { (ds, target) =>
      val df = ds.zipWithIndex.map { case ((src, tok), i) =>
        (i.toLong, src, tok)
      }.toDF("doc_id", "src", "tok")
      val got = Sampling.tokenBudgetMixture(df, "src", "doc_id", "tok",
          alpha = 0.5, targetTokens = target, seed = 9)
        .collect().map(r => r.getLong(0)).toSet
      // naive: budgets from the same closed form, admission by walking
      // each source's docs in md5(seed|id) order
      def md5hex(v: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val rows = ds.zipWithIndex.map { case ((src, tok), i) => (i.toLong, src, tok) }
      val sums = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val tot = sums.toSeq.sortBy(_._1).map { case (_, t) => math.pow(t.toDouble, 0.5) }.sum
      val want = rows.groupBy(_._2).flatMap { case (src, g) =>
        val b = math.floor(target * (math.pow(sums(src).toDouble, 0.5) / tot) +
          0.31830988618367446).toLong
        var run = 0L
        g.sortBy(r => (md5hex("9|" + r._1), r._1)).flatMap { r =>
          val keep = run < b
          run += r._3
          if (keep) Some(r._1) else None
        }
      }.toSet
      if (got != want) println(s"mixture mismatch: got=$got want=$want")
      got == want
    }
    holds(prop)
  }

  test("as-of and range joins equal naive references on random key/ts data") {
    import graft.ops.{AsofJoin, RangeJoin}
    val s = TestSpark.spark
    import s.implicits._
    // small key/ts domains force collisions, exact ties, and duplicate
    // right-side (k, ts) rows — every tie path gets exercised
    val genRight = Gen.listOfN(30, for {
      k <- Gen.chooseNum(0L, 3L); ts <- Gen.chooseNum(0L, 40L)
    } yield (k, ts))
    val genLeft = Gen.listOfN(20, for {
      k <- Gen.chooseNum(0L, 3L); ts <- Gen.chooseNum(0L, 40L)
    } yield (k, ts))
    val prop = forAll(genRight, genLeft, Gen.chooseNum(1L, 20L)) { (rs, ls, tol) =>
      val right = rs.zipWithIndex
        .map { case ((k, ts), i) => (k, ts, i.toDouble, i.toLong) }
        .toDF("k", "ts", "v", "id")
      val left = ls.zipWithIndex
        .map { case ((k, ts), i) => (1000L + i, k, ts) }
        .toDF("pid", "k", "ts")
      val got = AsofJoin.backward(left, right, "k", "ts", "ts",
          Seq("v"), "id", toleranceMs = tol)
        .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
      // naive: per left row scan all right rows; dup (k, ts) keeps max id
      val dedup = rs.zipWithIndex
        .groupBy { case ((k, ts), _) => (k, ts) }
        .map { case ((k, ts), g) => (k, ts, g.map(_._2).max) }
      val want = ls.zipWithIndex.map { case ((k, ts), i) =>
        val cand = dedup.filter(r => r._1 == k && r._2 <= ts)
        val m = if (cand.isEmpty) None
          else Some(cand.maxBy(r => (r._2, r._3))).filter(r => ts - r._2 <= tol)
        (1000L + i) -> m.map(_._2)
      }.toMap
      val gotTs = got.map { case (p, o) => p -> o.map(_.asInstanceOf[Long]) }
      // the skew-resistant bucketed form must give the IDENTICAL result
      // for any bucket width
      val bucketed = AsofJoin.backwardBucketed(left, right, "k", "ts", "ts",
          Seq("v"), "id", bucketMs = 1L + (tol % 7), toleranceMs = tol)
        .collect()
        .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
        .toMap
      // forward and its bucketed mirror must agree with each other too
      def fwdOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
        .toMap
      val fwd = fwdOf(AsofJoin.forward(left, right, "k", "ts", "ts",
        Seq("v"), "id", toleranceMs = tol))
      val fwdB = fwdOf(AsofJoin.forwardBucketed(left, right, "k", "ts", "ts",
        Seq("v"), "id", bucketMs = 1L + (tol % 5), toleranceMs = tol))
      if (gotTs != want) println(s"asof mismatch:\n got=$gotTs\nwant=$want")
      if (bucketed != want) println(s"bucketed mismatch:\n got=$bucketed\nwant=$want")
      if (fwd != fwdB) println(s"forward mismatch:\n plain=$fwd\nbucketed=$fwdB")
      gotTs == want && bucketed == want && fwd == fwdB
    }
    holds(prop)
    // range join vs a naive containment filter, random bucket widths
    val genIv = Gen.listOfN(12, for {
      k <- Gen.chooseNum(0L, 2L); st <- Gen.chooseNum(0L, 30L)
      len <- Gen.chooseNum(0L, 15L)
    } yield (k, st, st + len))
    val prop2 = forAll(genIv, genLeft, Gen.chooseNum(1L, 12L)) { (ivs, ls, b) =>
      val iv = ivs.zipWithIndex
        .map { case ((k, st, en), i) => (k, st, en, i.toLong) }
        .toDF("k", "s", "e", "ivid")
      val pts = ls.zipWithIndex
        .map { case ((k, ts), i) => (1000L + i, k, ts) }
        .toDF("pid", "k", "ts")
      val got = RangeJoin.pointInInterval(pts, iv, "k", "ts", "s", "e",
          Seq("ivid"), bucketMs = b)
        .select("pid", "iv_ivid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        ((k, ts), i) <- ls.zipWithIndex
        ((ik, st, en), j) <- ivs.zipWithIndex
        if ik == k && ts >= st && ts < en
      } yield (1000L + i, j.toLong)).toSet
      got == want
    }
    holds(prop2)
  }

  test("bucketed as-of joins stay exact at epoch-scale ts with day buckets") {
    import graft.ops.AsofJoin
    val s = TestSpark.spark
    import s.implicits._
    // The r11 bucketed0 computed the bucket as floor(ts / b.toDouble),
    // which floor-errs once |ts| approaches 2^53 (quotient rounding
    // reaches 1/b, so a ts one unit below a boundary rounds UP into the
    // next bucket — a wrong as-of MATCH). bucketed0 now uses pure-integer
    // floor division; this pins the adversarial geometry the small-ts
    // property can't reach (boundary-straddling rows at epoch magnitudes,
    // day-scale widths, both directions — the forward mirror negates ts,
    // so it also exercises negative-axis flooring).
    val day = 86400000L
    val base = 1700000000000L
    val boundary = (base / day + 1) * day
    val right = (0 until 4)
      .map(i => (1L, boundary + i * day, i.toDouble, i.toLong))
      .toDF("k", "ts", "v", "id")
    val left = (0 until 4).flatMap(i => Seq(
        (2000L + 2 * i, 1L, boundary + i * day - 1),
        (2001L + 2 * i, 1L, boundary + i * day + 1)))
      .toDF("pid", "k", "ts")
    def res(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "asof_ts").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
        .toMap
    val plain = res(AsofJoin.backward(left, right, "k", "ts", "ts", Seq("v"), "id"))
    val buck = res(AsofJoin.backwardBucketed(left, right, "k", "ts", "ts",
      Seq("v"), "id", bucketMs = day))
    assert(buck == plain, s"backward bucketed diverged: $buck vs $plain")
    // sanity on the geometry itself: one ms BEFORE the first boundary has
    // no at-or-before match (the bug manufactured one)
    assert(plain(2000L).isEmpty)
    val fplain = res(AsofJoin.forward(left, right, "k", "ts", "ts", Seq("v"), "id"))
    val fbuck = res(AsofJoin.forwardBucketed(left, right, "k", "ts", "ts",
      Seq("v"), "id", bucketMs = day))
    assert(fbuck == fplain, s"forward bucketed diverged: $fbuck vs $fplain")
    assert(fplain(2007L).isEmpty) // one ms after the last right row
    // property: random boundary-jittered rows at epoch scale, random
    // day-scale bucket widths; plain backward/forward (property-verified
    // vs the naive reference above) are the truth
    val genTs = for {
      d <- Gen.chooseNum(-3L, 3L); j <- Gen.chooseNum(-2L, 2L)
    } yield boundary + d * day + j
    val genRows = Gen.listOfN(16, for { k <- Gen.chooseNum(0L, 1L); ts <- genTs } yield (k, ts))
    val genB = Gen.oneOf(day, day / 2, 400000000L, day * 7)
    holds(forAll(genRows, genRows, genB) { (rs, ls, b) =>
      val r = rs.zipWithIndex
        .map { case ((k, ts), i) => (k, ts, i.toDouble, i.toLong) }
        .toDF("k", "ts", "v", "id")
      val l = ls.zipWithIndex
        .map { case ((k, ts), i) => (1000L + i, k, ts) }
        .toDF("pid", "k", "ts")
      val pb = res(AsofJoin.backward(l, r, "k", "ts", "ts", Seq("v"), "id"))
      val bb = res(AsofJoin.backwardBucketed(l, r, "k", "ts", "ts",
        Seq("v"), "id", bucketMs = b))
      val pf = res(AsofJoin.forward(l, r, "k", "ts", "ts", Seq("v"), "id"))
      val bf = res(AsofJoin.forwardBucketed(l, r, "k", "ts", "ts",
        Seq("v"), "id", bucketMs = b))
      if (pb != bb) println(s"epoch backward mismatch b=$b:\n $pb\n $bb")
      if (pf != bf) println(s"epoch forward mismatch b=$b:\n $pf\n $bf")
      pb == bb && pf == bf
    }, n = 30)
  }

  test("ip rangeRegex matches exactly the in-range dotted quads") {
    import graft.logql.IpMatch
    def quad(x: Long) = Seq(24, 16, 8, 0).map(sh => (x >> sh) & 255).mkString(".")
    val genIp = Gen.chooseNum(0L, 0xffffffffL)
    // mix wide random intervals with tight ones so boundary octet
    // decomposition is exercised at every level
    val gen = for {
      a <- genIp
      w <- Gen.oneOf(Gen.chooseNum(0L, 300L), genIp)
      v <- genIp
    } yield (a, math.min(0xffffffffL, a + w), v)
    holds(forAll(gen) { case (lo, hi, v) =>
      val re = ("^" + IpMatch.rangeRegex(lo, hi) + "$").r
      // the random probe plus every boundary neighbor
      Seq(v, lo, hi, lo - 1, hi + 1)
        .filter(x => x >= 0 && x <= 0xffffffffL)
        .forall(x => re.matches(quad(x)) == (x >= lo && x <= hi))
    }, n = 300)
    // leading-zero admission mirrors the \d{1,3} extraction shape
    val (lo9, hi9) = IpMatch.rangeOf("10.0.0.0/9")
    val re9 = ("^" + IpMatch.rangeRegex(lo9, hi9) + "$").r
    assert(re9.matches("10.127.255.255") && re9.matches("010.000.0.00"))
    assert(!re9.matches("10.128.0.0") && !re9.matches("9.255.255.255"))
    assert(!re9.matches("0010.0.0.0") && !re9.matches("10.0.0"))
  }

  test("native WinnowFps equals the HOF Column-algebra formulation") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val (k, w) = (8, 4)
    // the ORIGINAL interpreted formulation, kept here as the executable
    // reference the fused native expression must match bit-for-bit
    def hofFps(t: org.apache.spark.sql.Column) = {
      val hashes = transform(sequence(lit(1), length(t) - (k - 1)),
        p => conv(substring(md5(substr(t, p, lit(k))), 1, 12), 16, 10).cast("long"))
      val sel = when(size(col("hs")) >= w,
        array_distinct(transform(sequence(lit(w), size(col("hs"))),
          i => array_min(slice(col("hs"), i - lit(w) + 1, lit(w))))))
        .otherwise(array().cast("array<bigint>"))
      (hashes, sel)
    }
    // text mixing ascii, spaces, and MULTIBYTE code points (substr slices
    // by code point, md5 hashes utf-8 bytes — the parity trap)
    val genText = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', 'é', '中', '!', '.')))
      .map(_.mkString))
    holds(forAll(Gen.listOfN(12, genText)) { texts =>
      val df = texts.toDF("t").filter(length($"t") >= k)
      val (hashes, sel) = hofFps($"t")
      val ref = df.select($"t", hashes.as("hs")).select($"t", sel.as("fps"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
      val got = df.select($"t", graft.ops.WinnowFps.fps($"t", k, w).as("fps"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
      ref == got
    }, n = 25)
  }

  test("native MinHashSig equals the HOF aggregate-fold formulation") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val (k, w) = (16, 5)
    def hofSig(text: org.apache.spark.sql.Column) = {
      val sentinel = lit(1L << 48)
      val base = transform(graft.ops.Dedup.shingles(text, w),
        s => conv(substring(md5(s), 1, 12), 16, 10).cast("long"))
      val sig = aggregate(base, array_repeat(sentinel, k), (acc, h) =>
        zip_with(acc,
          transform(sequence(lit(0), lit(k - 1)), j =>
            (h * (j.cast("long") * 2L + 1L) + j.cast("long") * lit(2654435761L))
              % lit(1L << 48)),
          (a, v) => least(a, v)))
      element_at(transform(array(sig),
        s => when(element_at(s, 1) =!= sentinel, s)), 1)
    }
    val genWord = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val genText = Gen.chooseNum(0, 14).flatMap(n =>
      Gen.listOfN(n, genWord).map(_.mkString(" ")))
    holds(forAll(Gen.listOfN(10, genText)) { texts =>
      val df = texts.toDF("t")
      def run(c: org.apache.spark.sql.Column) = df.select($"t", c.as("s"))
        .collect().map(r => r.getString(0) ->
          Option(r.getSeq[Long](1)).map(_.toList)).toMap
      run(hofSig($"t")) == run(graft.streaming.StreamingDedup.rowSignature($"t", k, w))
    }, n = 25)
  }

  test("native ShingleSet equals HOF shingles; fused minhash equals explode-groupBy") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.DataFrame
    val spark = TestSpark.spark
    import spark.implicits._
    val (k, w) = (16, 3)
    // the r11 explode→groupBy minhash, kept as the executable reference
    // (and the shape the DuckDB oracles replay)
    def oldMinhash(df: DataFrame): Map[Long, List[Long]] = {
      val base = conv(substring(md5(col("sh")), 1, 12), 16, 10).cast("long")
      val sh = df.select(col("doc_id"),
          explode(graft.ops.Dedup.shingles(col("t"), w)).as("sh"))
        .select(col("doc_id"), base.as("h0"))
      val mins = (0 until k).map { j =>
        min((col("h0") * lit(2L * j + 1) + lit(j * 2654435761L)) % lit(1L << 48))
          .as(s"h$j")
      }
      sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
        .select(col("doc_id"),
          array((0 until k).map(j => col(s"h$j")): _*).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    }
    // words mixing ascii and multibyte chars; multi-space runs and
    // leading/trailing spaces exercise the split(" +", -1) empty-token
    // parity, repeated words exercise first-seen distinct order
    val genWord = Gen.oneOf(Gen.const("a"), Gen.const("bb"), Gen.const("é中"),
      Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)))
    val genText = for {
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, genWord)
      sep <- Gen.oneOf(" ", "  ")
      lead <- Gen.oneOf("", " ")
    } yield lead + ws.mkString(sep)
    holds(forAll(Gen.listOfN(10, genText)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "t")
      def sets(c: org.apache.spark.sql.Column) = df.select($"doc_id", c.as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      val setsEqual = sets(graft.ops.Dedup.shingles($"t", w)) ==
        sets(graft.ops.Dedup.shinglesNative($"t", w))
      val got = graft.ops.Dedup.minhash(df, "t", k, w)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      setsEqual && got == oldMinhash(df)
    }, n = 25)
  }

  test("native PqEncode equals the subD2/argmin Column formulation") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val (m, ks, sub) = (4, 5, 3)
    val dims = m * sub
    val genF = Gen.chooseNum(-1000, 1000).map(_ / 64.0f)
    val genVec = Gen.listOfN(dims, genF).map(_.toArray)
    val genCase = for {
      cb <- Gen.listOfN(ks, genVec)
      vs <- Gen.listOfN(8, genVec)
    } yield (cb.toArray, vs)
    def hofCodes(emb: org.apache.spark.sql.Column, sample: Array[Array[Float]]) = {
      def subD2(j: Int, c: Int) = aggregate(
        zip_with(slice(emb, j * sub + 1, sub),
          typedLit(sample(c).slice(j * sub, (j + 1) * sub).toSeq),
          (x, y) => (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
      array((0 until m).map { j =>
        val scores = array((0 until ks).map(c => subD2(j, c)): _*)
        (array_position(scores, array_min(scores)) - 1).cast("int")
      }: _*)
    }
    holds(forAll(genCase) { case (cb, vs) =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("id", "emb")
        .select($"id", $"emb".cast("array<float>").as("emb"))
      def run(c: org.apache.spark.sql.Column) = df.select($"id", c.as("codes"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      run(hofCodes($"emb", cb)) ==
        run(graft.ops.PqEncode.encode($"emb", cb, m, ks, sub))
    }, n = 20)
  }

  test("AVI parser is total on corrupted containers: None or Some, never a throw") {
    import graft.ops.Multimodal
    val valid = Multimodal.aviRamp(5, 4, 3, 40000, 10, 7, 20, 11, 30, 13)
    holds(forAll(Gen.choose(0, valid.length - 1), Gen.choose(0, 7)) { (i, bit) =>
      val bad = valid.clone(); bad(i) = (bad(i) ^ (1 << bit)).toByte
      Multimodal.parseAvi(bad); true // totality: no exception escapes
    }, n = 200)
    // the MJPG branch hands frame bytes to ImageIO — flips there must be
    // absorbed the same way (a corrupt JPEG is data, not an error)
    val mj = Multimodal.aviMjpgRamp(8, 8, 2, 40000, 30, 2, 40, 3, 50, 1)
    holds(forAll(Gen.choose(0, mj.length - 1), Gen.choose(0, 7)) { (i, bit) =>
      val bad = mj.clone(); bad(i) = (bad(i) ^ (1 << bit)).toByte
      Multimodal.parseAvi(bad); true
    }, n = 200)
    // arbitrary garbage too, including headers that lie about sizes
    holds(forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) { bs =>
      Multimodal.parseAvi(bs.toArray); true
    }, n = 100)
  }

  /** template() is Column algebra; evaluate it driver-side through a tiny
    * local relation once per sample batch (kept out of the hot property
    * loop via a single-session eval helper)
    */
  private object spark_helpers {
    import org.apache.spark.sql.functions._
    private lazy val s = TestSpark.spark
    def templateOf(x: String): String = {
      import s.implicits._
      Seq(x).toDF("m").select(graft.ingest.LogFingerprint.template(col("m")))
        .head().getString(0)
    }
    def frame(words: Seq[String]): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      words.toDF("w")
    }
  }

  test("fpc tokenizer is total and bounded on arbitrary input") {
    import graft.ops.FingerprintCompat
    // arbitrary unicode soup: quotes, braces, ANSI-ish bytes, newlines,
    // astral code points — the scanner must never throw, items stay
    // within maxTokens, levels stay in the level vocabulary, and the
    // function is a pure function of its input
    val soupChar: Gen[Char] = Gen.frequency(
      6 -> Gen.alphaNumChar,
      3 -> Gen.oneOf(' ', '\t', '=', '"', '\'', '.', '-', ':', ',', ';',
        '{', '}', '[', ']', '(', ')', '/', '@', '#', '%', '|', '\n', '\r'),
      1 -> Gen.oneOf('\u001b', '\u00e9', '\u4e2d', '\ud83d', '\udca9'))
    val soup: Gen[String] = Gen.listOf(soupChar).map(_.mkString)
    holds(forAll(soup) { s0 =>
      val (items, level, keys) = FingerprintCompat.tokenizeInput(s0)
      val again = FingerprintCompat.tokenizeInput(s0)
      items.size <= 15 &&
        (level.isEmpty || FingerprintCompat.LogLevelNames.contains(level)) &&
        keys == keys.sorted &&
        (items, level, keys) == again &&
        { FingerprintCompat.fingerprintHash(items, keys); true }
    }, n = 400)
  }

  test("fpc fast word/number path is observationally identical to the regex battery") {
    import graft.ops.FingerprintCompat
    val logish: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> Gen.oneOf("error", "click", "INFO", "user", "request", "GET",
        "quotedstringplaceholder", "xqzkw", "SLWHPA", "Received", "pid",
        "12msap", "10.0.1.2", "2024-01-02", "14:54:12", "/api/v1/x?a=b",
        "a@b.com", "a+b@c.com", "x+1", "svc.local", "7", "42ms", "0.5", "[a, b]", "k=v",
        "ids:", "c.g.d.Emitter", "---"),
      2 -> Gen.alphaNumStr.map(_.take(12)),
      1 -> Gen.oneOf(":", ",", ";", "(", ")", "|", "=", "{", "}")
    )).map(_.mkString(" "))
    holds(forAll(logish) { line =>
      val fast = FingerprintCompat.tokenizeString(line)
      FingerprintCompat.disableFastPath = true
      val slow =
        try FingerprintCompat.tokenizeString(line)
        finally FingerprintCompat.disableFastPath = false
      fast == slow
    }, n = 500)
  }
}
