package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.promql._

/** Segments-backed PromQL front door — the metrics twin of
  * [[LogSegments]], covering the reference lifecycle steps the API
  * server drives (queryapi/metrics_evaluator.go:414-536): the query span
  * picks the step ([[StepPolicy.paramsFor]]), the step picks the rollup
  * tier, the tier scan is dateint-pruned to the effective range (query
  * window extended left by the largest range+offset lookback across the
  * expression's selectors), and the shared engine evaluates the
  * expression over the scan. Every public door is a delegate of ONE
  * evaluator ([[evaluate]]) over ONE scan-prep; the HTTP route reaches it
  * through [[PanelSet.plan]].
  *
  * Concurrency: a store being compacted while queried is safe same-JVM
  * (the swap lock excludes the rename window at listing time), but a
  * returned frame pins its planned file snapshot — callers executing an
  * action that may race a swap should wrap the BUILD-plus-collect in
  * [[ScanCache.withSwapRetry]], as the HTTP serving layer does.
  */
object MetricSegments {

  /** max (range+offset) lookback across every selector in the expression.
    * Delegates to the TOTAL Product-reflection walker ([[Ast.lookbackMs]]):
    * the hand-enumerated match this replaces returned 0 for AST nodes
    * added after it was written (predict_linear,
    * double_exponential_smoothing, sketch fns, absent_over_time,
    * count_values, timestamp/sort/calendar fns) — under-extending the
    * dateint-pruned scan window whenever such a node's lookback crossed a
    * day boundary.
    */
  def maxLookbackMs(e: Expr): Long = Ast.lookbackMs(e)

  /** every selector in the expression (the leaves whose metric names and
    * matchers drive segment lookup in the reference). Total walker for
    * the same reason as [[maxLookbackMs]] — the enumerated version hid
    * @-pinned selectors under unlisted nodes from [[sliceable]] and
    * their metrics from the index pruning requirements.
    */
  def selectors(e: Expr): Seq[Selector] = Ast.selectors(e)

  /** The dateint partition-pruning predicate for an expression set over
    * the window [startMs, endMs) at grid step `stepMs` — the ONE place
    * [[evaluate]] derives its scan bounds. Three windows union:
    *  - [start − maxLookback, end): the classic left extension
    *    ([[Ast.lookbackMs]] — max range+offset across every selector);
    *  - a RIGHT extension by [[Ast.forwardMs]]: a negative offset reads
    *    samples after the query end;
    *  - one dateint window per LITERAL @-pinned selector
    *    ([[Ast.pinWindowsMs]]): the pin reads at its own absolute
    *    timestamp, which may sit entirely outside the query window —
    *    without this branch such selectors were partition-pruned to
    *    emptiness through the segment door (r15 VERDICT #2) while the
    *    engine over an unpruned store answered correctly. ± one grid
    *    step of slack covers the engine's down-alignment of the pin and
    *    its one-step evaluation bucket.
    * A disjunction of range predicates on the partition column still
    * partition-prunes: a far-away pin adds its own day(s) to the scan,
    * not the span in between.
    */
  private def dateintCond(es: Seq[Expr], startMs: Long, endMs: Long,
      stepMs: Long): org.apache.spark.sql.Column = {
    val look = es.map(Ast.lookbackMs).max
    val fwd = es.map(Ast.forwardMs).max
    // Pin evaluation is STEP-ALIGNED — the pin timestamp aligns DOWN to
    // the evaluation step and reads one step-wide bucket — and the
    // effective step at a pinned leaf is NOT always the query step
    // ([[Ast.maxStepMs]]: `(m @ ts)[6h:2h]` aligns by 2 h).
    val maxStep = Ast.maxStepMs(es, stepMs)
    // a `@ start()` / `@ end()` pin evaluates the one step-wide bucket
    // CONTAINING its bound: for a step-aligned end (the normal case —
    // StepPolicy.paramsFor aligns), that bucket is [endMs, endMs+step),
    // entirely PAST dateintOf(endMs − 1) — found by r16 audit, the same
    // class of hole as the literal-pin one. One max-step of widening on
    // both bounds covers both bound pins; `@ start()/end()` under a
    // subquery resolves against the subquery-SHIFTED bounds, which the
    // lookback/forward walkers already price into look/fwd, so the
    // shifted pin bucket stays inside the padded base window.
    val boundPin = es.flatMap(Ast.selectors)
      .exists(s => s.atKind == 2 || s.atKind == 3)
    val pad = if (boundPin) 2L * maxStep else 0L
    val base = col("dateint") >= StepPolicy.dateintOf(startMs - look - pad) &&
      col("dateint") <= StepPolicy.dateintOf(endMs + fwd - 1 + pad)
    es.flatMap(Ast.pinWindowsMs).foldLeft(base) { case (c, (lo, hi)) =>
      c || (col("dateint") >= StepPolicy.dateintOf(lo - maxStep) &&
        col("dateint") <= StepPolicy.dateintOf(hi + maxStep))
    }
  }

  /** conservative [min, max] dateint hull of [[dateintCond]]'s windows —
    * bounds the fresh-tier gap-day list ([[TierFreshness.queryTierCond]]);
    * days outside the hull are pruned by the dateintCond conjunction
    * anyway, so the hull only bounds LIST SIZE, never correctness
    */
  private def dateintBounds(es: Seq[Expr], startMs: Long, endMs: Long,
      stepMs: Long): (Int, Int) = {
    val look = es.map(Ast.lookbackMs).max
    val fwd = es.map(Ast.forwardMs).max
    val maxStep = Ast.maxStepMs(es, stepMs)
    val pad = 2L * maxStep
    val pins = es.flatMap(Ast.pinWindowsMs)
    val lo = (StepPolicy.dateintOf(startMs - look - pad) +:
      pins.map(p => StepPolicy.dateintOf(p._1 - maxStep))).min
    val hi = (StepPolicy.dateintOf(endMs + fwd - 1 + pad) +:
      pins.map(p => StepPolicy.dateintOf(p._2 + maxStep))).max
    (lo, hi)
  }

  /** The tier condition every door scans with. DEFAULT since r18:
    * `freshTail = true` — the tier below its freshness bound unioned
    * with the finest tier past it and with the finest tier on gap days
    * ([[TierFreshness.queryTierCond]]); the engine's associative step
    * bucketing makes the union answer equal a completed rollup's. The
    * flip closes the last semantic gap vs the reference (r17 VERDICT
    * next-round #6): the reference's segment lookup keys one frequency
    * (queryapi/metrics_evaluator.go:505-509) BECAUSE its event-driven
    * rollups keep that tier minutes-fresh — its real contract is "never
    * staler than the rollup cadence", which graft's job-driven rollups
    * only honor through this union. On a SETTLED store the union is
    * bit-identical to the plain equality AND scan-identical: the fresh
    * branch's `dateint >= dayEnd(hwm)` prunes to zero partitions
    * (PlanSpec pins this), so reference parity is preserved exactly
    * where the reference door is defined. Cost: one TTL-cached
    * filesystem-metadata glob, no extra Spark job. `freshTail = false`
    * opts back into the strict one-frequency scan (HTTP `fresh=false`).
    */
  private def tierCond(spark: SparkSession, segDir: String, stepMs: Long,
      org: Option[String], freshTail: Boolean,
      bounds: Option[(Int, Int)] = None): Column =
    if (freshTail)
      TierFreshness.queryTierCond(spark, segDir, StepPolicy.tierFor(stepMs),
        org, bounds)
    else col("freq") === StepPolicy.tierFor(stepMs)

  /** per-selector fingerprint requirement: the metric name is an
    * exact-indexed dimension (reference prunes metric segments on exactly
    * this). One requirement tree per selector; the whole expression set
    * costs ONE index read ([[FingerprintIndex.excludedForTrees]] unions
    * the wanted fingerprints, reads once, intersects per-leaf exclusions —
    * so a file is pruned only when NO panel's selector can live in it).
    */
  private def excludedForExprs(spark: SparkSession, segDir: String,
      es: Seq[Expr]): Set[String] = {
    import graft.ingest.FingerprintIndex
    import graft.ingest.FingerprintIndex.{ReqAnd, ReqNode, Requirement}
    val trees: Seq[ReqNode] = es.flatMap(selectors).map { s =>
      // a bare matcher set `{attr="v"}` parses with an EMPTY metric name:
      // it selects across all metrics, so it must contribute no
      // requirement (an exact fp of "" is never indexed and would exclude
      // every indexed file) — ReqAnd(Nil) short-circuits all pruning
      if (s.metric.isEmpty) ReqAnd(Nil)
      else Requirement("metric_name",
        Seq(FingerprintIndex.existsFp("metric_name"),
          FingerprintIndex.fingerprint("metric_name", s.metric)), guarded = false)
    }
    FingerprintIndex.excludedForTrees(spark, segDir, trees)
  }

  /** tier scan → cooked-metrics store: keep the contract columns plus
    * attr_* labels; partition keys and rollup-freq metadata would
    * otherwise leak into the engine's label set
    */
  def storeFrom(scan: DataFrame): MetricStore = {
    val sys = Seq("chq_timestamp", "metric_name", "chq_tid", "chq_rollup_sum",
      "chq_rollup_count", "chq_rollup_min", "chq_rollup_max", "chq_sketch")
      .filter(scan.schema.fieldNames.contains)
    val labels = scan.schema.fieldNames.filter(_.startsWith("attr_")).toSeq
    MetricStore(scan.select((sys ++ labels).map(col): _*))
  }

  /** The ONE metric evaluator every door and [[PanelSet.plan]] call: one
    * frame per window over one scan-prep. The prep runs once per request —
    * parse, the fingerprint-index exclusion job (time-independent), the
    * cached segment listing, the tier condition of the FULL span's step
    * and the org partition — and each window adds only its dateint prune
    * ([[dateintCond]]). Windows come from the full span's grid
    * ([[slicePlan]]), so every window evaluates on the same step and tier,
    * and the concatenated frames equal the one-shot result: a
    * non-@-pinned construct's value at grid instant t depends only on
    * samples in [t − lookback, t] ([[sliceable]] gates the pins).
    *
    *  - [[PanelSet.Alone]]: the first expression on its own, each window
    *    over its own dateint-pruned scan (slicing the SCAN);
    *  - [[PanelSet.Fused]] / [[PanelSet.Tagged]]: the panel set over the
    *    full window's scan, pruned by the max lookback across panels and
    *    by every panel's index exclusions. Fused asks the engine's gate
    *    ([[Engine.fusedSet]]) once: an accepted set is built fused
    *    ([[Engine.fused]]: one selector and grouping, output columns
    *    named by alias), any other set is the tagged union
    *    ([[Engine.taggedUnion]]) over ONE shared materialized pass
    *    ([[Engine.sharedPass]]). A genuine error of an accepted set
    *    surfaces; it is never re-run with a switched response shape. With
    *    several windows the fused shape reads the shared pass too, so K
    *    panels × S windows cost one lake scan.
    */
  private[api] def evaluate(spark: SparkSession, segDir: String,
      exprs: Seq[(String, String)], full: QueryParams,
      windows: Seq[QueryParams], shape: PanelSet.Shape,
      org: Option[String], freshTail: Boolean): Seq[() => DataFrame] = {
    require(exprs.nonEmpty, "a metric query needs at least one expression")
    val parsed = exprs.map(x => Parser.parse(x._2)
      .fold(err => throw new IllegalArgumentException(err), identity))
    val base0 = graft.ingest.FingerprintIndex.prunedRead(spark, segDir,
        excludedForExprs(spark, segDir, parsed))
      .filter(tierCond(spark, segDir, full.stepMs, org, freshTail,
        Some(dateintBounds(parsed, full.startMs, full.endMs, full.stepMs))))
    // tenant isolation: org leads the partition layout, so this equality
    // prunes every other tenant's directories (three-key pruning)
    val base = org.fold(base0)(o => base0.filter(col("org") === o))
    def scan(p: QueryParams): MetricStore =
      storeFrom(base.filter(dateintCond(parsed, p.startMs, p.endMs, p.stepMs)))
    if (shape == PanelSet.Alone)
      return windows.map(sp => () => Engine.query(exprs.head._2, scan(sp), sp))
    val store = scan(full)
    lazy val shared = Engine.sharedPass(parsed, store, full)
    val fusable =
      if (shape == PanelSet.Fused) Engine.fusedSet(exprs.map(_._1).zip(parsed)).toOption
      else None
    windows.map { sp => () =>
      fusable.fold(Engine.taggedUnion(exprs)(Engine.query(_, shared, sp)))(
        Engine.fused(_, if (windows.size > 1) shared else store, sp))
    }
  }

  /** Full PromQL query over written metric segments. When a fingerprint
    * index exists next to the dir ([[graft.ingest.FingerprintIndex
    * .buildLogIndex]] works on metric segments too), files that can't
    * contain any selected metric are pruned before the tier scan.
    */
  def query(spark: SparkSession, segDir: String, promql: String,
      startMs: Long, endMs: Long, org: Option[String] = None,
      freshTail: Boolean = true): DataFrame =
    queryAt(spark, segDir, promql, StepPolicy.paramsFor(startMs, endMs), org,
      freshTail)

  /** [[query]] on an externally-fixed grid `p` */
  def queryAt(spark: SparkSession, segDir: String, promql: String,
      p: QueryParams, org: Option[String] = None,
      freshTail: Boolean = true): DataFrame =
    queryAtSliced(spark, segDir, promql, p, Seq(p), org, freshTail).head()

  /** [[query]] sliced: one frame per window of `slices` on `full`'s grid */
  def queryAtSliced(spark: SparkSession, segDir: String, promql: String,
      full: QueryParams, slices: Seq[QueryParams],
      org: Option[String] = None,
      freshTail: Boolean = true): Seq[() => DataFrame] =
    evaluate(spark, segDir, Seq("value" -> promql), full, slices,
      PanelSet.Alone, org, freshTail)

  /** A multi-panel request on one pruned scan: fused when the set fuses
    * (columns named by alias), else — or always with `forceTagged`, for
    * clients that want ONE schema for any panel mix — the tagged union
    * (alias, ts, series, value) over one materialized pass.
    */
  def queryMultiAt(spark: SparkSession, segDir: String,
      exprs: Seq[(String, String)], p: QueryParams,
      org: Option[String] = None, forceTagged: Boolean = false,
      freshTail: Boolean = true): DataFrame =
    queryMultiAtSliced(spark, segDir, exprs, p, Seq(p), org, forceTagged,
      freshTail).head()

  /** [[queryMultiAt]] sliced: every (slice × panel) evaluation reads ONE
    * shared materialized pass. Callers gate with [[sliceable]] on EVERY
    * panel.
    */
  def queryMultiAtSliced(spark: SparkSession, segDir: String,
      exprs: Seq[(String, String)], full: QueryParams,
      slices: Seq[QueryParams],
      org: Option[String] = None,
      forceTagged: Boolean = false,
      freshTail: Boolean = true): Seq[() => DataFrame] =
    evaluate(spark, segDir, exprs, full, slices,
      if (forceTagged) PanelSet.Tagged else PanelSet.Fused, org, freshTail)

  /** true when the expression may be evaluated slice-by-slice: no
    * selector is @-pinned (`@ start()` / `@ end()` resolve against the
    * query bounds and a literal `@ ts` may sit outside any given slice's
    * pruned scan — both change meaning under sliced params)
    */
  def sliceable(promql: String): Boolean =
    // parse failure => NOT sliceable: malformed expressions take the
    // one-shot path and fail in one obvious place (the contract says
    // "may be evaluated slice-by-slice" — an unparseable string may not)
    Parser.parse(promql).fold(_ => false, e => selectors(e).forall(_.atKind == 0))

  /** Step-aligned slice plan for [[queryAt]]: split the grid of `p` into
    * at most `maxSlices` contiguous windows of at least `minStepsPerSlice`
    * steps each, boundaries on grid multiples so the concatenated slice
    * results equal the one-shot result row-for-row. One window (or an
    * un-sliceable span) returns the original params unchanged.
    */
  def slicePlan(p: QueryParams, maxSlices: Int = 8,
      minStepsPerSlice: Int = 30, minSpanMs: Long = 86400000L): Seq[QueryParams] = {
    val a0 = p.startMs - p.startMs % p.stepMs
    // interactive spans stay one-shot: slicing trades first-byte latency
    // for per-job overhead, which only pays on historical ranges
    if (p.endMs - a0 < minSpanMs) return Seq(p)
    val nSteps = math.max(1L, (p.endMs - a0 + p.stepMs - 1) / p.stepMs)
    val perSlice = math.max(minStepsPerSlice.toLong,
      (nSteps + maxSlices - 1) / maxSlices)
    val n = ((nSteps + perSlice - 1) / perSlice).toInt
    if (n <= 1) Seq(p)
    else (0 until n).map { i =>
      QueryParams(a0 + i * perSlice * p.stepMs,
        math.min(p.endMs, a0 + (i + 1) * perSlice * p.stepMs), p.stepMs)
    }
  }
}
