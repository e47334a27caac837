package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.FingerprintIndex
import graft.logql._
import graft.promql.{Engine, QueryParams}

/** Segments-backed LogQL front door — the full reference query lifecycle
  * in one call (queryapi/logs_evaluator.go: segment lookup via the
  * fingerprint index, then per-segment evaluation): parse the LogQL
  * string, compute fingerprint requirements per leaf, prune the file
  * list through [[FingerprintIndex]], dateint-prune to the effective
  * time range (query window extended left by the largest range+offset
  * lookback), and evaluate the expression with the shared compiler.
  *
  * Pruning across binop expressions is per-leaf conservative: a file is
  * skipped only when EVERY leaf excludes it (a file needed by any leaf
  * must be read). Every public door is a delegate of ONE evaluator
  * ([[evaluate]]) over ONE scan-prep; the HTTP logs and spans routes
  * reach it through [[PanelSet.plan]].
  */
object LogSegments {

  private def leafPipelines(e: LogExpr): Seq[LogPipeline] = e match {
    case LeafQuery(q) => q.raw.orElse(q.range.map(_.pipeline)).toSeq
    case LogBin(_, l, r) => leafPipelines(l) ++ leafPipelines(r)
    case _ => Nil
  }

  private def maxLookbackMs(e: LogExpr): Long = e match {
    case LeafQuery(q) => q.range.map(r => r.rangeMs + r.offsetMs).getOrElse(0L)
    case LogBin(_, l, r) => math.max(maxLookbackMs(l), maxLookbackMs(r))
    case _ => 0L
  }

  /** The ONE log scan-prep every door shares: all leaves of all panels
    * batch their requirement trees through ONE index read
    * ([[FingerprintIndex.excludedForTrees]] intersects per-leaf
    * exclusions — a file needed by any leaf must be read), over the
    * cached segment listing, with the org partition pruned (org leads the
    * layout, so the equality prunes every other tenant's directories).
    * Time-independent: windows prune it by dateint ([[window]]).
    */
  private def scanPrep(spark: SparkSession, segDir: String, es: Seq[LogExpr],
      org: Option[String]): DataFrame = {
    val base = FingerprintIndex.prunedRead(spark, segDir,
      FingerprintIndex.excludedForTrees(spark, segDir,
        es.flatMap(leafPipelines).map(FingerprintIndex.requirementTreeFor)))
    org.fold(base)(o => base.filter(col("org") === o).drop("org"))
  }

  /** `base` pruned to the UTC days of [fromMs, toMs) */
  private def window(base: DataFrame, fromMs: Long, toMs: Long): DataFrame =
    base.filter(col("dateint") >= StepPolicy.dateintOf(fromMs) &&
        col("dateint") <= StepPolicy.dateintOf(toMs - 1))
      .drop("dateint") // partition key, not a log label

  /** The pruned cooked-logs frame a LogQL expression will scan over `p`
    * (its window extended left by the expression's lookback) — exposed
    * for plan inspection/tests.
    */
  def scanFor(spark: SparkSession, segDir: String, e: LogExpr,
      p: QueryParams, org: Option[String] = None): DataFrame =
    window(scanPrep(spark, segDir, Seq(e), org), p.startMs - maxLookbackMs(e),
      p.endMs)

  /** true when the LogQL string is a plain RAW log query (rows, not a
    * grid) — the shape that streams day-sliced under a row budget
    * ([[PanelSet.route]]); metric-style LogQL returns a grid and binops
    * need both sides whole. Parse failure => false: a malformed
    * expression takes the grid path and 400s at its parse, one obvious
    * place.
    */
  def isRaw(logql: String): Boolean =
    Parser.parseFull(logql).fold(_ => false, {
      case LeafQuery(q) => q.raw.isDefined
      case _ => false
    })

  /** the raw shape [[querySliced]] serves — the same test as [[isRaw]] */
  def sliceableRaw(logql: String): Boolean = isRaw(logql)

  /** UTC-day-aligned slice plan for a raw log query: the span splits on
    * day boundaries (= the `dateint` partition key, so every slice scan
    * partition-prunes exactly) into at most `maxSlices` windows; spans
    * under `minSpanMs` stay one-shot. Returned oldest-first; the caller
    * reverses for descending streams.
    */
  def slicePlanRaw(p: QueryParams, maxSlices: Int = 8,
      minSpanMs: Long = 86400000L): Seq[QueryParams] = {
    val day = 86400000L
    if (p.endMs - p.startMs < minSpanMs) return Seq(p)
    val firstB = (p.startMs / day + 1) * day // first day boundary inside
    val bounds = Iterator.iterate(firstB)(_ + day).takeWhile(_ < p.endMs).toSeq
    val days = bounds.size + 1
    val n = math.min(maxSlices, days)
    if (n <= 1) return Seq(p)
    val perSlice = (days + n - 1) / n // days per slice
    val cuts = (1 until n).map(i => bounds(math.min(i * perSlice, days - 1) - 1))
      .distinct.filter(b => b > p.startMs && b < p.endMs)
    val edges = (p.startMs +: cuts) :+ p.endMs
    edges.sliding(2).map(w => QueryParams(w(0), w(1), p.stepMs)).toSeq
  }

  /** The ONE log evaluator every door and [[PanelSet.plan]] call (logs
    * and spans alike): one frame per window over one [[scanPrep]].
    *  - [[PanelSet.Alone]]: the first expression on its own, each window
    *    over its own dateint-pruned scan, with the raw params applied.
    *    Each window applies the FULL limit (a superset of what the global
    *    stream may still need); the SSE layer trims to the remaining
    *    budget and stops launching windows once it is spent — the
    *    reference's newest-first early-exit segment walk
    *    (logs_evaluator.go:233-424).
    *  - [[PanelSet.Tagged]]: N metric-style panels share ONE materialized
    *    pass over `full` (dateint window extended by the max lookback, the
    *    row-level time filter pushed to the scan); each window runs every
    *    distinct panel's compiler pass over those blocks and emits the
    *    tagged union (alias, ts, series-JSON, value). Metric-style LogQL
    *    slices exactly (every grid bucket depends only on
    *    [t − lookback, t]). Raw panels are rejected — they return rows,
    *    not grids.
    */
  private[api] def evaluate(spark: SparkSession, segDir: String,
      exprs: Seq[(String, String)], full: QueryParams,
      windows: Seq[QueryParams], shape: PanelSet.Shape, limit: Int = 1000,
      desc: Boolean = true, fields: Seq[String] = Nil,
      org: Option[String] = None): Seq[() => DataFrame] = {
    require(exprs.nonEmpty, "a log query needs at least one expression")
    val parsed = exprs.map(x => Parser.parseFull(x._2)
      .fold(err => throw new IllegalArgumentException(err), identity))
    if (shape != PanelSet.Alone)
      exprs.find(x => isRaw(x._2)).foreach { x =>
        throw new IllegalArgumentException(
          s"the multi-panel door serves metric-style LogQL panels; raw log " +
            s"query '${x._2}' streams through the single-query path")
      }
    val base = scanPrep(spark, segDir, parsed, org)
    if (shape == PanelSet.Alone) {
      val e = parsed.head
      return windows.map { sp => () =>
        Compiler.exprQuery(e, LogStore(window(base, sp.startMs - maxLookbackMs(e),
          sp.endMs)), sp, limit, desc, fields)
      }
    }
    val effStart = full.startMs - parsed.map(maxLookbackMs).max
    val shared = LogStore(graft.GraftSession.materialize(
      window(base, effStart, full.endMs)
        .filter(col("chq_timestamp") >= effStart && col("chq_timestamp") < full.endMs)))
    windows.map(sp => () => Engine.taggedUnion(exprs)(Compiler.query(_, shared, sp)))
  }

  /** Full LogQL query over written log segments. */
  def query(spark: SparkSession, segDir: String, logql: String, p: QueryParams,
      limit: Int = 1000, desc: Boolean = true, fields: Seq[String] = Nil,
      org: Option[String] = None): DataFrame =
    querySliced(spark, segDir, logql, Seq(p), limit, desc, fields, org).head()

  /** [[query]] per window of `slices` (from [[slicePlanRaw]], oldest-first;
    * pass them newest-first for a descending stream) over one scan-prep
    */
  def querySliced(spark: SparkSession, segDir: String, logql: String,
      slices: Seq[QueryParams], limit: Int = 1000, desc: Boolean = true,
      fields: Seq[String] = Nil,
      org: Option[String] = None): Seq[() => DataFrame] =
    evaluate(spark, segDir, Seq("value" -> logql), slices.head, slices,
      PanelSet.Alone, limit, desc, fields, org)

  /** Logs-side dashboard fusion (mirror of
    * [[graft.promql.Engine.queryMultiTagged]]): N METRIC-style LogQL
    * panels — volume by level, error rate, unwrap aggregations — over
    * different streams and groupings on ONE materialized pass: K panels =
    * 1 lake scan + K block-local passes.
    */
  def queryMultiTagged(spark: SparkSession, segDir: String,
      exprs: Seq[(String, String)], p: QueryParams,
      org: Option[String] = None): DataFrame =
    queryMultiTaggedSliced(spark, segDir, exprs, p, Seq(p), org).head()

  /** [[queryMultiTagged]] sliced: one shared materialized pass over `full`
    * feeds every (slice × panel) evaluation — a 30-day logs dashboard
    * costs one lake scan and streams its first slice after that scan plus
    * one slice-sized compiler pass
    */
  def queryMultiTaggedSliced(spark: SparkSession, segDir: String,
      exprs: Seq[(String, String)], full: QueryParams,
      slices: Seq[QueryParams],
      org: Option[String] = None): Seq[() => DataFrame] =
    evaluate(spark, segDir, exprs, full, slices, PanelSet.Tagged, org = org)
}
