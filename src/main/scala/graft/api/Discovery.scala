package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tag discovery endpoints (reference /api/v1/{metrics,logs,spans}/tags and
  * tagvalues, queryapi/tag_values_evaluator.go; UNPIVOT SQL at
  * promql/sql_builder.go:471-527). In Spark the tag-name side is schema
  * introspection + non-null counts (no UNPIVOT needed); the tag-value side
  * is a distinct + count over the label column.
  */
object Discovery {

  /** tag/label names arrive from user-controlled data — resolve them
    * escaped, never through the parser
    */
  private def qcol(df: DataFrame, name: String) = graft.GraftSession.safeCol(df, name)

  /** The tier plan a [[segmentScan]] chose, exposed so the serving layer
    * can annotate responses: `perDay` maps each in-window dateint to the
    * tier it is read from (an operator seeing fresh days pinned to the
    * 10 s tier knows rollups are lagging — correct answers, 360x the
    * rows); `pinned` is the single-tier fallback for layouts the
    * partition globs cannot enumerate per-day.
    */
  final case class ScanPlan(perDay: Map[Int, Long], pinned: Option[Long])

  /** A discovery-grade segment scan, shared by the HTTP routes and the
    * catalog oracle rows: partition keys pruned before the read (org
    * equality, dateint range), each in-window day read from its
    * COARSEST PRESENT rollup tier ([[TierFreshness.discoveryTierPlan]]
    * — rolled days cost ~1/360th of their rows, not-yet-rolled-up days
    * stay visible from the finest tier that exists for them), system
    * partition columns dropped so they never leak into the label set.
    */
  def segmentScan(spark: SparkSession, dir: String, startMs: Long,
      endMs: Long, org: Option[String] = None): DataFrame =
    segmentScanWithPlan(spark, dir, startMs, endMs, org)._1

  /** [[segmentScan]] plus the tier plan it chose (None when the store
    * has no freq dimension — logs/spans, or a single flat layout).
    */
  def segmentScanWithPlan(spark: SparkSession, dir: String, startMs: Long,
      endMs: Long, org: Option[String] = None): (DataFrame, Option[ScanPlan]) = {
    var df = ScanCache.read(spark, dir)
    val fields = df.schema.fieldNames.toSet
    for (o <- org if fields.contains("org")) df = df.filter(col("org") === o)
    if (fields.contains("dateint"))
      df = df.filter(col("dateint") >= StepPolicy.dateintOf(startMs) &&
        col("dateint") <= StepPolicy.dateintOf(endMs - 1))
    var plan: Option[ScanPlan] = None
    if (fields.contains("freq"))
      TierFreshness.discoveryTierPlan(spark, dir, startMs, endMs, org) match {
        case Some(perDay) =>
          plan = Some(ScanPlan(perDay, None))
          df = df.filter(TierFreshness.condFromPlan(perDay))
        case None =>
          // the store HAS a freq dimension but its layout is outside the
          // two partition-glob shapes (e.g. freq without dateint, or a
          // custom leading key nesting) — an unfiltered scan would read
          // every tier and double-count per tier (r17 ADVICE #4). Probe
          // the distinct tiers (partition-column-only job: footer reads,
          // no data pages) and pin the coarsest, the pre-r17 contract.
          // TTL-cached with the rest of the tier metadata (r18 VERDICT
          // #4: it was a Spark job per request on such stores).
          val scoped = df
          val freqs = TierFreshness.cachedFreqProbe(spark, dir, org,
            StepPolicy.dateintOf(startMs), StepPolicy.dateintOf(endMs - 1)) {
            scoped.select(col("freq").cast("long")).distinct()
              .collect().map(_.getLong(0)).toSeq
          }
          if (freqs.length > 1) {
            df = df.filter(col("freq") === freqs.max)
            plan = Some(ScanPlan(Map.empty, Some(freqs.max)))
          }
      }
    val scan = Seq("org", "dateint", "freq").foldLeft(df) { (d, c) =>
      if (d.schema.fieldNames.contains(c)) d.drop(c) else d
    }
    (scan, plan)
  }

  /** distinct values of one tag with row counts, time-bounded */
  def tagValues(df: DataFrame, tag: String, startMs: Long, endMs: Long,
      limit: Int = 1000): DataFrame = {
    val timed = df.filter(col("chq_timestamp") >= startMs && col("chq_timestamp") < endMs)
    timed.filter(qcol(timed, tag).isNotNull && qcol(timed, tag) =!= "")
      .groupBy(qcol(timed, tag).as("tag_value"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tag_value").asc)
      .limit(limit)
  }

  /** every label column with its non-null/non-empty row count — one
    * aggregation pass, then an explode to (tag, n) rows. Built entirely with
    * the Column API: label names come from user-controlled OTel attributes,
    * so nothing here may round-trip through the SQL parser (a name holding a
    * backtick or quote would break — or worse, rewrite — a `selectExpr`).
    */
  def tagNames(df: DataFrame, labels: Seq[String], startMs: Long, endMs: Long): DataFrame = {
    val timed = df.filter(col("chq_timestamp") >= startMs && col("chq_timestamp") < endMs)
    // (tag, n) struct per label; the only name resolution is timed(...) with
    // standard backtick doubling, never string-interpolated SQL
    val entries = labels.zipWithIndex.map { case (l, i) =>
      val c = qcol(timed, l)
      struct(lit(l).as("tag"),
        count(when(c.isNotNull && c.cast("string") =!= "", 1)).as("n")).as(s"__e$i")
    }
    timed.agg(entries.head, entries.tail: _*)
      .select(explode(array(labels.indices.map(i => col(s"__e$i")): _*)))
      .select(col("col.tag").as("tag"), col("col.n").as("n"))
      .filter(col("n") > 0)
  }

  /** Distinct series (label combinations) in a time range, with per-series
    * row counts, optionally scoped by selector matchers — the reference's
    * Loki-compatible /api/v1/logs/series (queryapi/logs_series_handler.go:89-92).
    */
  def series(df: DataFrame, labels: Seq[String], startMs: Long, endMs: Long,
      matchers: List[graft.promql.Matcher] = Nil, limit: Int = 10000): DataFrame = {
    var timed = df.filter(col("chq_timestamp") >= startMs && col("chq_timestamp") < endMs)
    matchers.foreach { m => timed = timed.filter(graft.promql.Engine.matcherCond(timed, m)) }
    timed.groupBy(labels.map(l => qcol(timed, l)): _*)
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc +: labels.map(l => qcol(timed, l).asc): _*)
      .limit(limit)
  }

  /** Distinct metric names with their types and datapoint counts — the
    * reference's /api/v1/metrics/metadata (promql_tags_handler.go:75).
    */
  def metricMetadata(df: DataFrame, startMs: Long, endMs: Long): DataFrame =
    df.filter(col("chq_timestamp") >= startMs && col("chq_timestamp") < endMs)
      .groupBy(col("metric_name"), col("chq_metric_type"))
      .agg(count(lit(1)).as("n"))

  /** Distinct service names in a time range — the reference's
    * /api/v1/services (queryapi/querier.go:716-724, backed by
    * lrdb_service_identifiers.sql ListServiceNames: DISTINCT + ORDER BY).
    */
  def services(df: DataFrame, startMs: Long, endMs: Long,
      serviceCol: String = "resource_service_name"): DataFrame = {
    val timed = df.filter(col("chq_timestamp") >= startMs && col("chq_timestamp") < endMs)
    timed.filter(qcol(timed, serviceCol).isNotNull && qcol(timed, serviceCol) =!= "")
      .select(qcol(timed, serviceCol).as("service_name"))
      .distinct()
      .orderBy(col("service_name"))
  }

  /** Query-string validation — the reference's /api/v1/promql/validate and
    * /api/v1/logql/validate endpoints (queryapi/querier.go:772-773): parse
    * acceptance without execution.
    */
  def validatePromQL(q: String): Either[String, Unit] =
    graft.promql.Parser.parse(q).map(_ => ())

  def validateLogQL(q: String): Either[String, Unit] =
    graft.logql.Parser.parseFull(q).map(_ => ())
}
