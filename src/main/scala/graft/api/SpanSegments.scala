package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{FingerprintIndex => FI}
import graft.promql.QueryParams

/** Segments-backed span query front door — the reference's third query
  * endpoint (/api/v1/spans/query, SURVEY §3.3): LogQL-over-spans, where
  * spans are log-shaped rows with span_* columns, plus the trace-by-id
  * fetch the span_trace_id exact-index dimension exists for
  * (/root/reference/internal/fingerprint/fingerprint.go:60-70).
  *
  * The LogQL lifecycle is byte-identical to [[LogSegments]] (same parser,
  * same fingerprint pruning, same compiler) — only the store differs — so
  * `query` simply delegates, and the HTTP route serves spans through the
  * same [[PanelSet]] plan as logs. The trace fetches are the library surface of
  * the it_trace_lookup / it_exemplar_trace motions: resolve an OR-set of
  * exact trace-id fingerprints through ONE index read, scan only the
  * surviving files, return spans in trace order.
  */
object SpanSegments {

  /** Full LogQL query over written span segments (raw span selection or
    * metric aggregations over spans — both LogQL forms the reference's
    * spans endpoint accepts).
    */
  def query(spark: SparkSession, segDir: String, logql: String, p: QueryParams,
      limit: Int = 1000, desc: Boolean = true, fields: Seq[String] = Nil,
      org: Option[String] = None): DataFrame =
    LogSegments.query(spark, segDir, logql, p, limit, desc, fields, org)

  /** Fetch one trace's spans in trace order through the exact index. */
  def traceById(spark: SparkSession, segDir: String, traceId: String,
      p: QueryParams, org: Option[String] = None): DataFrame =
    tracesByIds(spark, segDir, Seq(traceId), p, org)

  /** Fetch a bounded set of traces (an exemplar pivot's trace list, an
    * alert's attached ids) through ONE OR-set index read: files are
    * excluded only when positively known to lack EVERY requested id.
    */
  def tracesByIds(spark: SparkSession, segDir: String, traceIds: Seq[String],
      p: QueryParams, org: Option[String] = None): DataFrame = {
    require(traceIds.nonEmpty, "tracesByIds needs at least one trace id")
    val req = FI.ReqOr(traceIds.map(t => FI.Requirement("span_trace_id",
      Seq(FI.existsFp("span_trace_id"), FI.fingerprint("span_trace_id", t)),
      guarded = false)))
    val pruned = FI.prunedRead(spark, segDir,
      FI.excludedForTrees(spark, segDir, Seq(req)))
    val scan0 = pruned
      .filter(col("span_trace_id").isin(traceIds: _*) &&
        col("chq_timestamp") >= p.startMs && col("chq_timestamp") < p.endMs)
      .filter(col("dateint") >= StepPolicy.dateintOf(p.startMs) &&
        col("dateint") <= StepPolicy.dateintOf(p.endMs - 1))
    org.fold(scan0)(o => scan0.filter(col("org") === o).drop("org"))
      .drop("dateint")
      .sortWithinPartitions(col("span_trace_id"), col("chq_tsns"))
  }
}
