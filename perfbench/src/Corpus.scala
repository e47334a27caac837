package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{FingerprintIndex, LogFingerprint, MetricsPreAgg, Readers, Segments}

/** The write side, through the engine's public ingest functions only:
  * raw NDJSON.gz → cooked rows → sorted segments → fingerprint index →
  * rollup maintenance. Every call is wrapped in a named span so the traced
  * run can attribute ingest time per layer.
  */
final class Corpus(spark: SparkSession, root: String, spans: Spans) {
  val logs = s"$root/logs"
  val metrics = s"$root/metrics"
  val traces = s"$root/spans"

  private def cookLogs(raw: DataFrame): DataFrame =
    raw.withColumn("chq_tsns", col("chq_timestamp") * 1000000L)
      .withColumn("chq_fingerprint", LogFingerprint.fingerprint(col("log_message")))
      .withColumn("chq_id", substring(md5(concat_ws("|", col("org"),
        col("chq_timestamp").cast("string"))), 1, 20))

  private def cookMetrics(raw: DataFrame): DataFrame =
    MetricsPreAgg.preAggregate(raw, col("ts"), col("metric"), col("value"),
      Seq("org", "attr_service", "attr_endpoint", "attr_status").map(k => k -> col(k)),
      freqMs = MetricsPreAgg.RollupChainMs.head)

  private def cookSpans(raw: DataFrame): DataFrame =
    raw.withColumn("chq_tsns", col("chq_timestamp") * 1000000L)

  private def read(path: String, req: String): DataFrame =
    spans("ingest.read", req)(Readers.readAny(spark, path))

  /** one log batch: read, cook, write segments, index the new files */
  def ingestLogs(path: String, req: String): Unit = {
    val raw = read(path, req)
    spans("ingest.write_logs", req)(Segments.writeLogSegments(cookLogs(raw), logs))
    spans("ingest.index", req)(FingerprintIndex.indexNewFiles(spark, logs))
  }

  def ingestSpans(path: String, req: String): Unit = {
    val raw = read(path, req)
    spans("ingest.write_spans", req)(Segments.writeSpanSegments(cookSpans(raw), traces))
    spans("ingest.index", req)(FingerprintIndex.indexNewFiles(spark, traces))
  }

  /** corpus metrics at the 10 s base tier */
  def ingestMetrics(path: String, req: String): Unit = {
    val raw = read(path, req)
    spans("ingest.write_metrics", req)(Segments.writeMetricSegments(cookMetrics(raw), metrics))
  }

  /** the engine's rollup maintenance for one tenant: every day's base
    * tier read back from disk, rolled up into each of `tiers`, and each
    * tier's freshness watermark stamped */
  def maintainRollups(tiers: Seq[Long], org: String, req: String): Unit =
    spans("maintain.rollup", req)(
      MetricsPreAgg.maintainRollupsBatch(spark, metrics, tiers, org = Some(org)))

  def compactLogs(req: String): Unit =
    spans("maintain.compact", req)(Segments.compactLogSegments(spark, logs))

  def compactIndex(req: String): Unit =
    spans("maintain.index_compact", req)(FingerprintIndex.compactIndex(spark, logs))

  /** bytes at rest: segments plus their fingerprint indexes */
  def storedBytes(): Long =
    Seq(logs, metrics, traces).flatMap(d => Seq(d, FingerprintIndex.indexPath(d)))
      .map(d => Corpus.dirBytes(new java.io.File(d))).sum

  def dataFiles(): Long =
    Seq(logs, metrics, traces).map(d => Corpus.countParquet(new java.io.File(d))).sum
}

object Corpus {
  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def countParquet(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countParquet).sum
    else if (f.getName.endsWith(".parquet")) 1L else 0L
}
