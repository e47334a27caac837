package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{Flatten, Segments}

/** Agg-file substitution — the reference's materialized count rollup for
  * log queries (promql/sql_builder.go:374-470 `CanUseAggFile` /
  * `BuildAggFileSQL`; feature-flagged off upstream via
  * `AggFileQueryEnabled`, flag-off here too,
  * `spark.graft.logql.aggFiles`).
  *
  * Shape: a 10 s count pre-aggregation keyed by a chosen field set is
  * materialized next to the log segments (`<segDir>.aggfiles/<fields>`,
  * dateint-partitioned like every segment dir). A count query whose
  * GROUP BY fields and matcher fields are ALL within the agg-field set
  * reads the tiny rollup and re-buckets 10 s → step instead of scanning
  * raw log segments — the rewrite that keeps repeated dashboard queries
  * cheap at 100 TB. Matchers apply as ordinary filters because the agg
  * file carries the very columns they reference.
  */
object AggFiles {

  val FlagKey = "spark.graft.logql.aggFiles"

  /** rewrite gate, default OFF like the reference's AggFileQueryEnabled */
  def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption(FlagKey).exists(_.equalsIgnoreCase("true"))

  def aggDir(segDir: String, aggFields: Seq[String]): String =
    segDir.stripSuffix("/") + ".aggfiles/" +
      aggFields.map(Flatten.normalizeFieldName).sorted.mkString("-")

  /** Materialize the 10 s count rollup keyed by `aggFields` from written
    * log segments. One groupBy over the segments; output is orders of
    * magnitude smaller (bounded by buckets × field-combination
    * cardinality, not message count).
    */
  def writeLogAggFile(spark: SparkSession, segDir: String, aggFields: Seq[String],
      freqMs: Long = 10000L): String = {
    val out = aggDir(segDir, aggFields)
    val logs = spark.read.option("mergeSchema", "true").parquet(segDir)
    logs
      .groupBy(((col("chq_timestamp") - col("chq_timestamp") % freqMs)
        .as("chq_timestamp") +: aggFields.map(col)): _*)
      .agg(count(lit(1)).cast("double").as("agg_count"))
      .withColumn("dateint", Segments.dateint(col("chq_timestamp")))
      .repartition(col("dateint"))
      .sortWithinPartitions((col("dateint") +: aggFields.map(col) :+
        col("chq_timestamp")): _*)
      .write.mode("overwrite")
      .partitionBy("dateint")
      .option("compression", "zstd")
      .parquet(out)
    ScanCache.invalidate(out)
    out
  }

  /** reference CanUseAggFile: flag on, agg fields present, and every
    * group-by and matcher field inside the (normalized) agg-field set
    */
  def canUse(spark: SparkSession, aggFields: Seq[String], groupBy: Seq[String],
      matcherFields: Seq[String]): Boolean = {
    val set = aggFields.map(Flatten.normalizeFieldName).toSet
    enabled(spark) && set.nonEmpty &&
      (groupBy ++ matcherFields).forall(f => set.contains(Flatten.normalizeFieldName(f)))
  }

  /** reference BuildAggFileSQL: counts per (step bucket, groupBy) from
    * the agg file, 10 s buckets re-aggregated to `stepMs`, matchers as
    * WHERE filters
    */
  def countsFromAggFile(spark: SparkSession, segDir: String, aggFields: Seq[String],
      stepMs: Long, startMs: Long, endMs: Long,
      matchers: List[graft.promql.Matcher], groupBy: Seq[String]): DataFrame = {
    var df = ScanCache.read(spark, aggDir(segDir, aggFields))
      .filter(col("chq_timestamp") >= startMs && col("chq_timestamp") < endMs)
    matchers.foreach { m => df = df.filter(graft.promql.Engine.matcherCond(df, m)) }
    df.groupBy(((col("chq_timestamp") - col("chq_timestamp") % stepMs).as("ts") +:
        groupBy.map(col)): _*)
      .agg(sum(col("agg_count")).as("value"))
  }

  /** The SAME counts straight from raw segments — the flag-off path, and
    * the equivalence baseline the rewrite must match.
    */
  def countsFromRaw(spark: SparkSession, segDir: String, stepMs: Long,
      startMs: Long, endMs: Long, matchers: List[graft.promql.Matcher],
      groupBy: Seq[String]): DataFrame = {
    var df = spark.read.option("mergeSchema", "true").parquet(segDir)
      .filter(col("chq_timestamp") >= startMs && col("chq_timestamp") < endMs)
    matchers.foreach { m => df = df.filter(graft.promql.Engine.matcherCond(df, m)) }
    df.groupBy(((col("chq_timestamp") - col("chq_timestamp") % stepMs).as("ts") +:
        groupBy.map(col)): _*)
      .agg(count(lit(1)).cast("double").as("value"))
  }

  /** total on-disk bytes of a dir (plan-gate helper: the agg file must be
    * a strictly smaller input than the raw segments)
    */
  def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }
}
