package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured-Streaming ingest mode (reference semantics: micro-batch,
  * at-least-once, event-driven — docs/design/OVERVIEW.md:38-55; the
  * reference's S3→Kafka trigger maps to a file/Kafka source with
  * Trigger.AvailableNow; the 10 s ingest pre-agg maps to a tumbling window).
  *
  * The reference has no watermark concept (data is bucketed by its own
  * timestamp and segments are idempotently replaced); `withWatermark` here
  * bounds state for continuous mode. `foreachBatch(writeMetricSegments)`
  * reproduces the segment-replace pattern.
  */
object StreamingIngest {

  /** raw event stream → 10 s pre-aggregated cooked metric rows.
    * tsMs must be a LongType epoch-ms column.
    */
  def preAggStream(raw: DataFrame, tsMs: Column, name: Column, value: Column,
      labels: Seq[(String, Column)], freqMs: Long = 10000L,
      watermark: String = "10 minutes", withSketch: Boolean = false): DataFrame = {
    val withTs = raw
      .withColumn("__event_time", timestamp_millis(tsMs))
      .withColumn("metric_name", name)
      .withColumn("__v", value.cast("double"))
    val labeled = labels.foldLeft(withTs) { case (df, (k, v)) =>
      df.withColumn(k, v.cast("string"))
    }
    val groupCols = Seq(window(col("__event_time"), s"${freqMs / 1000} seconds").as("__w"),
      col("metric_name")) ++ labels.map { case (k, _) => col(k) }
    // chq_sketch parity with the batch pre-agg (MetricsPreAgg): the
    // DDSketch UDAF is a TypedImperativeAggregate, so the state store
    // carries its serialized buffer per open window; bucket counts are
    // merge-order-insensitive, so stream == batch read-outs exactly
    val aggs = Seq(
      sum(col("__v")).as("chq_rollup_sum"),
      count(lit(1)).cast("double").as("chq_rollup_count"),
      min(col("__v")).as("chq_rollup_min"),
      max(col("__v")).as("chq_rollup_max")) ++
      (if (withSketch)
        Seq(graft.sketch.functions.ddsketch_agg(col("__v")).as("chq_sketch"))
      else Nil)
    labeled
      .withWatermark("__event_time", watermark)
      .groupBy(groupCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("chq_timestamp", unix_millis(col("__w.start")))
      .drop("__w")
  }

  /** foreachBatch segment-write sink with offset bookkeeping — the role of
    * the reference's Kafka consumer + `kafka_offset_tracker` table
    * (lrdb/queries/kafka_offset_tracker.sql, common_consumer.go, atomic
    * swap at metric_rollup_processor.go:486-555). Source offsets live in
    * Spark's checkpoint (works unchanged over a Kafka source —
    * `spark.readStream.format("kafka")` — no broker exists in this
    * harness, so tests drive it with a file source). Each micro-batch
    * writes its cooked rows under `ingest_batch=<id>/` — a replayed batch
    * deletes and rewrites ONLY its own directory, so delivery is
    * exactly-once at the batch level — and appends an idempotent
    * (batch_id, rows, max_ts) record to a commit log, the queryable
    * offset-tracker analog.
    *
    * With `rollupTiers`, every (tier, UTC day) the batch touched is then
    * rebuilt from the on-disk base tier under `ingest_batch=rollup-<tier>/`
    * by [[graft.ingest.MetricsPreAgg.rebuildTiers]], the rebuild batch
    * maintenance runs too. A replayed batch rewrites its base dir first
    * and re-rebuilds the same days, so the rollups converge to the base
    * tier whatever the crash/replay interleaving.
    */
  def segmentWriteStream(rawStream: DataFrame, build: DataFrame => DataFrame,
      segDir: String, commitDir: String, checkpointDir: String,
      writeSegments: (DataFrame, String) => Unit =
        (df, dir) => graft.ingest.Segments.writeMetricSegments(df, dir),
      indexAfterBatch: Boolean = false,
      rollupTiers: Seq[Long] = Nil, baseFreqMs: Long = 10000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(commitDir))
    rawStream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val cooked = build(batch).cache()
        try {
          val n = cooked.count()
          if (n > 0) {
            val batchDir = s"$segDir/ingest_batch=$batchId"
            val p = new org.apache.hadoop.fs.Path(batchDir)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            fs.delete(p, true) // replay rewrites its own dir only
            writeSegments(cooked, batchDir)
            // the per-batch fingerprint registration of the reference's
            // ingest workers: index ONLY this batch's new files (a replay
            // re-registers its rewritten files; stale rows are lossless)
            if (indexAfterBatch)
              graft.ingest.FingerprintIndex.indexNewFiles(spark, segDir)
            // one job for the commit record and the rollup work list; an
            // all-null chq_timestamp batch has no day and max_ts -1
            val dayMax = cooked
              .groupBy(graft.ingest.Segments.dateint(col("chq_timestamp")))
              .agg(max(col("chq_timestamp"))).collect().filterNot(_.isNullAt(0))
            val maxTs = if (dayMax.isEmpty) -1L else dayMax.map(_.getLong(1)).max
            if (rollupTiers.nonEmpty && dayMax.nonEmpty) {
              val days = dayMax.map(_.getInt(0))
              // a store written by the old per-(tier, day) dir naming
              // must never double-count after an upgrade
              for (t <- rollupTiers; d <- days)
                fs.delete(new org.apache.hadoop.fs.Path(
                  s"$segDir/ingest_batch=rollup-$t-$d"), true)
              graft.ingest.MetricsPreAgg.rebuildTiers(spark, segDir,
                spark.read.parquet(segDir).filter(col("freq") === baseFreqMs &&
                  col("dateint").isin(days.toSeq: _*)),
                rollupTiers, baseFreqMs, None, t => s"$segDir/ingest_batch=rollup-$t")
            }
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(commitDir, f"batch_$batchId%09d.json"),
              s"""{"batch_id":$batchId,"rows":$n,"max_ts":$maxTs}""")
            ()
          }
        } finally { cooked.unpersist(); () }
      }
      .start()
  }

  /** run a stream from a parquet directory to completion (AvailableNow),
    * materializing into an in-memory table; returns the result frame.
    * Local-harness helper — a production deploy would writeStream
    * .foreachBatch(Segments.writeMetricSegments).
    */
  def runFileStreamOnce(spark: SparkSession, inputDir: String, schema: StructType,
      build: DataFrame => DataFrame, queryName: String): DataFrame = {
    val src = spark.readStream.schema(schema).parquet(inputDir)
    val q = build(src).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    try {
      q.processAllAvailable()
    } finally q.stop()
    spark.table(queryName)
  }
}
