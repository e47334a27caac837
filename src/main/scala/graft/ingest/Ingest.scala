package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion: raw files → cooked wide rows (reference
  * internal/filereader/reader_factory.go:56-91 dispatch + attribute
  * flattening rules of docs/design/db-parquet/logs.md:88-95).
  */
object Readers {

  /** dispatch by extension: .parquet, .json[.gz], .csv[.gz], .binpb[.gz]
    * (OTel protobuf — logs by default; use [[OtelProto.readMetrics]] /
    * [[OtelProto.readSpans]] directly for the other two signals). gz is
    * transparent to Spark's text-based sources and handled explicitly by
    * the binpb decoder.
    */
  def readAny(spark: SparkSession, path: String): DataFrame = {
    val p = path.toLowerCase
    if (p.endsWith(".parquet")) spark.read.parquet(path)
    else if (p.endsWith(".json") || p.endsWith(".json.gz"))
      spark.read.json(path)
    else if (p.endsWith(".csv") || p.endsWith(".csv.gz"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    else if (p.endsWith(".binpb") || p.endsWith(".binpb.gz"))
      OtelProto.readLogs(spark, path)
    else throw new IllegalArgumentException(s"unsupported input: $path")
  }

  /** same dispatch over an EXPLICIT file list (all one format). Prefer this
    * over a glob when reading back files a job just wrote: globbing a
    * fresh directory races the filesystem listing (a cold run can see an
    * empty match and fail), while an enumerated list is deterministic.
    */
  def readAny(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "readAny: empty file list")
    val p = paths.head.toLowerCase
    if (p.endsWith(".parquet")) spark.read.parquet(paths: _*)
    else if (p.endsWith(".json") || p.endsWith(".json.gz"))
      spark.read.json(paths: _*)
    else if (p.endsWith(".csv") || p.endsWith(".csv.gz"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(paths: _*)
    else throw new IllegalArgumentException(s"unsupported input list: ${paths.head}")
  }
}

/** CSV → cooked-log schema translation (reference
  * internal/filereader/csv_log_translator.go): headers lowercased and
  * sanitized, the `data` column becomes log_message, the first recognized
  * timestamp column becomes chq_timestamp (ns/sec/ms magnitude heuristic +
  * datetime-string fallback), every remaining column moves into the log_*
  * namespace (collisions suffixed _2, _3, …), and constant resource
  * provenance columns are appended.
  */
object CsvLog {
  val TimestampFields: Seq[String] = Seq("timestamp", "time", "datetime",
    "date", "publish_time", "event_timestamp", "created_at", "updated_at",
    "@timestamp", "ts", "eventtime", "event_time")

  /** lowercase, non-alphanumeric runs → '_', trim underscores */
  def sanitize(name: String): String =
    name.toLowerCase.replaceAll("[^a-z0-9_]+", "_").replaceAll("^_+|_+$", "")

  /** integer sec/ms/ns or datetime string → epoch ms (thresholds from the
    * reference: >1e15 ns, <2e9 s, else ms; non-positive numerics → null,
    * matching normalizeTimestamp's `ts <= 0 → 0` garbage-input rule)
    */
  def toEpochMs(c: Column): Column = {
    val d = c.cast("double") // ANSI off: non-numeric → null
    when(d.isNotNull,
      when(d <= 0, lit(null).cast("long"))
        .when(d > 1e15, (d / 1e6).cast("long"))
        .when(d < 2e9, (d * 1000).cast("long"))
        .otherwise(d.cast("long")))
      .otherwise(unix_millis(to_timestamp(c.cast("string"))))
  }

  def translate(df: DataFrame, bucket: String, objectId: String): DataFrame = {
    val lowered = df.schema.fieldNames.map(_.toLowerCase)
    var out = df.select(df.schema.fieldNames.map(f => df(f).as(f.toLowerCase)).toSeq: _*)
    val tsField = TimestampFields.find(lowered.contains)
    out = tsField match {
      case Some(f) => out.withColumn("chq_timestamp", toEpochMs(col(f))).drop(f)
      // no recognized timestamp: null (the reference stamps wall-clock
      // arrival time; a deterministic batch job has no such notion)
      case None => out.withColumn("chq_timestamp", lit(null).cast("long"))
    }
    if (out.schema.fieldNames.contains("data"))
      out = out.withColumn("log_message", col("data").cast("string")).drop("data")
    val keep = Set("chq_timestamp", "log_message")
    val used = scala.collection.mutable.Map.empty[String, Int]
    val renamed = out.schema.fieldNames.toSeq.sorted.flatMap { f =>
      if (keep.contains(f)) Some(col(f))
      else {
        val s = sanitize(f)
        if (s.isEmpty || s == "data") None
        else {
          val n = used.getOrElse(s, 0) + 1
          used(s) = n
          val fin = if (n == 1) s else s"${s}_$n"
          Some(col(f).as(s"log_$fin")) // values keep their inferred types
        }
      }
    }
    out.select(renamed: _*)
      .withColumn("resource_bucket_name", lit(bucket))
      .withColumn("resource_file_name", lit("./" + objectId))
      .withColumn("resource_file_type", lit(objectId.split('.').drop(1).lastOption.getOrElse("")))
      .withColumn("resource_service_name", lit("csv-import"))
  }
}

/** Message-shape fingerprint — the role of the reference's trigram/trie
  * log clustering (internal/fingerprint/fingerprint.go:119-172,
  * tenant_manager.go:24-55), re-expressed statelessly: literal-looking
  * tokens (quoted strings, long hex ids, numbers) collapse to placeholder
  * markers and the surviving template is hashed, so same-shape messages
  * share one cluster id regardless of embedded values. Hash is md5-48
  * (not the reference's xxhash64) so DuckDB oracles replay it
  * bit-for-bit; pure Column algebra, codegen'd.
  */
object LogFingerprint {

  /** message → shape template: "user 4312 bought \"x9\" for 12.50" →
    * "user <n> bought <s> for <n>"
    */
  def template(msg: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(msg, "\"[^\"]*\"", "<s>"),
        "\\b[0-9a-f]{8,}\\b", "<h>"),
      "-?[0-9]+(?:\\.[0-9]+)?", "<n>")

  /** 48-bit cluster id of the template */
  def fingerprint(msg: Column): Column =
    conv(substring(md5(template(msg)), 1, 12), 16, 10).cast("long")

  /** DuckDB twin of [[template]] over a message SQL expression */
  def templateSql(msgExpr: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($msgExpr, '"[^"]*"', '<s>', 'g'),""" +
      """ '\b[0-9a-f]{8,}\b', '<h>', 'g'), '-?[0-9]+(\.[0-9]+)?', '<n>', 'g')"""

  /** DuckDB twin of [[fingerprint]] over a message SQL expression */
  def fingerprintSql(msgExpr: String): String =
    s"CAST(('0x' || substr(md5(${templateSql(msgExpr)}), 1, 12)) AS BIGINT)"
}

/** Trie-style log-message clustering — the second, LEARNED pass the
  * reference's TrieClusterManager adds on top of stateless templating
  * (internal/oteltools/pkg/fingerprinter/trie_cluster_manager.go:206-263:
  * token sequences route through a prefix trie and Jaccard-merge into
  * clusters, so token positions that keep changing — request ids, entity
  * names — end up wildcarded even when they don't LOOK like values).
  *
  * Distributed re-expression, deterministic instead of arrival-order
  * stateful (divergence documented): within each (token-count, head-token)
  * group — the trie's prefix routing — any token position whose DISTINCT
  * literal count across the corpus exceeds `maxVariants` becomes a `<*>`
  * wildcard, and messages re-cluster under the masked template. The
  * learned pass runs over DISTINCT templates (position cardinality is a
  * function of the template, not the message), so its cost scales with
  * template diversity — thousands — while the message stream only pays
  * one small dimension join; the same motion at 100 TB.
  */
object TrieFingerprint {

  /** distinct-template dimension: (tplCol, trie_template, trie_fingerprint).
    * Callers that already carry the stateless template column join this
    * directly and avoid recomputing the normalization regexes per pass.
    */
  def maskedTemplates(tpls0: DataFrame, tplCol: String, maxVariants: Int = 4): DataFrame = {
    val tpls = tpls0.withColumnRenamed(tplCol, "__tpl")
      .withColumn("__toks", split(col("__tpl"), " +"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__head", element_at(col("__toks"), 1))
    val pos = tpls.select(col("__n"), col("__head"),
      posexplode(col("__toks")).as(Seq("__p", "__t")))
    // learned wildcard positions per trie group
    val wild = pos.groupBy(col("__n"), col("__head"), col("__p"))
      .agg(countDistinct(col("__t")).as("__nd"))
      .filter(col("__nd") > maxVariants)
      .groupBy(col("__n"), col("__head"))
      .agg(collect_set(col("__p")).as("__wild"))
    tpls.join(wild, Seq("__n", "__head"), "left")
      .withColumn("__wildset", coalesce(col("__wild"), array().cast("array<int>")))
      .withColumn("trie_template", array_join(
        transform(col("__toks"), (tk, i) =>
          when(array_contains(col("__wildset"), i), lit("<*>")).otherwise(tk)), " "))
      .select(col("__tpl").as(tplCol),
        col("trie_template"),
        conv(substring(md5(col("trie_template")), 1, 12), 16, 10).cast("long")
          .as("trie_fingerprint"))
  }

  /** df + (trie_template, trie_fingerprint) columns. */
  def withClusters(df: DataFrame, msgCol: String, maxVariants: Int = 4): DataFrame = {
    val t = df.withColumn("__tpl", LogFingerprint.template(col(msgCol)))
    val masked = maskedTemplates(t.select(col("__tpl")).distinct(), "__tpl", maxVariants)
    // template dimension is small → AQE broadcasts this join
    t.join(masked, Seq("__tpl")).drop("__tpl")
  }
}

object Flatten {

  /** `http.method` → `http_method`, lowercased (reference
    * promql/sql_builder.go:31-39 normalizeFieldName)
    */
  def normalizeFieldName(name: String): String =
    name.toLowerCase.replaceAll("[^a-z0-9_]", "_")

  /** Flatten nested struct columns to prefixed, normalized, stringified
    * top-level columns; scalars are stringified per the reference's type
    * coercion rule (bools/numbers → string, null stays null).
    */
  def flattenToCooked(df: DataFrame, prefixes: Map[String, String] = Map.empty,
      keepTyped: Set[String] = Set.empty): DataFrame = {
    def fieldCols(prefix: String, field: StructField, path: Column): Seq[(String, Column)] =
      field.dataType match {
        case st: StructType =>
          st.fields.toSeq.flatMap(f =>
            fieldCols(prefix + normalizeFieldName(field.name) + "_", f, path.getField(f.name)))
        case _ =>
          val name = prefix + normalizeFieldName(field.name)
          Seq(name -> path.cast("string"))
      }
    val cols = df.schema.fields.toSeq.flatMap { f =>
      if (keepTyped.contains(f.name)) Seq(f.name -> df(f.name))
      else {
        val prefix = prefixes.getOrElse(f.name, "")
        f.dataType match {
          case st: StructType =>
            st.fields.toSeq.flatMap(inner =>
              fieldCols(prefix, inner, df(f.name).getField(inner.name)))
          case _ if prefixes.contains(f.name) =>
            Seq((prefix + normalizeFieldName(f.name)) -> df(f.name).cast("string"))
          case _ => Seq(normalizeFieldName(f.name) -> df(f.name).cast("string"))
        }
      }
    }
    df.select(cols.map { case (n, c) => c.as(n) }: _*)
  }
}

/** Metric pre-aggregation + rollup chain (reference 10 s ingest pre-agg,
  * internal/metricsprocessing/metric_ingest_duckdb.go:386-458, and the
  * 10s→60s→300s→1200s→3600s chain,
  * metric_rollup_processor.go:694-708).
  */
object MetricsPreAgg {
  import graft.sketch.{functions => gf}

  val RollupChainMs: Seq[Long] = Seq(10000L, 60000L, 300000L, 1200000L, 3600000L)

  /** engine-neutral series id: 48-bit md5 over name + sorted label kvs
    * (role of the reference's FNV-1a TID,
    * internal/oteltools/pkg/fingerprinter/tid.go:153-229; bit-compat not
    * required, documented divergence — for deployments that DO need the
    * reference's exact ids, [[graft.ops.CompatHash.tid]] is the
    * bit-compatible FNV-1a form, driver-gated by `tq_tid_compat`, and
    * [[preAggregate]]'s `tidCol` hook swaps it in)
    */
  def tid(metricName: Column, labels: Seq[(String, Column)]): Column = {
    val kvs = labels.sortBy(_._1).map { case (k, v) => concat(lit(k + "="), coalesce(v, lit(""))) }
    val payload = concat_ws("|", (metricName +: kvs): _*)
    conv(substring(md5(payload), 1, 12), 16, 10).cast("long")
  }

  /** raw (tsMs, name, value, labels) → cooked rows at `freqMs`:
    * one row per (name, tid, bucket) with rollups + DDSketch.
    */
  /** `tidCol`: override the engine-neutral md5 series id — pass
    * `Some(graft.ops.CompatHash.tid(name, lit("gauge"), labels))` for
    * the reference's bit-exact FNV-1a TID (compat mode; see
    * [[graft.ops.CompatHash]]) when cooked rows must interop with
    * segments written by the reference system.
    */
  def preAggregate(raw: DataFrame, tsMs: Column, name: Column, value: Column,
      labels: Seq[(String, Column)], freqMs: Long = 10000L,
      withSketch: Boolean = true, tidCol: Option[Column] = None): DataFrame = {
    val labelCols = labels.map { case (k, v) => v.cast("string").as(k) }
    val baseCols = Seq(
      (tsMs - tsMs % freqMs).as("chq_timestamp"),
      name.as("metric_name"),
      tidCol.getOrElse(tid(name, labels)).as("chq_tid"),
      value.cast("double").as("__v")) ++ labelCols
    val base = raw.select(baseCols: _*)
    val aggs = Seq(
      sum(col("__v")).as("chq_rollup_sum"),
      count(lit(1)).cast("double").as("chq_rollup_count"),
      min(col("__v")).as("chq_rollup_min"),
      max(col("__v")).as("chq_rollup_max"),
      avg(col("__v")).as("chq_rollup_avg")) ++
      (if (withSketch) Seq(gf.ddsketch_agg(col("__v")).as("chq_sketch")) else Nil) ++
      labels.map { case (k, _) => first(col(k)).as(k) }
    val agged = base.groupBy(col("chq_timestamp"), col("metric_name"), col("chq_tid"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("chq_rollup_freq", lit(freqMs))
    // percentile columns extracted from the sketch at ingest, per the cooked
    // contract (docs/design/db-parquet/metrics.md:85-115 chq_rollup_p25..p99)
    if (withSketch)
      Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75",
        0.9 -> "p90", 0.95 -> "p95", 0.99 -> "p99")
        .foldLeft(agged) { case (df, (q, nm)) =>
          df.withColumn(s"chq_rollup_$nm", gf.ddsketch_quantile(col("chq_sketch"), q))
        }
    else agged
  }

  /** cooked rows at a finer frequency → coarser frequency; identical agg
    * clauses at a coarser window (reference
    * writer_metrics_duckdb.go:248-331). Sums/counts/min/max re-aggregate;
    * sketches merge; label metadata via first().
    */
  def rollup(cooked: DataFrame, toFreqMs: Long): DataFrame = {
    import graft.sketch.{functions => gf}
    val labelCols = cooked.schema.fieldNames.filterNot(c =>
      c.startsWith("chq_rollup_") || c == "chq_timestamp" || c == "metric_name" ||
        c == "chq_tid" || c == "chq_sketch").toSeq
    val hasSketch = cooked.schema.fieldNames.contains("chq_sketch")
    val aggs = Seq(
      sum(col("chq_rollup_sum")).as("chq_rollup_sum"),
      sum(col("chq_rollup_count")).as("chq_rollup_count"),
      min(col("chq_rollup_min")).as("chq_rollup_min"),
      max(col("chq_rollup_max")).as("chq_rollup_max"),
      (sum(col("chq_rollup_sum")) / sum(col("chq_rollup_count"))).as("chq_rollup_avg")) ++
      (if (hasSketch) Seq(gf.ddsketch_merge_agg(col("chq_sketch")).as("chq_sketch")) else Nil) ++
      labelCols.map(c => first(col(c), ignoreNulls = true).as(c))
    val agged = cooked
      .withColumn("__b", col("chq_timestamp") - col("chq_timestamp") % lit(toFreqMs))
      .groupBy(col("__b").as("chq_timestamp"), col("metric_name"), col("chq_tid"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("chq_rollup_freq", lit(toFreqMs))
    // re-extract percentile columns from the merged sketch at every tier,
    // keeping the cooked contract intact through the whole chain
    if (hasSketch)
      Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75",
        0.9 -> "p90", 0.95 -> "p95", 0.99 -> "p99")
        .foldLeft(agged) { case (df, (q, nm)) =>
          df.withColumn(s"chq_rollup_$nm", gf.ddsketch_quantile(col("chq_sketch"), q))
        }
    else agged
  }

  /** run the whole chain from the base tier; returns freq → cooked frame */
  def rollupChain(base10s: DataFrame): Map[Long, DataFrame] = {
    val chain = RollupChainMs
    chain.tail.scanLeft(chain.head -> base10s) { case ((_, prev), f) =>
      f -> rollup(prev, f)
    }.toMap
  }

  /** Batch rollup maintenance over an on-disk segment store (the
    * reference's rollup processor, metric_rollup_processor.go:571-708):
    * [[rebuildTiers]] over the base days ≥ `sinceDateint` of tenant `org`,
    * with every tier written into `segDir` itself
    * (`[org=]/dateint=/freq=<tier>`).
    *
    * `sinceDateint` bounds the re-roll to days ≥ it (incremental
    * catch-up — re-rolling a multi-year store per run would be
    * O(history)); without it every base day is re-rolled. A
    * multi-tenant store is maintained once per org.
    */
  def maintainRollupsBatch(spark: SparkSession, segDir: String,
      rollupTiers: Seq[Long] = RollupChainMs.tail,
      baseFreqMs: Long = RollupChainMs.head,
      org: Option[String] = None,
      sinceDateint: Option[Int] = None): Unit = {
    val all = spark.read.parquet(segDir).filter(col("freq") === baseFreqMs)
    val hasOrg = all.schema.fieldNames.contains("org")
    require(!hasOrg || org.isDefined,
      "multi-tenant store: run rollup maintenance once per org")
    val scoped = org.filter(_ => hasOrg)
      .map(o => all.filter(col("org") === o)).getOrElse(all)
    rebuildTiers(spark, segDir,
      sinceDateint.fold(scoped)(d0 => scoped.filter(col("dateint") >= d0)),
      rollupTiers, baseFreqMs, org, _ => segDir)
  }

  /** The one rollup-tier rebuild of batch maintenance
    * ([[maintainRollupsBatch]]) and streaming ingest
    * ([[graft.streaming.StreamingIngest.segmentWriteStream]]): re-roll
    * whole (tier, UTC day) units of `base` — a store's base-tier rows
    * (partition columns included) for the days to rebuild, scoped to one
    * org — and stamp the rolled-through watermark the freshness doors
    * refine their bound with ([[graft.api.TierFreshness.writeWatermark]]).
    *
    * One small job collects the work list (the days and the base tier's
    * high-water timestamp). Then, per tier, the (tier, day) partitions of
    * those days under `root(tier)` (`[org=]/dateint=/freq=<tier>`) are
    * deleted and ONE `rollup` + segment write lands all of them, every
    * tier read from the base tier (no chaining: a sum of sums would
    * reorder float adds). A job per (tier, day) would pay task-launch
    * and scheduling overhead per day. Every chain tier divides 24 h, so a
    * coarse bucket never straddles a rebuilt day, and rebuilding whole
    * tier-days keeps the directory count bounded by days, not buckets.
    *
    * The watermark `max base ts + 1` is stamped per tier only when every
    * base day OLDER than the first rebuilt day already has that tier's
    * partitions — otherwise "the tier reflects every base row < W" would
    * be false for the skipped days (such a store still answers correctly
    * through the day-granular partition bound and the query door's
    * gap-day branch, just without the intra-day refinement). The stamp
    * is monotonic, so a rebuild of late data on old days never regresses
    * it.
    *
    * Crash safety: a crash between a tier's delete and its write leaves
    * ALL of that tier's rebuilt days absent — gap days the doors already
    * serve from the base tier (discovery's per-dateint fallback, the
    * query door's gap-day branch) until the next run (batch maintenance,
    * or the batch replay of a stream) re-rolls them. The watermark is
    * written only after every tier landed.
    */
  private[graft] def rebuildTiers(spark: SparkSession, segDir: String,
      base: DataFrame, rollupTiers: Seq[Long], baseFreqMs: Long,
      org: Option[String], root: Long => String): Unit = {
    // `org` (the tenant param) shadows the `org.*` package root here
    import _root_.org.apache.hadoop.fs.Path
    if (rollupTiers.isEmpty) return
    val dayRows = base.groupBy(col("dateint"))
      .agg(max(col("chq_timestamp"))).collect()
    if (dayRows.isEmpty) return
    val days = dayRows.map(_.getInt(0)).sorted
    val maxTs = dayRows.map(_.getLong(1)).max
    // one scan per day, unioned: each day's files are packed into tasks as
    // a rebuild of that day alone packs them, and the float sums follow
    // the task's row order (the sketch aggregate's sort-based fallback
    // regroups rows per task), so a day's rolled bits never depend on
    // which other days share the rebuild. Partition/lineage keys must not
    // reach rollup() as label columns; an unscoped frame's `org` stays a
    // label, as it always has.
    val rows = days.map(d => base.filter(col("dateint") === d)).reduce(_ union _)
      .drop((Seq("dateint", "freq", "ingest_batch") ++ org.map(_ => "org")): _*)
    val fs = new Path(segDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (tier <- rollupTiers) {
      val dir = root(tier)
      val orgDir = org.fold(dir)(o => s"$dir/org=$o")
      days.foreach(d => fs.delete(new Path(s"$orgDir/dateint=$d/freq=$tier"), true))
      Segments.writeMetricSegments(rollup(rows, tier), dir, org = org)
    }
    // tierPartitions re-lists post-write (the segment writer invalidated
    // the metadata cache)
    val pairs = graft.api.TierFreshness.tierPartitions(spark, segDir, org)
    val olderBaseDays = pairs.collect {
      case (d, f) if f == baseFreqMs && d < days.head => d }
    rollupTiers.foreach { t =>
      if (olderBaseDays.forall(bd => pairs.contains((bd, t))))
        graft.api.TierFreshness.writeWatermark(spark, segDir, t, maxTs + 1L)
    }
  }
}

/** Sorted, partitioned, size-split segment writer + compaction
  * (reference internal/parquetwriter unified_writer/splitter, segment sort
  * orders at logs_ingest_duckdb.go:463-492 / metric_ingest_duckdb.go:395-404).
  */
object Segments {

  /** dateint = UTC day of the ms timestamp (reference dates.go) */
  def dateint(tsMs: Column): Column =
    date_format(to_utc_timestamp(timestamp_millis(tsMs), "UTC"), "yyyyMMdd").cast("int")

  /** Multi-tenant organization key — the reference keys every segment
    * table and lookup on organization_id ahead of dateint/frequency
    * (lrdb/queries/metric_seg.sql:3-22,113-125). Spark shape: `org` as
    * the LEADING hive partition key (`org=<id>/dateint=<d>/...`), engaged
    * when the writer is given an org (or the frame already carries an
    * `org` column — a single batch may span tenants); a dir written
    * without orgs is the single-tenant degenerate case and keeps the old
    * layout. Queries filter `org = <id>` → Catalyst prunes every other
    * tenant's directories before dateint/freq pruning even starts.
    */
  private def withOrg(cooked: DataFrame, org: Option[String]): DataFrame =
    org.foldLeft(cooked)((df, o) => df.withColumn("org", lit(o)))

  /** One signal's on-disk segment layout, shared by its writer and its
    * compactor: the hive partition keys after the optional leading `org`,
    * the sort keys after the partition keys, and the one column carrying
    * a parquet bloom filter; every layout is ZSTD and size-split via
    * maxRecordsPerFile.
    */
  private final case class Layout(parts: Seq[String], sort: Seq[String],
      bloom: String)

  /** metrics: partition by (dateint, freq), sort within partitions by
    * (metric_name, chq_tid, chq_timestamp). On a cluster the layout gives
    * partition pruning on dateint/freq and row-group locality per series.
    * The bloom filter on chq_tid serves point series lookups: chq_tid is
    * the SECOND sort key, so min/max row-group stats are near-useless for
    * it within a metric — the bloom is what lets a tid-equality scan skip
    * row groups.
    */
  private val MetricLayout = Layout(Seq("dateint", "freq"),
    Seq("metric_name", "chq_tid", "chq_timestamp"), "chq_tid")

  /** logs: sort by (resource_service_name, chq_fingerprint, chq_tsns);
    * bloom filter on chq_fingerprint for row-group skipping on
    * fingerprint-equality scans (the file-level companion is
    * [[FingerprintIndex]])
    */
  private val LogLayout = Layout(Seq("dateint"),
    Seq("resource_service_name", "chq_fingerprint", "chq_tsns"),
    "chq_fingerprint")

  /** spans: sort by (span_trace_id, chq_tsns) — the reference's trace
    * segment order (trace_ingest_duckdb.go:451) — so one trace's spans
    * are contiguous; bloom filter on span_trace_id serves the
    * trace-by-id lookup (file-level companion: [[FingerprintIndex]],
    * where span_trace_id is exact+trigram indexed)
    */
  private val SpanLayout = Layout(Seq("dateint"),
    Seq("span_trace_id", "chq_tsns"), "span_trace_id")

  /** `df` (carrying its partition columns) as a `layout` writer. The sort
    * MUST lead with the partition columns: the dynamic-partition writer
    * requires ordering by them and would otherwise inject its own sort,
    * discarding the layout's ordering. One task per partition group →
    * one sorted file per partition dir unless maxRecordsPerFile splits it.
    */
  private def layoutWriter(df: DataFrame, layout: Layout, mode: String,
      maxRecordsPerFile: Long): DataFrameWriter[Row] = {
    val parts =
      (if (df.schema.fieldNames.contains("org")) Seq("org") else Nil) ++ layout.parts
    df.repartition(parts.map(col): _*)
      .sortWithinPartitions((parts ++ layout.sort).map(col): _*)
      .write.mode(mode)
      .partitionBy(parts: _*)
      .option("compression", "zstd")
      .option(s"parquet.bloom.filter.enabled#${layout.bloom}", "true")
      .option("maxRecordsPerFile", maxRecordsPerFile)
  }

  /** append `cooked` (tenant `org`, if given) to `outDir` in `layout`,
    * then invalidate the dir's cached listings and tier metadata:
    * read-your-writes for the doors
    */
  private def writeSegments(cooked: DataFrame, layout: Layout, outDir: String,
      maxRecordsPerFile: Long, org: Option[String]): Unit = {
    val base = withOrg(cooked, org)
      .withColumn("dateint", dateint(col("chq_timestamp")))
    layoutWriter(base, layout, "append", maxRecordsPerFile).parquet(outDir)
    graft.api.ScanCache.invalidate(outDir)
  }

  /** session conf key: "true" → [[readMetricSegments]] treats the
    * `chq_sketch` column as sketches-go DataDog-proto bytes — what a
    * REFERENCE-written segment stores at rest
    * (promql/aggregator.go:48-61 round-trips sketches-go proto.Marshal
    * bytes through its segments) — and converts them to graft sketch
    * bytes on read via [[graft.sketch.DDSketchProto]]. Opt-in exactly
    * like [[graft.ops.CompatHash]]'s TID compat: graft's own segments
    * keep graft's versioned sketch format; the flag is for querying a
    * reference deployment's segments in place.
    */
  val SketchProtoCompatKey = "spark.graft.sketch.protoCompat"

  /** metric-segment read front door: plain parquet scan (partition
    * pruning on org/dateint/freq rides the layout), plus the opt-in
    * proto-sketch conversion under [[SketchProtoCompatKey]]. The flag is
    * read at PLAN time; the conversion is a per-row expression, so
    * pruning and bloom-filter row-group skipping are untouched.
    * `protoCompat = Some(b)` pins the choice explicitly for this read —
    * the session conf is a deployment-wide default, and mutating it
    * around plan construction would leak the conversion into any other
    * thread planning a read on the shared session (r13 ADVICE).
    */
  def readMetricSegments(spark: SparkSession, dir: String,
      protoCompat: Option[Boolean] = None): DataFrame = {
    val df = spark.read.parquet(dir)
    val compat = protoCompat.getOrElse(
      spark.conf.getOption(SketchProtoCompatKey).contains("true"))
    if (compat && df.schema.fieldNames.contains("chq_sketch"))
      df.withColumn("chq_sketch",
        graft.sketch.functions.ddsketch_from_proto(col("chq_sketch")))
    else df
  }

  /** `sketchProtoCompat = true` is the WRITE half of the sketches-go
    * interop (r13 VERDICT #5, mirror of [[SketchProtoCompatKey]]): the
    * segment's `chq_sketch` lands at rest as DataDog-proto bytes
    * ([[graft.sketch.DDSketchProto]]), the encoding a reference
    * deployment reads natively (promql/aggregator.go:48-61) — so graft
    * can WRITE segments into a reference-owned lake, not just query one
    * in place. Per-row expression at write: layout, sort, blooms
    * unchanged.
    */
  def writeMetricSegments(cooked: DataFrame, outDir: String,
      maxRecordsPerFile: Long = 2000000L, org: Option[String] = None,
      sketchProtoCompat: Boolean = false): Unit = {
    val src =
      if (sketchProtoCompat && cooked.schema.fieldNames.contains("chq_sketch"))
        cooked.withColumn("chq_sketch",
          graft.sketch.functions.ddsketch_to_proto(col("chq_sketch")))
      else cooked
    writeSegments(src.withColumn("freq", col("chq_rollup_freq")),
      MetricLayout, outDir, maxRecordsPerFile, org)
  }

  /** log segments in the log layout (see `LogLayout`) */
  def writeLogSegments(cooked: DataFrame, outDir: String,
      maxRecordsPerFile: Long = 2000000L, org: Option[String] = None): Unit =
    writeSegments(cooked, LogLayout, outDir, maxRecordsPerFile, org)

  /** span segments in the trace layout (see `SpanLayout`) */
  def writeSpanSegments(cooked: DataFrame, outDir: String,
      maxRecordsPerFile: Long = 2000000L, org: Option[String] = None): Unit =
    writeSegments(cooked, SpanLayout, outDir, maxRecordsPerFile, org)

  /** trace-segment compaction: same swap protocol, trace sort order */
  def compactSpanSegments(spark: SparkSession, dir: String,
      maxRecordsPerFile: Long = 2000000L): DataFrame =
    compactWithSwap(spark, dir)(
      layoutWriter(_, SpanLayout, "overwrite", maxRecordsPerFile))

  /** Compaction: re-read a segment dir (union-by-name across evolving
    * schemas), re-sort, and REWRITE it as fewer, larger, sorted files
    * (reference log_compaction_processor.go:100-339): write to a sibling
    * temp dir, then swap via two FS renames (dir → .old, tmp → dir) — the
    * same replace-then-delete pattern the reference uses for segment swap.
    * Renames go through the Hadoop FileSystem API so the job works on any
    * Spark-supported FS; on object stores an atomic-commit table format
    * (Delta/Iceberg) would replace the rename pair.
    *
    * Returns the re-read compacted frame.
    */
  def compactMetricSegments(spark: SparkSession, dir: String,
      maxRecordsPerFile: Long = 2000000L): DataFrame =
    compactWithSwap(spark, dir)(
      layoutWriter(_, MetricLayout, "overwrite", maxRecordsPerFile))

  /** log-segment compaction (reference log_compaction_processor.go): same
    * swap protocol, log sort order, dateint-only partitioning. An existing
    * fingerprint index describes the PRE-compaction files — stale the
    * moment the swap lands — so it is rebuilt over the new files, the same
    * re-registration the reference does in PostgreSQL when compaction
    * replaces segments. (A stale index is still lossless — rewritten files
    * have new names, and unindexed files always scan — but prunes nothing.)
    */
  def compactLogSegments(spark: SparkSession, dir: String,
      maxRecordsPerFile: Long = 2000000L): DataFrame = {
    val hadIndex = {
      val p = new org.apache.hadoop.fs.Path(FingerprintIndex.indexPath(dir))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val out = compactWithSwap(spark, dir)(
      layoutWriter(_, LogLayout, "overwrite", maxRecordsPerFile))
    if (hadIndex) FingerprintIndex.buildLogIndex(spark, dir)
    out
  }

  /** shared compaction skeleton: recover any interrupted swap, re-read with
    * schema union, let the caller write the sorted rewrite to a temp dir,
    * then double-rename with rollback. private[graft]: the fingerprint-index
    * compactor ([[FingerprintIndex.compactIndex]]) reuses the same
    * staged-swap contract over the index directory
    */
  private[graft] def compactWithSwap(spark: SparkSession, dir: String)(
      write: DataFrame => DataFrameWriter[Row]): DataFrame = {
    val tmp = dir.stripSuffix("/") + ".compact_tmp"
    val old = dir.stripSuffix("/") + ".compact_old"
    // crash recovery: a process that died between `dir → .compact_old`
    // and `.compact_tmp → dir` left the data stranded — restore it
    graft.api.ScanCache.recoverStaged(spark, dir, waitMs = 0L)
    write(spark.read.option("mergeSchema", "true").parquet(dir)).parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val fs = dirP.getFileSystem(conf)
    val oldP = new org.apache.hadoop.fs.Path(old)
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    fs.delete(oldP, true)
    // the rename pair runs under the dir's swap WRITE lock: same-JVM
    // readers (ScanCache listings hold the read side) can never observe
    // the instant where the live dir is absent. Cross-process readers
    // retain the window — they recover via ScanCache.recoverStaged, the
    // same way a crashed compactor is handled.
    graft.api.ScanCache.withSwapWriteLock(dir) {
      if (!fs.rename(dirP, oldP)) {
        fs.delete(tmpP, true)
        throw new java.io.IOException(s"compaction: could not stage $dir aside")
      }
      if (!fs.rename(tmpP, dirP)) {
        // roll back so the segment dir never stays missing after a failed swap
        fs.rename(oldP, dirP)
        fs.delete(tmpP, true)
        throw new java.io.IOException(s"compaction swap failed for $dir (rolled back)")
      }
      // carry the freshness watermark sidecar across the swap: it records
      // tier coverage, which the row rewrite preserves but cannot re-derive;
      // losing it would be conservative-safe (day-granular bound) yet
      // needlessly degrades intra-day freshness after every compaction
      val wmOld = new org.apache.hadoop.fs.Path(old + "/_graft_watermarks")
      if (fs.exists(wmOld))
        fs.rename(wmOld,
          new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + "/_graft_watermarks"))
    }
    fs.delete(oldP, true)
    graft.api.ScanCache.invalidate(dir)
    spark.read.parquet(dir)
  }

  /** Retention expiry (the reference sweeper's role,
    * cmd/sweeper/expiry.go: expire data older than an ingest cutoff):
    * drop whole `dateint=` partition directories strictly older than the
    * cutoff day. Partition-level deletes — no file rewrites, no scan; at
    * 100 TB this is a handful of directory removals per day. Returns the
    * number of dropped partitions.
    */
  def expireSegments(spark: SparkSession, dir: String, cutoffDateint: Int): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val dropped = fs.listStatus(p).filter(_.isDirectory).filter { st =>
      val name = st.getPath.getName
      name.startsWith("dateint=") &&
        name.stripPrefix("dateint=").toIntOption.exists(_ < cutoffDateint)
    }
    dropped.foreach(st => fs.delete(st.getPath, true))
    // expired partitions must leave the freshness doors' tier plan too
    if (dropped.nonEmpty) graft.api.ScanCache.invalidate(dir)
    dropped.length
  }

  /** parquet data-file count under a segment dir (compaction metric) */
  def countDataFiles(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }
}
