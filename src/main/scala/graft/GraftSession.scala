package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical SparkSession settings for the graft engine.
  *
  * Centralized so Verify / Bench / tests / library users agree on:
  *  - UTC session time zone (oracle parity with DuckDB),
  *  - shuffle partitions sized for the local[N] harness (a real cluster
  *    deployment overrides via spark-defaults; AQE coalesces at runtime),
  *  - nanosAsLong so parquet TIMESTAMP(NANOS) inputs (events.ts) load as
  *    LongType ns instead of failing (Spark 4 has no native ns type),
  *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting,
  *    which is what makes the same plans survive a 100x scale-up,
  *  - a generated-class cache that holds the served working set
  *    (`spark.sql.codegen.cache.maxEntries`, a static conf, so it is set
  *    here, before the session exists). Spark's default of 100 entries is
  *    smaller than the cycle a dashboard workload repeats: one round of
  *    the benchmark's 9 `dash_recent` templates uses ~155 distinct
  *    classes, one `history_scan` round ~130, set-up plus warm-up
  *    compiles ~300, and an LRU cache smaller than a cyclic pattern
  *    misses on every lookup. At 100 the measured phase recompiled 613
  *    classes in 36 `dash_recent` requests (~25–30 ms of Janino each) for
  *    requests identical to the warm-up; at 1024 it compiled 0. The
  *    cache is keyed by the generated source, which inlines a filter's
  *    numeric literals, so a request whose time window moved still
  *    compiles its own classes. `spark.sql.codegen.useIdInClassName=false`
  *    keeps the whole-stage id out of the key: AQE numbers codegen stages
  *    in the order it creates query stages, which follows which stage
  *    finished first, so a join of independent stages could rename its
  *    classes between two runs of one query (a warm `pq_scalar_binop`
  *    recompiled 4 classes).
  */
object GraftSession {
  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // graft's native expressions (ddsketch_*, graft_dot) in SQL text
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // bucketed-table rows register external tables; keep the catalog's
      // default database dir out of the repo working tree, scoped per
      // process so concurrent runs / different users never share a path
      .config("spark.sql.warehouse.dir",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_warehouse_" +
          ProcessHandle.current().pid())
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reference semantics: bad casts → NULL (DuckDB try_cast), no ANSI
      // arithmetic errors mid-pipeline
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // default 300 s: a contended host (or a busy cluster) can stall a
      // broadcast build past it and fail queries that pass in isolation —
      // observed once under a concurrent bench + verify run
      .config("spark.sql.broadcastTimeout", "1200")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.sql.codegen.useIdInClassName", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Resolve a column whose NAME is data (user-controlled attribute names,
    * caller-supplied label lists) — backtick-escaped so it can never
    * round-trip through the SQL parser as syntax.
    */
  def safeCol(df: DataFrame, name: String): org.apache.spark.sql.Column =
    df(s"`${name.replace("`", "``")}`")

  /** Parallelism floor for compute-dense projections (per-character hash
    * chains, shingle explosion, signature folds): a small parquet file
    * arrives as ONE scan partition, and Spark sizes scan parallelism by
    * input BYTES — so a md5-per-kgram pipeline over a 1.5 MB corpus runs
    * single-threaded (observed: pp_winnow wall ≈ task-CPU ≈ 6 s on 32
    * cores). Repartitioning costs one exchange of the raw rows, worth it
    * exactly when the scan's partitioning is narrower than the session's
    * parallelism; at real scale (100 TB → thousands of scan partitions)
    * the floor is already met and this is a NO-OP — no shuffle is added.
    * Plan-time inspection only (rdd.getNumPartitions builds the physical
    * plan; it runs no job).
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Cut lineage and materialize an intermediate frame that later stages (or
    * iterative rounds) will read more than once.
    *
    * Fault-tolerance contract: with `spark.graft.checkpointDir` UNSET this
    * uses `localCheckpoint()` — blocks live on executors, non-replicated, so
    * a lost executor (spot instance, dynamic deallocation) kills the query
    * with no recompute path. Fine for single-JVM local[N]. A cluster
    * deployment sets `spark.graft.checkpointDir` to a reliable FS
    * (HDFS/S3) path and gets `checkpoint()` — blocks land on that FS and
    * survive executor loss, at the cost of one write+read per call. The dir
    * is set on the SparkContext on first use; per-app subdirs are Spark's
    * own (UUID-named), cleaned by `spark.cleaner.referenceTracking.cleanCheckpoints`.
    */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case _ => df.localCheckpoint()
    }
  }
}
