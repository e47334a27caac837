package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.{MetricSegments, StepPolicy, TierFreshness}
import graft.ingest.{MetricsPreAgg, Segments}

/** Gates on the r17 tier-freshness contract (r16 VERDICT #2 and
  * next-round #3): a job-driven rollup chain leaves a live lake with
  * days the base tier has and a coarser tier does not yet —
  *
  *  - the query door's opt-in `freshTail` union must return those days
  *    (and return EXACTLY what a completed rollup would: disjoint
  *    branches, no double counting);
  *  - discovery's per-dateint tier plan must keep labels in un-rolled
  *    days visible while rolled days still read the cheap coarse tier.
  */
class TierFreshnessSpec extends AnyFunSuite {
  import TestSpark._

  private val Day = 86400000L
  private val Day0 = 1704067200000L // 2024-01-01T00:00:00Z

  /** synthetic metric events: 4 series, one sample/10 min each */
  private def events(days: Int) = {
    import spark.implicits._
    (0 until days * 144).flatMap { slot =>
      (0 until 4).map { k =>
        (Day0 + slot * 600000L, s"svc-$k", (slot % 30 + k).toDouble)
      }
    }.toDF("ts_ms", "attr_svc", "v")
  }

  private def events5d = events(5)

  private def preAgg(df: org.apache.spark.sql.DataFrame) =
    MetricsPreAgg.preAggregate(df, col("ts_ms"), lit("m_fresh"), col("v"),
      Seq("attr_svc" -> col("attr_svc")), freqMs = 10000L, withSketch = false)

  test("dayEndMs is the exclusive, bucket-aligned coverage bound") {
    assert(TierFreshness.dayEndMs(20240101) == Day0 + Day)
    assert(TierFreshness.dayEndMs(20231231) == Day0)
    // every rollup tier divides the day, so the bound splits no bucket
    graft.ingest.MetricsPreAgg.RollupChainMs.foreach(t =>
      assert(TierFreshness.dayEndMs(20240105) % t == 0L, s"tier $t"))
  }

  test("freshTail: the un-rolled newest day comes back, exactly as a " +
      "completed rollup would have answered it") {
    val base = preAgg(events5d)
    // lagged store: 10s everywhere, hourly rollup STOPS before day 4
    val lagged = java.nio.file.Files
      .createTempDirectory("graft_fresh_lag_").toString
    Segments.writeMetricSegments(base, lagged)
    Segments.writeMetricSegments(
      MetricsPreAgg.rollup(base.filter(col("chq_timestamp") < Day0 + 4 * Day),
        3600000L), lagged)
    // settled store: the same data with the rollup complete
    val settled = java.nio.file.Files
      .createTempDirectory("graft_fresh_set_").toString
    Segments.writeMetricSegments(base, settled)
    Segments.writeMetricSegments(MetricsPreAgg.rollup(base, 3600000L), settled)

    val (s, e) = (Day0, Day0 + 5 * Day)
    val q = "sum by (attr_svc) (m_fresh)"
    require(StepPolicy.paramsFor(s, e).stepMs == 3600000L)
    def grid(dir: String, fresh: Boolean): Map[(Long, String), Double] =
      MetricSegments.query(spark, dir, q, s, e, freshTail = fresh)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          math.rint(r.getDouble(2) * 1e6) / 1e6).toMap

    val want = grid(settled, fresh = false) // reference answer
    assert(want.keys.map(_._1).max >= Day0 + 4 * Day, "day 4 in reference")
    // the default tier read silently stops at the rollup high-water mark
    val stale = grid(lagged, fresh = false)
    assert(stale.nonEmpty && stale.keys.map(_._1).max < Day0 + 4 * Day,
      "default path must expose the lag this suite exists to bound")
    // the fresh-tail union restores the newest day — and NOTHING else
    // changes: disjoint branches mean no bucket is double-counted
    assert(grid(lagged, fresh = true) == want)
  }

  test("settled-store parity: the default (fresh) door is bit-identical " +
      "to the strict one-frequency scan; absent rollup reads the base") {
    val base = preAgg(events5d)
    val settled = java.nio.file.Files
      .createTempDirectory("graft_fresh_noop_").toString
    Segments.writeMetricSegments(base, settled)
    Segments.writeMetricSegments(MetricsPreAgg.rollup(base, 3600000L), settled)
    val (s, e) = (Day0, Day0 + 5 * Day)
    val q = "sum by (attr_svc) (rate(m_fresh[2h]))"
    // r18 flipped the default to fresh: on a settled store it must equal
    // the strict reference-parity scan exactly (the parity half of the
    // default-flip decision, r17 VERDICT next-round #6)
    val a = MetricSegments.query(spark, settled, q, s, e, freshTail = false)
      .collect().map(_.toString).sorted
    val b = MetricSegments.query(spark, settled, q, s, e)
      .collect().map(_.toString).sorted
    assert(a.nonEmpty && (a sameElements b))

    // rollup never ran at all: the whole scan is the fresh tail under the
    // default door; the strict opt-out keeps the reference behavior
    // (reads the absent tier, empty)
    val baseOnly = java.nio.file.Files
      .createTempDirectory("graft_fresh_only_").toString
    Segments.writeMetricSegments(base, baseOnly)
    assert(MetricSegments.query(spark, baseOnly, q, s, e, freshTail = false)
      .isEmpty, "strict opt-out reads the absent tier")
    assert(MetricSegments.query(spark, baseOnly, q, s, e).count() > 0)
  }

  test("discovery tier plan: per-dateint coarsest-present, gap days " +
      "included, one tier per day") {
    val base = preAgg(events5d)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fresh_disc_").toString
    Segments.writeMetricSegments(base, dir)
    // rollup covers days 0,1,3 — day 2 is a MID-WINDOW gap (partial
    // rollup), day 4 is the fresh tail; both must stay visible
    Segments.writeMetricSegments(
      MetricsPreAgg.rollup(base.filter(
        col("chq_timestamp") < Day0 + 2 * Day ||
          (col("chq_timestamp") >= Day0 + 3 * Day &&
            col("chq_timestamp") < Day0 + 4 * Day)), 3600000L), dir)

    val cond = TierFreshness.discoveryTierCond(spark, dir, Day0, Day0 + 5 * Day)
      .getOrElse(fail("two-tier store must yield a tier plan"))
    val kept = spark.read.parquet(dir).filter(cond)
      .select(col("dateint"), col("freq").cast("long")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(kept == Set(
      (20240101, 3600000L), (20240102, 3600000L), (20240104, 3600000L),
      (20240103, 10000L), (20240105, 10000L)), s"kept=$kept")

    // window scoping: a plan for days 0-1 only must not mention day 4's
    // fine tier (the old dir-wide coarsest pin was window-blind)
    val cond01 = TierFreshness
      .discoveryTierCond(spark, dir, Day0, Day0 + 2 * Day).get
    val kept01 = spark.read.parquet(dir).filter(cond01)
      .select(col("freq").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(kept01 == Set(3600000L), s"kept01=$kept01")
  }

  test("explicit watermark refines the bound to intra-day; monotonic; " +
      "day-granular fallback unchanged without it") {
    val base = preAgg(events5d)
    val halfDay = Day0 + 4 * Day + 12 * 3600000L // rollup through day 4, noon
    val lagged = java.nio.file.Files
      .createTempDirectory("graft_fresh_intra_").toString
    Segments.writeMetricSegments(base, lagged)
    Segments.writeMetricSegments(
      MetricsPreAgg.rollup(base.filter(col("chq_timestamp") < halfDay),
        3600000L), lagged)
    val settled = java.nio.file.Files
      .createTempDirectory("graft_fresh_intra_set_").toString
    Segments.writeMetricSegments(base, settled)
    Segments.writeMetricSegments(MetricsPreAgg.rollup(base, 3600000L), settled)

    val (s, e) = (Day0, Day0 + 5 * Day)
    val q = "sum by (attr_svc) (m_fresh)"
    def grid(dir: String): Map[(Long, String), Double] =
      MetricSegments.query(spark, dir, q, s, e, freshTail = true)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          math.rint(r.getDouble(2) * 1e6) / 1e6).toMap
    val want = grid(settled)

    // WITHOUT a watermark: day 4 has rollup partitions, so the
    // day-granular bound claims it covered — the fresh afternoon is
    // silently absent (exactly the refinement gap the watermark closes)
    assert(grid(lagged).keys.map(_._1).max < halfDay)

    // the rollup job records how far it actually rolled → exact again
    TierFreshness.writeWatermark(spark, lagged, 3600000L, halfDay)
    assert(TierFreshness.readWatermark(spark, lagged, 3600000L)
      .contains(halfDay))
    assert(grid(lagged) == want)

    // monotonic: a replayed/older claim never regresses the bound
    TierFreshness.writeWatermark(spark, lagged, 3600000L, halfDay - Day)
    assert(TierFreshness.readWatermark(spark, lagged, 3600000L)
      .contains(halfDay))

    // discovery: the half-rolled boundary day is no longer eligible for
    // the coarse tier — it falls back to the base tier ENTIRELY (no
    // intra-day seams), while fully-covered days keep the coarse scan
    val cond = TierFreshness.discoveryTierCond(spark, lagged, s, e).get
    val kept = spark.read.parquet(lagged).filter(cond)
      .select(col("dateint"), col("freq").cast("long")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(kept == Set(
      (20240101, 3600000L), (20240102, 3600000L), (20240103, 3600000L),
      (20240104, 3600000L), (20240105, 10000L)), s"kept=$kept")
  }

  test("tierPartitions sees the streaming writer's ingest_batch layout") {
    val base = preAgg(events5d.filter(col("ts_ms") < Day0 + Day))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fresh_batch_").toString
    Segments.writeMetricSegments(base, s"$dir/ingest_batch=0")
    Segments.writeMetricSegments(
      MetricsPreAgg.rollup(base, 3600000L), s"$dir/ingest_batch=rollup-3600000-20240101")
    val pairs = TierFreshness.tierPartitions(spark, dir)
    assert(pairs.toSet == Set((20240101, 10000L), (20240101, 3600000L)),
      s"pairs=$pairs")
  }

  test("tier plan is org-scoped: one tenant's rollup lag cannot widen or " +
      "stale another tenant's plan") {
    val base = preAgg(events5d.filter(col("ts_ms") < Day0 + 2 * Day))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fresh_org_").toString
    // org=a fully rolled; org=b base-only (its rollup job hasn't run)
    Segments.writeMetricSegments(base, dir, org = Some("a"))
    Segments.writeMetricSegments(
      MetricsPreAgg.rollup(base, 3600000L), dir, org = Some("a"))
    Segments.writeMetricSegments(base, dir, org = Some("b"))

    val pa = TierFreshness.tierPartitions(spark, dir, Some("a"))
    val pb = TierFreshness.tierPartitions(spark, dir, Some("b"))
    assert(pa.map(_._2).toSet == Set(10000L, 3600000L))
    assert(pb.map(_._2).toSet == Set(10000L))
    // org a's discovery plan reads coarse only; org b's falls back to base
    val ca = TierFreshness
      .discoveryTierCond(spark, dir, Day0, Day0 + 2 * Day, Some("a")).get
    val keptA = spark.read.parquet(dir)
      .filter(col("org") === "a" && ca)
      .select(col("freq").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(keptA == Set(3600000L))
    val cb = TierFreshness
      .discoveryTierCond(spark, dir, Day0, Day0 + 2 * Day, Some("b")).get
    val keptB = spark.read.parquet(dir)
      .filter(col("org") === "b" && cb)
      .select(col("freq").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(keptB == Set(10000L))
  }

  test("settled-store scan identity: the default (fresh) door reads ZERO " +
      "base-tier files — the fresh branch prunes away at file listing") {
    val base = preAgg(events5d)
    val settled = java.nio.file.Files
      .createTempDirectory("graft_fresh_scanid_").toString
    Segments.writeMetricSegments(base, settled)
    Segments.writeMetricSegments(MetricsPreAgg.rollup(base, 3600000L), settled)
    // 14-day span → hourly step → hourly tier; the union's base branch is
    // `dateint >= dayEnd(hwm)` — past every partition, so the DEFAULT
    // door's physical scan is file-for-file the strict door's (the parity
    // half of the r18 default flip: fresh costs metadata, never I/O, on a
    // settled store). Measured with the scan's actual numFiles metric —
    // inputFiles ignores partition pruning.
    def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case st: QueryStageExec => leaves(st.plan)
        case other => other.collectLeaves().flatMap {
          case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
          case st: QueryStageExec => leaves(st.plan)
          case l => Seq(l)
        }
      }
      leaves(df.queryExecution.executedPlan).collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numFiles").value
      }.sum
    }
    val q = "sum by (attr_svc) (m_fresh)"
    val fresh = scanFiles(
      MetricSegments.query(spark, settled, q, Day0, Day0 + 14 * Day))
    val strict = scanFiles(
      MetricSegments.query(spark, settled, q, Day0, Day0 + 14 * Day,
        freshTail = false))
    assert(strict > 0)
    assert(fresh == strict,
      s"fresh default read $fresh files vs strict $strict on a settled store")
    // stronger than scan identity: the settled short-circuit makes the
    // fresh condition LITERALLY the plain tier equality — no dead tail
    // branch, no extra per-row disjunct evaluation
    val cond = TierFreshness.queryTierCond(spark, settled, 3600000L)
    assert(cond.toString == (col("freq") === 3600000L).toString,
      s"settled store must short-circuit to the plain equality: $cond")
  }

  test("batch rollup maintenance: whole-(tier,day) rewrite, stamped " +
      "watermark, gap-day crash resilience — the default door answers " +
      "exactly like a settled store at every stage") {
    val base = preAgg(events5d)
    val cut = Day0 + 4 * Day + 12 * 3600000L // ingest paused mid-day-5
    val dir = java.nio.file.Files
      .createTempDirectory("graft_batch_maint_").toString
    Segments.writeMetricSegments(base.filter(col("chq_timestamp") < cut), dir)
    // r17 VERDICT #2: the batch chain must stamp the rolled-through
    // watermark too, not just the streaming rebuild
    MetricsPreAgg.maintainRollupsBatch(spark, dir,
      rollupTiers = Seq(3600000L))
    // last 10-min sample before the pause is at cut − 600 000; the claim
    // is "every base row < maxTs + 1"
    assert(TierFreshness.readWatermark(spark, dir, 3600000L)
      .contains(cut - 600000L + 1L))

    // late data lands on the rolled boundary day + the next day, with NO
    // re-maintenance: the default door must still answer exactly (rolled
    // half from the tier below the watermark, fresh tail from base)
    Segments.writeMetricSegments(base.filter(col("chq_timestamp") >= cut), dir)
    val settled = java.nio.file.Files
      .createTempDirectory("graft_batch_set_").toString
    Segments.writeMetricSegments(base, settled)
    Segments.writeMetricSegments(MetricsPreAgg.rollup(base, 3600000L), settled)
    // 14-day span → hourly step → the 3600000 tier the maintenance wrote
    val (s, e) = (Day0, Day0 + 14 * Day)
    val q = "sum by (attr_svc) (m_fresh)"
    def grid(d: String): Map[(Long, String), Double] =
      MetricSegments.query(spark, d, q, s, e)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          math.rint(r.getDouble(2) * 1e6) / 1e6).toMap
    val want = grid(settled)
    assert(want.nonEmpty && grid(dir) == want)

    // crash between a tier-day delete and its rewrite leaves a MID-WINDOW
    // gap day in the tier; the query door's gap-day branch (r17 ADVICE)
    // serves it from the base tier — still exact
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/dateint=20240102/freq=3600000"), true)
    TierFreshness.invalidateMeta(dir) // out-of-band mutation, not a writer API
    assert(grid(dir) == want)

    // incremental catch-up re-roll: only the days >= the boundary re-roll,
    // the gap day stays un-rolled, so the watermark must NOT advance (the
    // claim would be false for the gap day) — yet answers stay exact
    MetricsPreAgg.maintainRollupsBatch(spark, dir,
      rollupTiers = Seq(3600000L), sinceDateint = Some(20240105))
    assert(TierFreshness.readWatermark(spark, dir, 3600000L)
      .contains(cut - 600000L + 1L), "stamp must be withheld over a gap day")
    assert(grid(dir) == want)

    // full re-maintenance heals the gap and advances the stamp to the new
    // base high-water mark; the strict door now equals settled too
    MetricsPreAgg.maintainRollupsBatch(spark, dir,
      rollupTiers = Seq(3600000L))
    val lastTs = base.agg(org.apache.spark.sql.functions.max(col("chq_timestamp")))
      .collect()(0).getLong(0)
    assert(TierFreshness.readWatermark(spark, dir, 3600000L)
      .contains(lastTs + 1L))
    val strict = MetricSegments.query(spark, dir, q, s, e, freshTail = false)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        math.rint(r.getDouble(2) * 1e6) / 1e6).toMap
    assert(strict == want)
  }

  test("batch rollup maintenance runs as many Spark jobs on a 6-day store " +
      "as on a 2-day one, and writes one partition per (tier, day)") {
    val tiers = Seq(300000L, 3600000L)
    def maintain(days: Int): (Long, Int) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_maint_jobs_${days}d_").toString
      Segments.writeMetricSegments(preAgg(events(days)), dir)
      val tc = new TaskCounters
      spark.sparkContext.addSparkListener(tc)
      try {
        tc.quietCpuNs(); tc.reset()
        MetricsPreAgg.maintainRollupsBatch(spark, dir, rollupTiers = tiers)
        tc.quietCpuNs()
      } finally spark.sparkContext.removeSparkListener(tc)
      val parts = TierFreshness.tierPartitions(spark, dir)
        .count { case (_, f) => tiers.contains(f) }
      (tc.jobs.get, parts)
    }
    val (jobs2, parts2) = maintain(2)
    val (jobs6, parts6) = maintain(6)
    assert(parts2 == tiers.size * 2 && parts6 == tiers.size * 6,
      s"tier partitions $parts2 / $parts6")
    assert(jobs2 > 0 && jobs6 == jobs2, s"Spark jobs: 2 days $jobs2, 6 days $jobs6")
  }

  test("batch and streaming rollup rebuilds of the same base rows agree: " +
      "every rollup column bit-exact, sketches equal decoded, one watermark") {
    val tiers = Seq(300000L, 3600000L)
    // non-integral values, so a float sum taken in another order would show
    val base = MetricsPreAgg.preAggregate(events(3), col("ts_ms"), lit("m_fresh"),
      col("v") * 0.37 + 0.013, Seq("attr_svc" -> col("attr_svc")), freqMs = 10000L)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val batchDir = tmp("graft_rebuild_batch_")
    Segments.writeMetricSegments(base, batchDir)
    MetricsPreAgg.maintainRollupsBatch(spark, batchDir, rollupTiers = tiers)
    // the same base rows streamed in two micro-batches: days 1-2, then day 3
    val in = tmp("graft_rebuild_in_")
    base.filter(col("chq_timestamp") < Day0 + 2 * Day).coalesce(1)
      .write.mode("append").parquet(in)
    base.filter(col("chq_timestamp") >= Day0 + 2 * Day).coalesce(1)
      .write.mode("append").parquet(in)
    val streamDir = tmp("graft_rebuild_stream_")
    graft.streaming.StreamingIngest.segmentWriteStream(
      spark.readStream.schema(base.schema).option("maxFilesPerTrigger", "1")
        .parquet(in),
      identity, streamDir, tmp("graft_rebuild_commit_"), tmp("graft_rebuild_ckpt_"),
      rollupTiers = tiers).awaitTermination()
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    // every non-sketch column (doubles as raw bits), plus the decoded
    // sketch's count, min, max and quantiles; its exact `sum` double
    // depends on the merge order
    def rolled(dir: String, t: Long): Seq[String] = {
      val df = spark.read.parquet(dir).filter(col("freq") === t)
        .drop("dateint", "freq", "ingest_batch")
      val cols = df.columns.filterNot(_ == "chq_sketch").sorted
      df.select((cols :+ "chq_sketch").map(col): _*).collect().map { r =>
        val vals = cols.indices.map(i => r.get(i) match {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case v => v
        })
        val sk = graft.sketch.DDSketch.deserialize(r.getAs[Array[Byte]](cols.length))
        (vals ++ (Seq(sk.count.toDouble, sk.min, sk.max) ++ qs.map(sk.quantile))
          .map(java.lang.Double.doubleToRawLongBits)).mkString(",")
      }.toSeq.sorted
    }
    tiers.foreach { t =>
      val want = rolled(batchDir, t)
      val buckets = base.select(col("chq_timestamp") - col("chq_timestamp") % t,
        col("chq_tid")).distinct().count()
      assert(want.size == buckets, s"tier $t rows")
      assert(rolled(streamDir, t) == want, s"tier $t")
    }
    val lastTs = base.agg(max(col("chq_timestamp"))).head().getLong(0)
    tiers.foreach { t =>
      assert(TierFreshness.readWatermark(spark, batchDir, t).contains(lastTs + 1L))
      assert(TierFreshness.readWatermark(spark, streamDir, t).contains(lastTs + 1L))
    }
  }

  test("metadata cache: repeated tier plans cost zero extra filesystem " +
      "reads inside the TTL; in-process writes invalidate; TTL=0 disables") {
    val base = preAgg(events5d.filter(col("ts_ms") < Day0 + 2 * Day))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_meta_cache_").toString
    Segments.writeMetricSegments(base, dir)
    Segments.writeMetricSegments(MetricsPreAgg.rollup(base, 3600000L), dir)
    def reads = TierFreshness.metadataReadCount
    // cold calls list (the discovery plan also reads every tier's
    // watermark sidecar); five hot rounds list nothing (the S3 contract:
    // ≤ one LIST per TTL window per (dir, org), r17 VERDICT #3)
    TierFreshness.tierPartitions(spark, dir)
    TierFreshness.discoveryTierPlan(spark, dir, Day0, Day0 + 2 * Day)
    val warm = reads
    (1 to 5).foreach { _ =>
      TierFreshness.tierPartitions(spark, dir)
      TierFreshness.readWatermark(spark, dir, 3600000L)
      TierFreshness.discoveryTierPlan(spark, dir, Day0, Day0 + 2 * Day)
    }
    assert(reads == warm, "hot metadata calls must be served from cache")
    // an in-process segment write invalidates: the next plan re-lists and
    // sees the new day (read-your-writes)
    Segments.writeMetricSegments(
      preAgg(events5d.filter(col("ts_ms") >= Day0 + 2 * Day &&
        col("ts_ms") < Day0 + 3 * Day)), dir)
    assert(TierFreshness.tierPartitions(spark, dir)
      .exists(_._1 == 20240103), "write must be visible immediately")
    assert(reads > warm)
    // a watermark write refreshes its sidecar entry
    TierFreshness.writeWatermark(spark, dir, 3600000L, Day0 + Day)
    assert(TierFreshness.readWatermark(spark, dir, 3600000L)
      .contains(Day0 + Day))
    // TTL=0: every call re-lists (the opt-out for out-of-band writers)
    spark.conf.set(TierFreshness.MetaTtlKey, "0")
    try {
      val n0 = reads
      TierFreshness.tierPartitions(spark, dir)
      TierFreshness.tierPartitions(spark, dir)
      assert(reads == n0 + 4, "TTL=0 must re-glob (2 layout globs per call)")
    } finally spark.conf.unset(TierFreshness.MetaTtlKey)
  }
}
