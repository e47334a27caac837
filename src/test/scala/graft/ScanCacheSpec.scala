package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.{MetricSegments, ScanCache, TierFreshness}
import graft.ingest.{FingerprintIndex, MetricsPreAgg, Segments}

/** Gates on the scan-listing cache (r18): the query doors must not pay a
  * whole-store file listing per request — on S3 that is a recursive LIST
  * (plus mergeSchema footer reads) per query, per SSE slice, where the
  * reference pays one indexed PG lookup (lrdb/queries/metric_seg.sql).
  * Contract mirrors the freshness metadata cache: ≤ one listing per
  * (dir, TTL window), in-process writers invalidate (read-your-writes),
  * TTL=0 opts out.
  */
class ScanCacheSpec extends AnyFunSuite {
  import TestSpark._

  private val Day0 = 1704067200000L // 2024-01-01T00:00:00Z

  private def mkEvents(days: Int) = {
    import spark.implicits._
    (0 until days * 24).flatMap { h =>
      (0 until 3).map(k => (Day0 + h * 3600000L, s"svc-$k", (h + k).toDouble))
    }.toDF("ts_ms", "attr_svc", "v")
  }

  private def preAgg(df: org.apache.spark.sql.DataFrame) =
    MetricsPreAgg.preAggregate(df, col("ts_ms"), lit("m_scan"), col("v"),
      Seq("attr_svc" -> col("attr_svc")), freqMs = 10000L, withSketch = false)

  test("repeated door queries cost zero extra listings inside the TTL; " +
      "a segment write invalidates and the new rows are visible") {
    // the default 30 s TTL can expire across collect()s on a cold, loaded
    // JVM — the gate is about listings-per-TTL-window, so pin a window
    // comfortably wider than the test
    spark.conf.set(ScanCache.TtlKey, "600000")
    try {
    val dir = java.nio.file.Files.createTempDirectory("graft_scan_cache_")
      .toString
    Segments.writeMetricSegments(preAgg(mkEvents(2)), dir)
    def n = ScanCache.listingCount
    val q = "sum(m_scan)"
    def run() = MetricSegments.query(spark, dir, q, Day0, Day0 + 5 * 86400000L)
      .collect().map(_.toString).toSet
    val first = run()
    assert(first.nonEmpty)
    val warm = n
    val again = (1 to 5).map(_ => run())
    assert(n == warm,
      s"5 hot door queries must be listing-free (paid ${n - warm})")
    assert(again.forall(_ == first))
    // read-your-writes: an in-process segment write invalidates the
    // cached listing; the next query sees the appended day
    Segments.writeMetricSegments(
      preAgg(mkEvents(3).filter(col("ts_ms") >= Day0 + 2 * 86400000L)), dir)
    val extended = run()
    assert(extended.size > first.size,
      "a write through the segment writer must be visible immediately")
    assert(n > warm)
    } finally spark.conf.unset(ScanCache.TtlKey)
  }

  test("the no-index probe is cached too, and an index build invalidates " +
      "it; TTL=0 disables caching entirely") {
    spark.conf.set(ScanCache.TtlKey, "600000")
    val dir = java.nio.file.Files.createTempDirectory("graft_scan_idx_")
      .toString
    Segments.writeMetricSegments(preAgg(mkEvents(1)), dir)
    def n = ScanCache.listingCount
    def run() = MetricSegments.query(spark, dir, "sum(m_scan)",
      Day0, Day0 + 86400000L).collect()
    run()
    val warm = n
    run()
    assert(n == warm, "the index-miss probe must not exists()+list per query")
    // building the index invalidates the cached miss: the next query
    // reads the index (one listing for the index dir, none for the store)
    FingerprintIndex.buildLogIndex(spark, dir)
    val idxCold = n
    run()
    assert(n == idxCold + 1,
      s"after an index build exactly the index dir re-lists (got ${n - idxCold})")
    run()
    assert(n == idxCold + 1)
    // TTL=0: every door query lists afresh (store + index)
    spark.conf.set(ScanCache.TtlKey, "0")
    try {
      val n0 = n
      run()
      assert(n > n0, "TTL=0 must re-list per query")
    } finally spark.conf.unset(ScanCache.TtlKey)
  }

  test("invalidateMeta fans out: compaction and retention expiry drop " +
      "the cached listing through the existing writer hooks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scan_inv_")
      .toString
    Segments.writeMetricSegments(preAgg(mkEvents(2)), dir)
    val before = MetricSegments.query(spark, dir, "sum(m_scan)",
      Day0, Day0 + 3 * 86400000L).collect().length
    assert(before > 0)
    // expire day 1: the door must not serve the stale cached snapshot
    // (whose files are deleted — the query would fail or double-serve)
    graft.ingest.Segments.expireSegments(spark, dir, 20240102)
    val after = MetricSegments.query(spark, dir, "sum(m_scan)",
      Day0, Day0 + 3 * 86400000L).collect().length
    assert(after > 0 && after < before,
      s"expiry must be visible to the door immediately ($before -> $after)")
    // ScanCache.read on a missing dir throws and must NOT cache the
    // failure: creating the store right after is visible at once
    val fresh = java.nio.file.Files.createTempDirectory("graft_scan_new_")
      .toString + "/store"
    intercept[org.apache.spark.sql.AnalysisException] {
      ScanCache.read(spark, fresh)
    }
    Segments.writeMetricSegments(preAgg(mkEvents(1)), fresh)
    assert(ScanCache.read(spark, fresh).count() > 0)
  }

  test("non-standard-layout freq probe is cached: repeated discovery " +
      "scans run zero Spark jobs and zero metadata reads inside the TTL") {
    // a store with a freq dimension but NO dateint partitioning is
    // outside both partition-glob shapes, so segmentScanWithPlan falls
    // back to the distinct-tier probe — a (cheap, footer-only) Spark job
    // that used to run per request in a serving path (r18 VERDICT #4)
    spark.conf.set(TierFreshness.MetaTtlKey, "600000")
    spark.conf.set(ScanCache.TtlKey, "600000")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_freqprobe_")
        .toString + "/store"
      val base = mkEvents(1).withColumn("chq_timestamp", col("ts_ms"))
      base.withColumn("freq", lit(10000L))
        .union(base.withColumn("freq", lit(60000L)))
        .write.partitionBy("freq").parquet(dir)
      val jobs = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        def scan() = graft.api.Discovery.segmentScanWithPlan(
          spark, dir, Day0, Day0 + 86400000L)
        val (_, plan1) = scan()
        assert(plan1.flatMap(_.pinned).contains(60000L),
          s"probe must pin the coarsest tier, got $plan1")
        Thread.sleep(300) // drain async listener events
        val warmJobs = jobs.get()
        assert(warmJobs >= 1, "the first probe runs a Spark job")
        val warmMeta = TierFreshness.metadataReadCount
        val plans = (1 to 5).map(_ => scan()._2)
        Thread.sleep(300)
        assert(jobs.get() == warmJobs,
          s"hot discovery scans must be job-free (paid ${jobs.get() - warmJobs})")
        assert(TierFreshness.metadataReadCount == warmMeta,
          "hot discovery scans must be metadata-read-free")
        assert(plans.forall(_ == plan1))
      } finally spark.sparkContext.removeSparkListener(l)
    } finally {
      spark.conf.unset(TierFreshness.MetaTtlKey)
      spark.conf.unset(ScanCache.TtlKey)
    }
  }

  test("an entry whose owning session was collected is never served: the " +
      "identity-hash key alone is not trusted") {
    spark.conf.set(ScanCache.TtlKey, "600000")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_scan_own_")
        .toString
      Segments.writeMetricSegments(preAgg(mkEvents(1)), dir)
      val rows = ScanCache.read(spark, dir).count()
      val warm = ScanCache.listingCount
      assert(ScanCache.read(spark, dir).count() == rows)
      assert(ScanCache.listingCount == warm, "hit expected before orphaning")
      // simulate identityHashCode reuse: the cached entry's owner is gone,
      // so a session carrying the same key hash must NOT get the orphaned
      // plan — it re-lists and builds its own
      ScanCache.orphanOwnersForTest()
      assert(ScanCache.read(spark, dir).count() == rows)
      assert(ScanCache.listingCount == warm + 1,
        "an orphaned entry must be replaced by a fresh listing")
    } finally spark.conf.unset(ScanCache.TtlKey)
  }

  test("the index probe of an absent dir is a quiet, cached miss; once the " +
      "dir is written and invalidated it is visible") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("scan-cache-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    // listener-bus events arrive asynchronously: a job submitted after the
    // probe ends on the shared queue only after every earlier event
    def drain(): Unit = {
      val done = new java.util.concurrent.CountDownLatch(1)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = done.countDown()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        spark.range(1).count()
        assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally spark.sparkContext.removeSparkListener(l)
    }
    // Spark's observation listener (registered once a session has run an
    // observed action, as dedup does) is what logs a failed read's trace
    spark.range(1).observe(org.apache.spark.sql.Observation("scan_probe"),
      count(lit(1)).as("n")).collect()
    spark.conf.set(ScanCache.TtlKey, "600000")
    root.addAppender(capture)
    try {
      val idx = java.nio.file.Files.createTempDirectory("graft_scan_probe_")
        .toString + "/store.fpindex"
      assert(ScanCache.tryRead(spark, idx).isEmpty)
      drain()
      assert(errors.isEmpty, s"an absent index logged errors: $errors")
      val listed = ScanCache.listingCount
      assert(ScanCache.tryRead(spark, idx).isEmpty)
      assert(ScanCache.listingCount == listed, "the miss must be cached")
      spark.range(3).write.parquet(idx)
      assert(ScanCache.tryRead(spark, idx).isEmpty,
        "a cached miss holds until invalidated or expired")
      ScanCache.invalidate(idx)
      assert(ScanCache.tryRead(spark, idx).map(_.count()).contains(3L))
    } finally {
      root.removeAppender(capture)
      capture.stop()
      spark.conf.unset(ScanCache.TtlKey)
    }
  }

  test("the freq-probe cache stays within its entry cap however many " +
      "distinct query windows it sees") {
    spark.conf.set(ScanCache.TtlKey, "600000")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_probe_cap_")
        .toString
      val windows = graft.api.DirCache.Cap + 100
      (0 until windows).foreach { i =>
        assert(TierFreshness.cachedFreqProbe(spark, dir, None, 20240101 + i,
          20240101 + i)(Seq(10000L)) == Seq(10000L))
        assert(TierFreshness.freqProbeCacheSize <= graft.api.DirCache.Cap,
          s"${TierFreshness.freqProbeCacheSize} entries after ${i + 1} windows")
      }
      // the newest window is still served from the cache
      val reads = TierFreshness.metadataReadCount
      val last = 20240101 + windows - 1
      TierFreshness.cachedFreqProbe(spark, dir, None, last, last)(Seq(10000L))
      assert(TierFreshness.metadataReadCount == reads)
    } finally spark.conf.unset(ScanCache.TtlKey)
  }

  test("the swap-lock table keeps its size however many dirs are listed") {
    val root = java.nio.file.Files.createTempDirectory("graft_scan_locks_")
      .toString
    val locks = ScanCache.swapLockCount
    (0 until 1000).foreach(i =>
      assert(ScanCache.tryRead(spark, s"$root/absent-$i").isEmpty))
    assert(ScanCache.swapLockCount == locks,
      s"${ScanCache.swapLockCount} swap locks after 1000 dirs, $locks before")
  }
}
