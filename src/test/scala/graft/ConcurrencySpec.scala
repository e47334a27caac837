package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{MetricSegments, ScanCache, TierFreshness}
import graft.ingest.{MetricsPreAgg, Segments}

/** Concurrency gates (r18): the serving layer runs many door queries,
  * discovery scans, rollup jobs, compactions, and watermark stamps against
  * ONE store at once — the reference gets its isolation from immutable S3
  * segments plus a transactional PG index (lrdb/queries/metric_seg.sql); a
  * filesystem store has to earn the same properties explicitly:
  *
  *  - same-JVM readers never observe the compaction swap's missing-dir
  *    window (per-dir read/write lock around the rename pair);
  *  - a request whose PLANNED file snapshot a swap invalidated mid-flight
  *    re-plans once and succeeds ([[ScanCache.withSwapRetry]]) instead of
  *    surfacing a spurious failure for data that never stopped existing;
  *  - concurrent watermark writers/readers never crash a request and never
  *    observe a torn value (tmp+rename; reads degrade to the day bound);
  *  - a crashed compactor's staged store is restored by the next reader.
  *
  * These tests create the races deterministically where possible (staged
  * dir, orphaned owner) and by sustained interleaving where not
  * (compaction loop vs query loop) — every query must return the exact
  * invariant total, every time.
  */
class ConcurrencySpec extends AnyFunSuite {
  import TestSpark._

  private val Day0 = 1704067200000L // 2024-01-01T00:00:00Z

  private def mkEvents(days: Int, perHour: Int = 4) = {
    import spark.implicits._
    (0 until days * 24).flatMap { h =>
      (0 until perHour).map(k =>
        (Day0 + h * 3600000L + k * 60000L, s"svc-${k % 3}", 1.0))
    }.toDF("ts_ms", "attr_svc", "v")
  }

  private def preAgg(df: org.apache.spark.sql.DataFrame) =
    MetricsPreAgg.preAggregate(df, col("ts_ms"), lit("m_conc"), col("v"),
      Seq("attr_svc" -> col("attr_svc")), freqMs = 10000L, withSketch = false)

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  /** total of m_conc over the whole window through the default door —
    * the invariant every concurrent reader must reproduce exactly
    */
  private def total(dir: String): Double = {
    val rows = MetricSegments.query(spark, dir, "sum(m_conc)",
      Day0, Day0 + 3 * 86400000L).agg(sum("value")).collect()
    rows.head.getDouble(0)
  }

  test("queries racing a compaction loop: every read returns the exact " +
      "total, with the swap-retry absorbing snapshot invalidation") {
    val dir = tmpDir("graft_conc_compact_")
    Segments.writeMetricSegments(preAgg(mkEvents(2)), dir,
      maxRecordsPerFile = 50) // many small files so compaction has work
    val want = total(dir)
    assert(want > 0)

    val pool = Executors.newFixedThreadPool(6)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new AtomicReference[List[String]](Nil)
    val reads = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    def record(m: String): Unit =
      failures.updateAndGet(m :: _)

    // 4 reader threads: door query end-to-end, swap-retry-wrapped like the
    // serving layer; totals must be exact on every read
    (0 until 4).foreach { _ =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          while (!stop.get()) {
            try {
              val v = ScanCache.withSwapRetry(spark, Seq(dir))(total(dir))
              if (math.abs(v - want) > 1e-9)
                record(s"total drifted: $v != $want")
              reads.incrementAndGet()
            } catch {
              // two swaps landing inside ONE action and its retry is a
              // legal loss under the retry-once contract — the next
              // request succeeds; anything else is a real failure
              case t: Throwable if ScanCache.isVanishedSnapshot(t) => ()
              case t: Throwable =>
                record(s"reader failed: ${t.getMessage}")
            }
          }
        }
      })
    }
    // 1 compactor thread: back-to-back swaps while readers hammer
    val compactions = new AtomicInteger(0)
    pool.submit(new Runnable {
      override def run(): Unit = {
        start.await()
        while (!stop.get() && compactions.get() < 4) {
          try {
            Segments.compactMetricSegments(spark, dir)
            compactions.incrementAndGet()
          } catch { case t: Throwable =>
            record(s"compactor failed: ${t.getMessage}")
          }
        }
      }
    })
    start.countDown()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (compactions.get() < 4 && failures.get().isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(50)
    stop.set(true)
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get().isEmpty, failures.get().take(3).mkString("; "))
    assert(compactions.get() >= 4, s"only ${compactions.get()} compactions ran")
    assert(reads.get() >= 4, s"only ${reads.get()} concurrent reads completed")
    assert(math.abs(total(dir) - want) < 1e-9)
  }

  test("a crashed compactor's staged store is restored by the next door " +
      "query instead of serving a missing-path failure") {
    val dir = tmpDir("graft_conc_staged_")
    Segments.writeMetricSegments(preAgg(mkEvents(1)), dir)
    val want = total(dir)
    // simulate the crash window: live dir renamed aside, process died
    // before the tmp→dir rename (no tmp left behind)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    TierFreshness.invalidateMeta(dir)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".compact_old")))
    val got = total(dir) // ScanCache.load recovers the staged dir inline
    assert(math.abs(got - want) < 1e-9)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".compact_old")))
  }

  test("a reader landing in a cross-process swap window waits for the " +
      "swap to finish instead of stealing the staged dir") {
    val dir = tmpDir("graft_conc_xproc_")
    Segments.writeMetricSegments(preAgg(mkEvents(1)), dir)
    val want = total(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    TierFreshness.invalidateMeta(dir)
    // simulate another PROCESS mid-swap (its locks are invisible here):
    // dir staged aside now, completed 500 ms from now
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".compact_old")))
    val restorer = new Thread(() => {
      Thread.sleep(500)
      fs.rename(new org.apache.hadoop.fs.Path(dir + ".compact_old"),
        new org.apache.hadoop.fs.Path(dir))
    })
    restorer.start()
    val got = total(dir) // recoverStaged's wait loop must see the restore
    restorer.join()
    assert(math.abs(got - want) < 1e-9)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".compact_old")))
  }

  test("concurrent watermark stamps and reads: no request ever fails, no " +
      "torn value is ever observed, the final value is the maximum") {
    val dir = tmpDir("graft_conc_wm_")
    Segments.writeMetricSegments(preAgg(mkEvents(1)), dir)
    spark.conf.set(TierFreshness.MetaTtlKey, "0") // force physical reads
    try {
      val values = (1 to 200).map(i => Day0 + i * 3600000L)
      val legal = values.toSet
      val pool = Executors.newFixedThreadPool(4)
      val failures = new AtomicReference[List[String]](Nil)
      val start = new CountDownLatch(1)
      val writersDone = new CountDownLatch(2)
      // 2 writers stamp interleaved subsets; best-effort monotonic
      (0 until 2).foreach { w =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            try values.zipWithIndex.collect {
              case (v, i) if i % 2 == w => v
            }.foreach(v =>
              TierFreshness.writeWatermark(spark, dir, 3600000L, v))
            catch { case t: Throwable =>
              failures.updateAndGet(s"writer: ${t.getMessage}" :: _)
            } finally writersDone.countDown()
          }
        })
      }
      // 2 readers poll the sidecar the whole time: every observation must
      // be a value some writer wrote (or None mid-rename) — never torn
      (0 until 2).foreach { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            while (writersDone.getCount > 0) {
              try TierFreshness.readWatermark(spark, dir, 3600000L) match {
                case Some(v) if !legal(v) =>
                  failures.updateAndGet(s"torn read: $v" :: _)
                case _ => ()
              } catch { case t: Throwable =>
                failures.updateAndGet(s"reader: ${t.getMessage}" :: _)
              }
            }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      assert(failures.get().isEmpty, failures.get().take(3).mkString("; "))
      // single-writer-at-a-time guard is best-effort under concurrency,
      // but with each writer's own sequence ascending the final value must
      // be one of the two writers' maxima — and monotonic per writer means
      // it is at least the second-largest overall
      val fin = TierFreshness.readWatermark(spark, dir, 3600000L)
      assert(fin.exists(v => v >= values(values.size - 2)),
        s"final watermark $fin regressed below both writers' maxima")
    } finally spark.conf.unset(TierFreshness.MetaTtlKey)
  }

  test("HTTP SSE queries racing a compaction loop: every ok response " +
      "carries the exact rows; the serving-layer retry absorbs the swaps") {
    val dir = tmpDir("graft_conc_http_")
    Segments.writeMetricSegments(preAgg(mkEvents(2)), dir,
      maxRecordsPerFile = 50)
    val api = new graft.api.HttpApi(spark, metricsDir = Some(dir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val q = java.net.URLEncoder.encode("sum(m_conc)", "UTF-8")
      val (s, e) = (Day0, Day0 + 2 * 86400000L)
      val client = java.net.http.HttpClient.newHttpClient()
      def sse(): (Boolean, Seq[String], String) = {
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"$base/api/v1/metrics/query?q=$q&s=$s&e=$e"))
            .GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        val events = resp.body().linesIterator.filter(_.startsWith("data: "))
          .map(_.stripPrefix("data: ")).toSeq
        val ok = events.exists(ev =>
          ev.startsWith("""{"type":"done"""") && ev.contains("\"status\":\"ok\""))
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val rows = events.filter(_.startsWith("""{"type":"result""""))
          .flatMap { ev =>
            val rs = om.readTree(ev).get("data").get("rows")
            (0 until rs.size).map(i => rs.get(i).toString)
          }
        (resp.statusCode() == 200 && ok, rows.sorted,
          events.filterNot(_.startsWith("""{"type":"result"""")).mkString("|"))
      }
      val (okFirst, want, _) = sse()
      assert(okFirst && want.nonEmpty)
      val firstError = new AtomicReference[String](null)
      val pool = Executors.newFixedThreadPool(4)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failures = new AtomicReference[List[String]](Nil)
      val okResponses = new AtomicInteger(0)
      val compactions = new AtomicInteger(0)
      val start = new CountDownLatch(1)
      (0 until 3).foreach { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            while (!stop.get()) {
              try {
                val (ok, rows, tailEvents) = sse()
                if (ok) {
                  // an ok response must NEVER carry partial rows — the
                  // retry either fully recovers or the stream errors
                  if (rows != want)
                    failures.updateAndGet(
                      s"ok response with wrong rows: ${rows.size}/${want.size}" :: _)
                  else okResponses.incrementAndGet()
                }
                // a done-error is the documented double-race residue; the
                // client retries the request — tolerated, never wrong
                else firstError.compareAndSet(null, tailEvents.take(500))
              } catch { case t: Throwable =>
                failures.updateAndGet(s"client: ${t.getMessage}" :: _)
              }
            }
          }
        })
      }
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          while (!stop.get() && compactions.get() < 3) {
            try {
              Segments.compactMetricSegments(spark, dir)
              compactions.incrementAndGet()
            } catch { case t: Throwable =>
              failures.updateAndGet(s"compactor: ${t.getMessage}" :: _)
            }
          }
        }
      })
      start.countDown()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (compactions.get() < 3 && failures.get().isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(50)
      stop.set(true)
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      assert(failures.get().isEmpty, failures.get().take(3).mkString("; "))
      assert(compactions.get() >= 3)
      assert(okResponses.get() >= 3,
        s"only ${okResponses.get()} ok responses during the compaction " +
          s"storm; first non-ok tail: ${firstError.get}")
    } finally api.stop()
  }

  test("a SECOND JVM compacting the store (graft.Maintain) while this " +
      "JVM serves queries: reads stay exact with no in-process locks to " +
      "lean on — the cross-process recovery story end-to-end") {
    val dir = tmpDir("graft_conc_2jvm_")
    Segments.writeMetricSegments(preAgg(mkEvents(2)), dir,
      maxRecordsPerFile = 50)
    val want = total(dir)
    // short TTL so readers re-list often enough to race the child's swap
    spark.conf.set(graft.api.ScanCache.TtlKey, "200")
    spark.conf.set(TierFreshness.MetaTtlKey, "200")
    try {
      val addOpens = Seq(
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
        .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
      val cmd = (Seq("java") ++ addOpens ++ Seq("-Xmx2g",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", System.getProperty("java.class.path"),
        "graft.Maintain", "compact-metrics", dir)).toArray
      val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val failures = new AtomicReference[List[String]](Nil)
      val reads = new AtomicInteger(0)
      val pool = Executors.newFixedThreadPool(2)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      (0 until 2).foreach { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            while (!stop.get()) {
              try {
                val v = ScanCache.withSwapRetry(spark, Seq(dir))(total(dir))
                if (math.abs(v - want) > 1e-9)
                  failures.updateAndGet(s"total drifted: $v != $want" :: _)
                else reads.incrementAndGet()
              } catch {
                case t: Throwable if ScanCache.isVanishedSnapshot(t) => ()
                case t: Throwable =>
                  failures.updateAndGet(s"reader: ${t.getMessage}" :: _)
              }
            }
          }
        })
      }
      val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
      val exited = child.waitFor(180, TimeUnit.SECONDS)
      stop.set(true)
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      assert(exited && child.exitValue() == 0,
        s"maintenance JVM failed: ${out.linesIterator.toSeq.takeRight(5).mkString(" | ")}")
      assert(out.contains("[maintain] compacted metric segments"))
      assert(failures.get().isEmpty, failures.get().take(3).mkString("; "))
      assert(reads.get() >= 3, s"only ${reads.get()} reads during the child run")
      // post-swap: this JVM's caches converge on the compacted store
      assert(math.abs(total(dir) - want) < 1e-9)
    } finally {
      spark.conf.unset(graft.api.ScanCache.TtlKey)
      spark.conf.unset(TierFreshness.MetaTtlKey)
    }
  }

  test("discovery scans racing segment appends: every scan succeeds and " +
      "returns one of the two legal snapshots") {
    val dir = tmpDir("graft_conc_disc_")
    Segments.writeMetricSegments(preAgg(mkEvents(1)), dir)
    val winEnd = Day0 + 5 * 86400000L
    def values(): Set[String] = graft.api.Discovery.tagValues(
      graft.api.Discovery.segmentScan(spark, dir, Day0, winEnd),
      "attr_svc", Day0, winEnd).collect().map(_.getString(0)).toSet
    val before = values()
    assert(before.nonEmpty)
    val pool = Executors.newFixedThreadPool(4)
    val failures = new AtomicReference[List[String]](Nil)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val start = new CountDownLatch(1)
    (0 until 3).foreach { _ =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          while (!stop.get()) {
            try {
              val got = values()
              if (!before.subsetOf(got))
                failures.updateAndGet(s"lost values: $got" :: _)
            } catch { case t: Throwable =>
              failures.updateAndGet(s"discovery: ${t.getMessage}" :: _)
            }
          }
        }
      })
    }
    pool.submit(new Runnable {
      override def run(): Unit = {
        start.await()
        try {
          // appends land new days + a new tag value while scans run
          (2 to 4).foreach { d =>
            val extra = mkEvents(d).filter(col("ts_ms") >= Day0 + (d - 1) * 86400000L)
              .withColumn("attr_svc", lit(s"svc-new-$d"))
            Segments.writeMetricSegments(preAgg(extra), dir)
          }
        } catch { case t: Throwable =>
          failures.updateAndGet(s"writer: ${t.getMessage}" :: _)
        } finally stop.set(true)
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get().isEmpty, failures.get().take(3).mkString("; "))
    // read-your-writes after all appends: the new values are visible
    val after = values()
    assert((2 to 4).forall(d => after.contains(s"svc-new-$d")), after.toString)
  }

  test("a log query whose cached index listing points at rewritten " +
      "files rebuilds under the swap retry instead of failing") {
    val dir = tmpDir("graft_conc_fpindex_")
    val logs = graft.model.Cooked.logs(spark, sf)
      .withColumn("chq_fingerprint",
        graft.ingest.LogFingerprint.fingerprint(col("log_message")))
    Segments.writeLogSegments(logs, dir, maxRecordsPerFile = 2000)
    graft.ingest.FingerprintIndex.buildLogIndex(spark, dir)
    val r = spark.read.parquet(dir)
      .agg(min(col("chq_timestamp")), max(col("chq_timestamp"))).head()
    val api = new graft.api.HttpApi(spark, logsDir = Some(dir)).start()
    val client = java.net.http.HttpClient.newHttpClient()
    def rows(): (Int, Seq[String]) = {
      val q = java.net.URLEncoder.encode("""{log_level="ERROR"}""", "UTF-8")
      val resp = client.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:${api.port}/api/v1/logs/query" +
          s"?q=$q&s=${r.getLong(0)}&e=${r.getLong(1) + 1}&limit=100000")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      (resp.statusCode(), resp.body().linesIterator
        .filter(_.startsWith("data: {\"type\":\"result\""))
        .flatMap { evt =>
          val rs = om.readTree(evt.stripPrefix("data: ")).get("data").get("rows")
          (0 until rs.size).map(i => rs.get(i).toString)
        }.toSeq.sorted)
    }
    try {
      val reads = graft.ingest.FingerprintIndex.indexReads.get()
      val (c0, want) = rows() // warms the listing cache, index included
      assert(c0 == 200 && want.nonEmpty)
      assert(graft.ingest.FingerprintIndex.indexReads.get() > reads,
        "the query must probe the index")
      // a cross-process index rewrite: same content, new file names, so
      // the cached listing of <dir>.fpindex names files that are gone
      val idx = new org.apache.hadoop.fs.Path(
        graft.ingest.FingerprintIndex.indexPath(dir))
      val fs = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(idx, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".parquet")).toList
      assert(files.nonEmpty)
      files.foreach(f =>
        assert(fs.rename(f, new org.apache.hadoop.fs.Path(f.getParent, "re-" + f.getName))))
      val (c1, got) = rows()
      assert(c1 == 200 && got == want, s"status $c1, ${got.size} vs ${want.size} rows")
    } finally api.stop()
  }

  test("a summary query whose cached listing points at rewritten files " +
      "rebuilds under the swap retry instead of failing") {
    val dir = tmpDir("graft_conc_summary_")
    Segments.writeMetricSegments(preAgg(mkEvents(2)), dir, maxRecordsPerFile = 50)
    val api = new graft.api.HttpApi(spark, metricsDir = Some(dir)).start()
    val client = java.net.http.HttpClient.newHttpClient()
    def summaries(): (Int, Seq[String], Seq[String]) = {
      val q = java.net.URLEncoder.encode("sum by (attr_svc) (m_conc)", "UTF-8")
      val resp = client.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:${api.port}/api/v1/metrics/query" +
          s"?q=$q&s=$Day0&e=${Day0 + 3 * 86400000L}&summary=true")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val events = resp.body().linesIterator.filter(_.startsWith("data: ")).toSeq
      (resp.statusCode(),
        events.filter(_.contains("\"type\":\"summary\"")).sorted,
        events.filter(_.contains("\"type\":\"done\"")))
    }
    try {
      val (c0, want, done0) = summaries() // warms the listing cache
      assert(c0 == 200 && want.size == 3, done0.mkString)
      // a cross-process rewrite: same rows, new file names, so the cached
      // listing names files that are gone
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".parquet")).toList
      assert(files.nonEmpty)
      files.foreach(f =>
        assert(fs.rename(f, new org.apache.hadoop.fs.Path(f.getParent, "re-" + f.getName))))
      val (c1, got, done1) = summaries()
      assert(c1 == 200 && done1 == Seq("""data: {"type":"done","data":{"status":"ok"}}"""),
        done1.mkString)
      assert(got == want)
    } finally api.stop()
  }
}
