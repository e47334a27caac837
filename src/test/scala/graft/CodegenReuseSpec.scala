package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Codegen
import graft.api.HttpApi

/** A query shape that was already served compiles nothing: the generated-
  * class cache ([[GraftSession]]) holds the working set, so a repeated
  * request reuses the classes of the first. Compiles are counted JVM-wide
  * through Spark's codegen metrics; suites run one at a time.
  */
class CodegenReuseSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val metricDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cg_metricseg").toString
    val ev = graft.model.Tables.events(spark, sf)
    val base = graft.ingest.MetricsPreAgg.preAggregate(
      ev, col("ts_ms"), lit("events_value"), col("value"),
      Seq("attr_event_type" -> col("event_type")), freqMs = 10000L,
      withSketch = false)
    graft.ingest.Segments.writeMetricSegments(base, dir)
    dir
  }

  private lazy val logDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cg_logseg").toString
    val logs = graft.model.Cooked.logs(spark, sf)
      .withColumn("chq_fingerprint",
        graft.ingest.LogFingerprint.fingerprint(col("log_message")))
    graft.ingest.Segments.writeLogSegments(logs, dir, maxRecordsPerFile = 2000)
    graft.ingest.FingerprintIndex.buildLogIndex(spark, dir)
    dir
  }

  /** [lo, hi) of a store's rows */
  private def span(dir: String): (Long, Long) = {
    val r = spark.read.parquet(dir)
      .agg(min(col("chq_timestamp")), max(col("chq_timestamp"))).head()
    (r.getLong(0), r.getLong(1) + 1)
  }

  /** the classes compiled while `f` runs */
  private def compiles[T](f: => T): (T, Long) = {
    val c0 = Codegen.compiles()
    val out = f
    (out, Codegen.compiles() - c0)
  }

  private val countQ = """sum(count_over_time({log_level="INFO"}[5m]))"""
  private val rateQ = "sum by (attr_event_type) (rate(events_value[5m]))"

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private val client = java.net.http.HttpClient.newHttpClient()
  private def get(url: String): (Int, String) = {
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("a second identical HTTP metrics request and logs request compile 0 classes") {
    // the tagged two-panel request unions independent query stages, whose
    // codegen stage ids follow AQE's stage creation order
    val api = new HttpApi(spark, logsDir = Some(logDir),
      metricsDir = Some(metricDir)).start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val (ms, me) = span(metricDir)
      val (ls, le) = span(logDir)
      val metrics = s"$base/api/v1/metrics/query?q=${enc(rateQ)}&s=$ms&e=$me"
      // a limit above the store's rows: every slice runs. A stream whose
      // limit ends it early cancels its prefetched slices at a point that
      // depends on timing, and each slice inlines its own window bounds,
      // so its repeats can still compile the slices an earlier run skipped.
      val logs = s"$base/api/v1/logs/query?q=${enc("""{log_level="INFO"}""")}" +
        s"&s=$ls&e=$le&limit=100000"
      val logCount = s"$base/api/v1/logs/query?q=${enc(countQ)}&s=$ls&e=$le"
      val tagged = s"$base/api/v1/metrics/query?q=${enc("rate(events_value[5m])")}" +
        s"&q2=${enc("sum by (attr_event_type) (events_value)")}&s=$ms&e=$me"
      for (url <- Seq(metrics, tagged, logs, logCount)) {
        val (first, _) = compiles(get(url))
        assert(first._1 == 200 && first._2.contains("\"status\":\"ok\""), first._2.take(300))
        val (second, n) = compiles(get(url))
        assert(second == first)
        assert(n == 0, s"$url compiled $n classes on its second request")
      }
    } finally api.stop()
  }

  test("a cycle of more query shapes than Spark's default cache of 100 entries " +
      "compiles 0 classes on its second pass") {
    // a dashboard workload repeats a cycle of ~130-155 classes; an LRU
    // cache smaller than the cycle misses on every lookup. Each shape
    // inlines its own constant into its generated source, one that no
    // other suite uses, so the first pass compiles every shape.
    val shapes = 150
    def cycle(): Long = (0 until shapes).map { i =>
      spark.range(0, 100, 1, 1).where(col("id") =!= lit(-7919000L - i)).count()
    }.sum
    val (first, cold) = compiles(cycle())
    assert(cold >= shapes, s"the first pass compiled only $cold classes")
    val (second, warm) = compiles(cycle())
    assert(second == first)
    assert(warm == 0, s"the second pass over $shapes shapes compiled $warm classes")
  }
}
