package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.api.HttpApi

/** One benchmark run in one JVM: set the corpus up through the public
  * ingest functions, start `HttpApi` on loopback, drive the workload's load
  * for `seconds`, and write every sample to `--out` as JSON. `run.py` turns
  * the samples into metrics and checks every response against an
  * independent oracle.
  *
  * Usage: perfbench.Harness --spec <requests.json> --manifest <manifest.json>
  *   --raw <raw dir> --store <store dir> --out <result.json>
  *   --seconds <n> --trace <0|1> --cores <n>
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Sample(tpl: String, phase: String, sentNs: Long, r: Resp) {
    def json(origin: Long): String = Json.obj(
      "tpl" -> tpl, "phase" -> phase, "sent_s" -> (sentNs - origin) / 1e9,
      "latency_s" -> (r.endNs - sentNs) / 1e9,
      "first_byte_s" -> (r.firstByteNs - sentNs) / 1e9, "status" -> r.status,
      "done_ok" -> r.doneOk, "bytes" -> r.bytes, "result_events" -> r.resultEvents,
      "rows" -> r.rows.size, "error" -> r.error)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = mapper.readTree(new java.io.File(a("spec")))
    val manifest = mapper.readTree(new java.io.File(a("manifest")))
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new java.io.PrintWriter(a("out"), "UTF-8")
    try out.write(new Run(spark, spec, manifest, a("raw"), a("store"), seconds, trace).run())
    finally { out.close(); spark.stop() }
    System.err.println("[perfbench] stopped")
  }

  def templates(n: JsonNode): Seq[Template] =
    n.elements().asScala.map { t =>
      Template(t.get("name").asText(), t.get("route").asText(),
        t.get("params").elements().asScala.map(p => p.get(0).asText() -> p.get(1).asText()).toSeq)
    }.toSeq

  final class Run(spark: SparkSession, spec: JsonNode, manifest: JsonNode, raw: String,
      store: String, seconds: Double, trace: Boolean) {
    private val spans = new Spans
    private val probe = new Probe(spark)
    private val org = manifest.get("org").asText()
    private val apiKey = manifest.get("api_keys").fields().asScala
      .find(_.getValue.asText() == org).get.getKey
    private val apiKeys = manifest.get("api_keys").fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    private val tpls = templates(spec.get("templates"))
    // the maintenance probe's foreground reads metrics: log compaction
    // replaces the fingerprint index files a concurrent log query may be
    // reading, which is a failure the benchmark's loads must not include
    private val fgTpl = tpls.find(_.route == "/api/v1/metrics/query").get
    private def log(msg: String): Unit =
      System.err.println(f"[perfbench ${since(origin)}%7.1f s] $msg")
    private val rollupTiers = spec.get("rollup_tiers").elements().asScala.map(_.asLong()).toSeq
    private val samples = new ConcurrentLinkedQueue[Sample]()
    private val origin = System.nanoTime()
    private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    private def files(sub: String): Seq[String] =
      Option(new java.io.File(s"$raw/$sub").listFiles()).toSeq.flatten
        .map(_.getPath).filter(_.endsWith(".json.gz")).sorted

    // ------------------------------------------------------------ setup

    /** ingest the corpus into a fresh store and serve it: the three
      * signals ingest concurrently, one writer each, as separate ingest
      * workers would; the metrics writer then runs rollup maintenance once
      * per tenant while the log and span writers may still be indexing */
    private def setup(): (Corpus, HttpApi, Map[String, Double]) = {
      val t0 = System.nanoTime()
      val c = new Corpus(spark, store, spans)
      val req = "setup"
      val s0 = probe.snap()
      def async[T](body: => T): java.util.concurrent.Future[T] = {
        val f = new java.util.concurrent.FutureTask[T](() => body)
        new Thread(f, "perfbench-ingest").start()
        f
      }
      // each thread returns when its ingest ended and how long its
      // maintenance took
      val writers = Seq(
        async { files("logs").foreach(c.ingestLogs(_, req)); (System.nanoTime(), 0L) },
        async { files("spans").foreach(c.ingestSpans(_, req)); (System.nanoTime(), 0L) },
        async {
          files("metrics").foreach(c.ingestMetrics(_, req))
          val m0 = System.nanoTime()
          spark.sparkContext.setLocalProperty(Probe.Phase, "maintain")
          try apiKeys.values.toSeq.distinct.sorted.foreach(c.maintainRollups(rollupTiers, _, req))
          finally spark.sparkContext.setLocalProperty(Probe.Phase, null)
          (m0, System.nanoTime() - m0)
        }).map(_.get())
      val api = new HttpApi(spark, logsDir = Some(c.logs), metricsDir = Some(c.metrics),
        spansDir = Some(c.traces), apiKeys = apiKeys).start()
      val setupS = since(t0)
      probe.settle()
      val d = Probe.diff(s0, probe.snap())
      (c, api, Map("setup_s" -> setupS,
        "ingest_wall_s" -> (writers.map(_._1).max - t0) / 1e9,
        "ingest_task_cpu_s" -> (d("task_cpu_ns") - d("maint_task_cpu_ns")) / 1e9,
        "ingest_rows" -> (d("rows_written") - d("maint_rows_written")).toDouble,
        "ingest_bytes" -> (d("bytes_written") - d("maint_bytes_written")).toDouble,
        "rollup_s" -> writers.map(_._2).sum / 1e9,
        "rollup_rows" -> d("maint_rows_written").toDouble))
    }

    private def client(api: HttpApi) = new Client(s"http://127.0.0.1:${api.port}", apiKey)

    // ------------------------------------------------------------- loads

    private def request(cl: Client, t: Template, phase: String): Sample = {
      val sent = System.nanoTime()
      val r = try cl.get(t.route, t.params, t.sse)
      catch {
        case e: Exception =>
          val now = System.nanoTime()
          Resp(0, false, Vector.empty, now, now, 0, 0, String.valueOf(e))
      }
      val s = Sample(t.name, phase, sent, r)
      samples.add(s)
      s
    }

    /** closed loop: `clients` threads share one sequence of whole rounds
      * over the templates, each taking the next request when its last one
      * has ended; no round starts after `seconds`, so every template is
      * equally represented in the samples */
    private def closedLoop(cl: Client, clients: Int, refs: Map[String, Vector[String]]): Unit = {
      val t0 = System.nanoTime()
      var next = 0
      def take(): Option[Template] = synchronized {
        if (next % tpls.size == 0 && since(t0) >= seconds) None
        else { next += 1; Some(tpls((next - 1) % tpls.size)) }
      }
      val ts = (0 until clients).map { k =>
        new Thread(() => Iterator.continually(take()).takeWhile(_.isDefined)
          .foreach(t => check(request(cl, t.get, "measure"), refs)), s"perfbench-client-$k")
      }
      ts.foreach(_.start())
      ts.foreach(_.join())
    }

    /** a measured response must equal its template's reference response
      * (itself checked against the oracle by run.py) */
    private def check(s: Sample, refs: Map[String, Vector[String]]): Unit =
      if (s.r.ok && !refs.get(s.tpl).contains(s.r.rows)) {
        samples.remove(s)
        samples.add(s.copy(r = s.r.copy(doneOk = false, error = "rows differ from reference")))
      }

    // -------------------------------------------------------------- trace

    /** replay each template one at a time: in-process through the doors
      * (parse → door build → plan+exec), then the same request over HTTP */
    private def traceReplay(c: Corpus, cl: Client, ts: Seq[Template], reps: Int,
        refs: Map[String, Vector[String]]): Seq[String] = {
      val doors = new Doors(spark, c, Some(org))
      ts.flatMap { t =>
        (0 until reps).map { rep =>
          val req = s"${t.name}#$rep"
          probe.settle(30)
          val s0 = probe.snap()
          val tp0 = System.nanoTime()
          spans("parse", req)(doors.parse(t))
          val tp1 = System.nanoTime()
          val (plan, dfs) = spans("door.build", req) {
            val p = doors.plan(t); (p, p.frames.map(_.apply()))
          }
          val tb = System.nanoTime()
          probe.settle(30)
          val s1 = probe.snap()
          val te0 = System.nanoTime()
          val rows = spans("exec", req)(doors.execute(plan, dfs))
          val te1 = System.nanoTime()
          probe.settle(30)
          val s2 = probe.snap()
          val read = doors.files(dfs).size
          val listed = doors.listed(t)
          val h = request(cl, t, "trace")
          check(h, refs)
          val build = Probe.diff(s0, s1); val exec = Probe.diff(s1, s2); val all = Probe.diff(s0, s2)
          Json.obj("tpl" -> t.name, "rep" -> rep, "sliced" -> plan.sliced,
            "parse_s" -> (tp1 - tp0) / 1e9, "door_build_s" -> (tb - tp1) / 1e9,
            "door_build_jobs" -> build("jobs"), "exec_s" -> (te1 - te0) / 1e9,
            "inproc_s" -> ((tb - tp0) + (te1 - te0)) / 1e9, "rows" -> rows,
            "listings" -> all("listings"), "meta_reads" -> all("meta_reads"),
            "analyze_s" -> all("analyze_ns") / 1e9, "optimize_s" -> all("optimize_ns") / 1e9,
            "physical_s" -> all("physical_ns") / 1e9,
            "jobs" -> exec("jobs"), "stages" -> exec("stages"), "tasks" -> exec("tasks"),
            "task_cpu_s" -> exec("task_cpu_ns") / 1e9, "task_run_s" -> exec("task_run_ms") / 1e3,
            "sched_wait_s" -> exec("sched_wait_ms") / 1e3,
            "shuffle_write_mb" -> exec("shuffle_write_bytes") / 1048576.0,
            "spill_mb" -> exec("spill_bytes") / 1048576.0,
            "driver_cpu_s" -> (all("proc_cpu_ns") - all("task_cpu_ns")) / 1e9,
            "gc_s" -> all("gc_ms") / 1e3,
            "files_listed" -> listed, "files_read" -> read,
            "http_s" -> (h.r.endNs - h.sentNs) / 1e9, "http_ok" -> h.r.ok,
            "sse_bytes" -> h.r.bytes, "sse_result_events" -> h.r.resultEvents)
        }
      }
    }

    /** maintenance beside reads (traced run only): one client repeats a
      * metrics template through a quiet window, the index and log
      * compactions, and a second quiet window; foreground stall = median
      * latency inside the maintenance window minus outside */
    private def maintenance(c: Corpus, cl: Client,
        refs: Map[String, Vector[String]]): Map[String, Any] = {
      val done = new AtomicBoolean(false)
      val fg = new Thread(() => while (!done.get)
        check(request(cl, fgTpl, "maint"), refs), "perfbench-foreground")
      fg.start()
      Thread.sleep(1000)
      val s0 = probe.snap()
      val m0 = System.nanoTime()
      c.compactIndex("maint")
      c.compactLogs("maint")
      val m1 = System.nanoTime()
      probe.settle(30)
      val d = Probe.diff(s0, probe.snap())
      Thread.sleep(1000)
      done.set(true)
      fg.join()
      Map("window" -> Seq((m0 - origin) / 1e9, (m1 - origin) / 1e9),
        "rows_written" -> d("rows_written"), "wall_s" -> (m1 - m0) / 1e9)
    }

    /** checks that fail the run when a workload stops exercising its
      * mechanism: routing (sliced or not) per template, the needle's index
      * pruning and the 30-day rate's tiers as (freq, dateint) pairs */
    private def structural(c: Corpus): Map[String, Any] = {
      val doors = new Doors(spark, c, Some(org))
      val sliced = tpls.map(t => t.name -> doors.plan(t).sliced).toMap
      def scanned(name: String): Seq[String] = tpls.find(_.name == name)
        .map(t => doors.files(doors.plan(t).frames.map(_.apply()))).getOrElse(Nil)
      val needle = tpls.find(_.name == "l_needle_30d")
      Map("sliced" -> sliced,
        "needle_files_read" -> scanned("l_needle_30d").size,
        "needle_files_listed" -> needle.map(doors.listed).getOrElse(0L),
        "rate_30d_files" -> scanned("m_rate_30d")
          .flatMap(f => "dateint=([0-9]+)/freq=([0-9]+)".r.findFirstMatchIn(f))
          .map(m => (m.group(2), m.group(1))).distinct.sorted.map { case (f, d) => Seq(f, d) })
    }

    // ---------------------------------------------------------------- run

    def run(): String = {
      log(f"session up, JVM started ${
        java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s ago")
      val (c, api, setupStats) = setup()
      log(f"set-up ${setupStats("setup_s")}%.1f s")
      val cl = client(api)
      val load = spec.get("load")
      // warm-up: every template once, all at a time; its rows become the
      // reference the measured responses must equal. The first of them to
      // end gives the cold-query latency (server started → first response)
      val ready = System.nanoTime()
      val warm = Executors.newFixedThreadPool(tpls.size)
      val refs = tpls.map(t => t -> warm.submit(() => request(cl, t, "warm")))
        .map { case (t, f) => t.name -> f.get().r.rows }.toMap
      warm.shutdown()
      log("warm-up done")
      val coldFirstS = (samples.asScala.map(_.r.endNs).min - ready) / 1e9
      val storedBytes = c.storedBytes()
      val dataFiles = c.dataFiles()
      val cpu0 = probe.snap()
      val t0 = System.nanoTime()
      closedLoop(cl, load.get("clients").asInt(), refs)
      val wall = since(t0)
      log(f"measured $wall%.1f s")
      val cpu = Probe.diff(cpu0, probe.snap())
      val traced = if (trace) traceReplay(c, cl, tpls, 1, refs) else Nil
      val maint = if (trace) maintenance(c, cl, refs) else Map.empty
      if (trace) log("traced replay and maintenance done")
      val struct = structural(c)
      log("structural checks done")
      val rss = Probe.rssPeakMb()
      api.stop()
      log("server stopped")
      val env = Map("nproc" -> Runtime.getRuntime.availableProcessors(),
        "heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString)
      Json.obj(
        "env" -> env, "wall_s" -> wall, "rss_peak_mb" -> rss, "cold_first_s" -> coldFirstS,
        "setup" -> setupStats,
        "stored_bytes" -> storedBytes, "data_files" -> dataFiles,
        "measure_task_cpu_s" -> cpu("task_cpu_ns") / 1e9,
        "measure_proc_cpu_s" -> cpu("proc_cpu_ns") / 1e9,
        "maintenance" -> maint,
        "samples" -> Json.Raw(samples.asScala.toSeq.sortBy(_.sentNs).map(_.json(origin))
          .mkString("[", ",\n", "]")),
        "references" -> refs,
        "structural" -> struct,
        "trace" -> Json.Raw(traced.mkString("[", ",\n", "]")),
        "spans" -> Json.Raw(if (trace) spans.json else "[]"))
    }
  }
}
