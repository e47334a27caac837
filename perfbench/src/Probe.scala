package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from outside the engine: one SparkListener (jobs, stages,
  * tasks, task CPU/run time, scheduler wait, shuffle write, spill, rows and
  * bytes written; those of maintenance jobs also apart), one
  * QueryExecutionListener (Catalyst phase times from
  * `QueryExecution.tracker`), and the JDK management beans (process CPU,
  * GC time). Everything is a monotonically growing total; callers take
  * [[snap]] before and after a region and diff.
  */
final class Probe(spark: SparkSession) {
  private val c = Array.fill(Probe.Keys.size)(new AtomicLong(0L))
  private def add(k: String, v: Long): Unit = c(Probe.Keys.indexOf(k)).addAndGet(v)
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val qeEvents = new AtomicLong(0L)

  private val maintStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      if (j.properties != null && j.properties.getProperty(Probe.Phase) == "maintain")
        j.stageIds.foreach(maintStages.add)
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      add("stages", 1)
      stageSubmit.put(s.stageInfo.stageId,
        s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val sub = stageSubmit.get(te.stageId)
      if (te.taskInfo != null && sub != 0L)
        add("sched_wait_ms", math.max(0L, te.taskInfo.launchTime - sub))
      val m = te.taskMetrics
      if (m != null) {
        add("task_cpu_ns", m.executorCpuTime)
        add("task_run_ms", m.executorRunTime)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("rows_written", m.outputMetrics.recordsWritten)
        add("bytes_written", m.outputMetrics.bytesWritten)
        if (maintStages.contains(te.stageId)) {
          add("maint_task_cpu_ns", m.executorCpuTime)
          add("maint_rows_written", m.outputMetrics.recordsWritten)
          add("maint_bytes_written", m.outputMetrics.bytesWritten)
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis" -> "analyze_ns", "optimization" -> "optimize_ns",
        "planning" -> "physical_ns").foreach { case (p, k) =>
        ph.get(p).foreach(s => add(k, (s.endTimeMs - s.startTimeMs) * 1000000L))
      }
      qeEvents.incrementAndGet()
    }
  })

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** listener events are delivered asynchronously; wait until the bus
    * has caught up with everything before a snapshot (no new events for
    * `quietMs`) */
  def settle(quietMs: Long = 150L): Unit = {
    var last = -1L
    var cur = total
    while (cur != last) {
      last = cur
      Thread.sleep(quietMs)
      cur = total
    }
  }
  private def total: Long = c.map(_.get).sum + qeEvents.get

  def snap(): Map[String, Long] =
    Probe.Keys.zip(c.map(_.get)).toMap ++ Map(
      "proc_cpu_ns" -> os.getProcessCpuTime,
      "gc_ms" -> gcMs,
      "listings" -> graft.api.ScanCache.listingCount,
      "meta_reads" -> graft.api.TierFreshness.metadataReadCount,
      "wall_ns" -> System.nanoTime())
}

object Probe {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "sched_wait_ms",
    "task_cpu_ns", "task_run_ms", "shuffle_write_bytes", "spill_bytes",
    "rows_written", "bytes_written", "analyze_ns", "optimize_ns", "physical_ns",
    "maint_task_cpu_ns", "maint_rows_written", "maint_bytes_written")

  /** local property naming the set-up phase a job belongs to: jobs of a
    * thread that sets it to "maintain" count in the `maint_*` totals too */
  val Phase = "perfbench.phase"

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  /** peak resident set of this JVM (VmHWM), MB */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** In-memory span recorder for the traced run: (name, start, end, parent,
  * request id), written out at the end; self time = duration minus the
  * durations of direct children.
  */
final class Spans {
  final case class Span(id: Int, name: String, req: String, parent: Int,
      startNs: Long, var endNs: Long)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val next = new AtomicLong(0L)
  private val current = new ThreadLocal[Span]
  private val origin = System.nanoTime()

  def apply[T](name: String, req: String)(body: => T): T = {
    val parent = Option(current.get)
    val s = Span(next.incrementAndGet().toInt, name, req,
      parent.map(_.id).getOrElse(0), System.nanoTime(), 0L)
    current.set(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      all.add(s)
      current.set(parent.orNull)
    }
  }

  def json: String = {
    import scala.jdk.CollectionConverters._
    val ss = all.asScala.toSeq.sortBy(_.id)
    val childNs = ss.groupBy(_.parent).map { case (p, ch) =>
      p -> ch.map(x => x.endNs - x.startNs).sum }
    ss.map { s =>
      val d = s.endNs - s.startNs
      Json.obj("id" -> s.id, "name" -> s.name, "req" -> s.req, "parent" -> s.parent,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "self_s" -> (d - childNs.getOrElse(s.id, 0L)) / 1e9)
    }.mkString("[", ",\n", "]")
  }
}

/** minimal JSON rendering for the result file (no extra dependency) */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case r: Raw => r.json
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  final case class Raw(json: String)
  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
