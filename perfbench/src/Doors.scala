package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.lit

import graft.api.{Discovery, LogSegments, MetricSegments, SpanSegments, StepPolicy}
import graft.promql.QueryParams

/** A request template: an HTTP route plus its parameters. */
final case class Template(name: String, route: String, params: Seq[(String, String)]) {
  def p(k: String): Option[String] = params.collectFirst { case (`k`, v) => v }
  def sse: Boolean = !route.endsWith("/tagvalues")
  def panels: Seq[(String, String)] =
    ("value" -> p("q").getOrElse("")) +: (2 to 9).flatMap(i => p(s"q$i").map(s"value$i" -> _))
}

/** The frames a template's route evaluates, built through the same public
  * door functions `HttpApi` routes to, so the traced run can time parse,
  * door build, planning and execution in-process and set them against the
  * same request over HTTP. `budget` maps a frame group to its row budget
  * (raw log panels stop once their limit is filled, as the SSE layer does).
  */
final case class Plan(frames: Seq[() => DataFrame], sliced: Boolean,
    groupOf: Int => Int = _ => 0, budgets: Map[Int, Int] = Map.empty)

final class Doors(spark: SparkSession, c: Corpus, org: Option[String]) {
  private val maxSliceRows = 250000

  private def range(t: Template): (Long, Long) = (t.p("s").get.toLong, t.p("e").get.toLong)

  /** parse only (the first layer of every query route) */
  def parse(t: Template): Unit = t.route match {
    case r if r.startsWith("/api/v1/metrics/") =>
      t.panels.foreach(x => graft.promql.Parser.parse(x._2))
    case r if r.endsWith("/query") =>
      t.panels.foreach(x => graft.logql.Parser.parseFull(x._2))
    case _ =>
  }

  def plan(t: Template): Plan = {
    val (s, e) = range(t)
    val qp = StepPolicy.paramsFor(s, e)
    val limit = t.p("limit").map(_.toInt).getOrElse(1000)
    val desc = !t.p("order").contains("asc")
    val fields = t.p("fields").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val panels = t.panels
    t.route match {
      case "/api/v1/metrics/query" =>
        val multi = panels.size > 1
        val slices =
          if (panels.forall(x => MetricSegments.sliceable(x._2))) MetricSegments.slicePlan(qp)
          else Seq(qp)
        val tagged = t.p("tagged").contains("true")
        if (slices.size <= 1)
          Plan(Seq(() =>
            if (multi) MetricSegments.queryMultiAt(spark, c.metrics, panels, qp, org, tagged)
            else MetricSegments.query(spark, c.metrics, panels.head._2, s, e, org)), false)
        else if (multi)
          Plan(MetricSegments.queryMultiAtSliced(spark, c.metrics, panels, qp, slices, org, tagged), true)
        else
          Plan(MetricSegments.queryAtSliced(spark, c.metrics, panels.head._2, qp, slices, org), true)

      case "/api/v1/logs/query" if panels.size > 1 =>
        val (raw, metric) = panels.partition(x => LogSegments.isRaw(x._2))
        val mSlices = MetricSegments.slicePlan(qp)
        val metricFrames: Seq[() => DataFrame] =
          if (metric.isEmpty) Nil
          else if (mSlices.size <= 1)
            Seq(() => LogSegments.queryMultiTagged(spark, c.logs, metric, qp, org))
          else LogSegments.queryMultiTaggedSliced(spark, c.logs, metric, qp, mSlices, org)
        val rSlices = LogSegments.slicePlanRaw(qp)
        val rawFrames = raw.map { case (alias, rq) =>
          LogSegments.querySliced(spark, c.logs, rq, if (desc) rSlices.reverse else rSlices,
            limit = limit, desc = desc, fields = fields, org = org)
            .map(mk => () => { val d = mk(); d.select(lit(alias).as("alias") +: d.columns.map(d(_)): _*) })
        }
        val per = math.max(1, rSlices.size)
        Plan(metricFrames ++ rawFrames.flatten, mSlices.size > 1 || rSlices.size > 1,
          i => if (i < metricFrames.size) 0 else 1 + (i - metricFrames.size) / per,
          raw.indices.map(k => (k + 1) -> limit).toMap)

      case "/api/v1/logs/query" =>
        val q = panels.head._2
        val slices = if (LogSegments.sliceableRaw(q)) LogSegments.slicePlanRaw(qp) else Seq(qp)
        if (slices.size <= 1)
          Plan(Seq(() => LogSegments.query(spark, c.logs, q, qp, limit, desc, fields, org)), false)
        else
          Plan(LogSegments.querySliced(spark, c.logs, q, if (desc) slices.reverse else slices,
            limit, desc, fields, org), true, budgets = Map(0 -> limit))

      case "/api/v1/spans/query" =>
        Plan(Seq(() => SpanSegments.query(spark, c.traces, panels.head._2, qp, limit, org = org)), false)

      case "/api/v1/spans/trace" =>
        val ids = t.p("id").get.split(',').toSeq.filter(_.nonEmpty)
        Plan(Seq(() => SpanSegments.tracesByIds(spark, c.traces, ids,
          QueryParams(s, e, qp.stepMs), org)), false)

      case "/api/v1/logs/tagvalues" =>
        Plan(Seq(() => {
          val (scan, _) = Discovery.segmentScanWithPlan(spark, c.logs, s, e, org)
          Discovery.tagValues(scan, t.p("tag").get, s, e).limit(10001)
        }), false)
    }
  }

  /** run the built frames the way the SSE layer does: one frame drains
    * through `toLocalIterator`, several collect slice by slice in order
    * under their group budgets; returns rows out */
  def execute(p: Plan, dfs: Seq[DataFrame]): Long =
    if (dfs.size == 1) {
      val it = dfs.head.toJSON.toLocalIterator()
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    } else {
      val left = scala.collection.mutable.Map[Int, Int]() ++ p.budgets
      var n = 0L
      dfs.indices.foreach { i =>
        val g = p.groupOf(i)
        if (left.getOrElse(g, Int.MaxValue) > 0) {
          val rows = dfs(i).toJSON.limit(maxSliceRows + 1).collect().length
          left.get(g).foreach(b => left(g) = b - rows)
          n += rows
        }
      }
      n
    }

  /** files the frames' scans select after partition pruning and index
    * exclusion, against everything the listing cache holds for the dir */
  def files(dfs: Seq[DataFrame]): Seq[String] =
    dfs.flatMap(_.queryExecution.sparkPlan.collectLeaves().collect {
      case s: FileSourceScanExec =>
        val static = s.partitionFilters.filterNot(
          _.exists(_.isInstanceOf[_root_.org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
        s.relation.location.listFiles(static, Nil).flatMap(_.files.map(_.getPath.toString))
    }.flatten).distinct

  def listed(t: Template): Long = {
    val dir = t.route match {
      case r if r.startsWith("/api/v1/metrics/") => c.metrics
      case r if r.startsWith("/api/v1/spans/") => c.traces
      case _ => c.logs
    }
    graft.api.ScanCache.inputFiles(spark, dir).length.toLong
  }
}
