package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.promql.QueryParams

/** One query request of any signal and shape — the body of
  * `/api/v1/{metrics,logs,spans}/query`: 1..N `(alias, query)` panels
  * over one range, with the raw-row params (`limit`, `desc`, `fields`;
  * log-style signals only), the tagged-shape switch (metrics) and the
  * fresh-tail switch (metrics). The reference evaluates each request
  * query on its own (queryapi/querier.go:441); here every request goes
  * through ONE decision ([[PanelSet.route]]) and ONE frame builder
  * ([[PanelSet.plan]]) instead of a door per signal × shape.
  */
final case class PanelSet(signal: PanelSet.Signal, panels: Seq[(String, String)],
    startMs: Long, endMs: Long, org: Option[String] = None,
    limit: Int = 1000, desc: Boolean = true, fields: Seq[String] = Nil,
    tagged: Boolean = false, fresh: Boolean = true) {
  require(panels.nonEmpty, "a query needs at least one panel")
  def params: QueryParams = StepPolicy.paramsFor(startMs, endMs)
}

object PanelSet {
  sealed abstract class Signal(val name: String)
  case object Metrics extends Signal("metrics")
  case object Logs extends Signal("logs")
  case object Spans extends Signal("spans")

  /** how a section's panels evaluate:
    *  - [[Alone]]: one query on its own, each window over its own pruned
    *    scan (the single-query door; a raw log panel's day walk);
    *  - [[Fused]]: several metric panels built by the engine's one fused
    *    builder when its gate ([[graft.promql.Engine.fusedSet]]) accepts
    *    them, else the tagged union;
    *  - [[Tagged]]: the tagged union (alias, ts, series, value) over ONE
    *    shared materialized pass.
    * Several windows over Fused/Tagged panels share one materialized pass.
    */
  sealed trait Shape
  case object Alone extends Shape
  case object Fused extends Shape
  case object Tagged extends Shape

  /** One response section: `panels` evaluated as `shape`, one frame per
    * window in emit order. `budget` caps the section's rows across its
    * windows (a raw log panel's `limit`); later windows are skipped once
    * it is spent.
    */
  final case class Section(panels: Seq[(String, String)],
      windows: Seq[QueryParams], shape: Shape, budget: Option[Int] = None)

  /** What the SSE layer runs: ordered frame thunks, each frame's budget
    * group, and the groups' row budgets (groups without one are unbounded).
    */
  final case class Plan(frames: Seq[() => DataFrame],
      groupOf: Int => Int = _ => 0, budgets: Map[Int, Int] = Map.empty)

  /** The whole routing decision — a pure function of the panels and the
    * range (the parsers only; no Spark):
    *  - metrics: grid slices ([[MetricSegments.slicePlan]]) only when
    *    every panel is [[MetricSegments.sliceable]]; one panel evaluates
    *    alone, several fuse unless `tagged`;
    *  - logs/spans, one panel: a raw query walks day slices
    *    ([[LogSegments.slicePlanRaw]]) in emit order under the `limit`
    *    budget; a metric-style query is one-shot;
    *  - logs/spans, several panels: the metric-style panels share one
    *    tagged pass (grid-sliced on long ranges) and every raw panel is
    *    its own budgeted day walk.
    */
  def route(ps: PanelSet): Seq[Section] = {
    val qp = ps.params
    if (ps.signal == Metrics) {
      val windows =
        if (ps.panels.forall(x => MetricSegments.sliceable(x._2)))
          MetricSegments.slicePlan(qp)
        else Seq(qp)
      val shape = if (ps.panels.size == 1) Alone else if (ps.tagged) Tagged else Fused
      Seq(Section(ps.panels, windows, shape))
    } else {
      val days = LogSegments.slicePlanRaw(qp)
      def alone(panel: (String, String)) =
        if (LogSegments.isRaw(panel._2))
          Section(Seq(panel), if (ps.desc) days.reverse else days, Alone, Some(ps.limit))
        else Section(Seq(panel), Seq(qp), Alone)
      if (ps.panels.size == 1) Seq(alone(ps.panels.head))
      else {
        val (raw, grid) = ps.panels.partition(x => LogSegments.isRaw(x._2))
        (if (grid.isEmpty) Nil
         else Seq(Section(grid, MetricSegments.slicePlan(qp), Tagged))) ++
          raw.map(alone)
      }
    }
  }

  /** [[route]]'s sections built into frames through the signal's one
    * evaluator; section k is budget group k. A panel evaluated alone
    * inside a multi-panel request carries its alias as a leading `alias`
    * column.
    */
  def plan(spark: SparkSession, dir: String, ps: PanelSet): Plan = {
    val sections = route(ps)
    val frames = sections.map { sec =>
      val fs =
        if (ps.signal == Metrics)
          MetricSegments.evaluate(spark, dir, sec.panels, ps.params,
            sec.windows, sec.shape, ps.org, ps.fresh)
        else LogSegments.evaluate(spark, dir, sec.panels, ps.params,
          sec.windows, sec.shape, ps.limit, ps.desc, ps.fields, ps.org)
      if (sec.shape != Alone || ps.panels.size == 1) fs
      else fs.map(mk => () => tagAlias(sec.panels.head._1, mk()))
    }
    val group = frames.zipWithIndex.flatMap { case (fs, g) => fs.map(_ => g) }
    Plan(frames.flatten, group,
      sections.zipWithIndex.flatMap { case (s, g) => s.budget.map(g -> _) }.toMap)
  }

  /** panel tag for rows evaluated alone, FRAME-resolved (bare col(name)
    * would trip the function-name trap Compiler.rawQuery documents — a
    * label named `user` resolves to current_user()) and collision-safe:
    * a pipeline that extracts a label literally named `alias` (or
    * `alias__col`, ...) keeps its data under the first free
    * `alias__col[_...]` so the row JSON never carries duplicate keys
    */
  private def tagAlias(alias: String, df: DataFrame): DataFrame = {
    val base =
      if (df.columns.contains("alias")) {
        val taken = df.columns.toSet
        val target = Iterator.from(0)
          .map(i => "alias__col" + ("_" * i)).find(!taken.contains(_)).get
        df.withColumnRenamed("alias", target)
      } else df
    base.select(lit(alias).as("alias") +: base.columns.toSeq.map(base(_)): _*)
  }
}
