package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.promql.{Engine, Parser}

/** The fusability gate's table: every panel-set shape the fused builder
  * serves and every set it must leave to the tagged door. The gate
  * ([[Engine.fusedSet]]) is pure (parser only), so no Spark session runs.
  * The fused-vs-standalone answers themselves are pinned bit for bit in
  * PromQLSpec.
  */
class FusedSetSpec extends AnyFunSuite {

  private val aggs = Engine.SimpleAggs.toSeq.sorted
  private val fns = Engine.MultiWindowFns.toSeq.sorted

  private def panels(qs: String*): Seq[(String, String)] =
    qs.zipWithIndex.map { case (q, i) => s"p$i" -> q }

  /** Some((aggregated, windowed)) = accepted with that shape; None = rejected */
  private val table: Seq[(Seq[(String, String)], Option[(Boolean, Boolean)])] =
    // bare aggregation: each op, the five together, by, without, any selector
    aggs.map(op => panels(s"$op(m)") -> Some((true, false))) ++ Seq(
      panels(aggs.map(op => s"$op(m)"): _*) -> Some((true, false)),
      panels("sum by (svc) (m)", "max by (svc) (m)") -> Some((true, false)),
      panels("sum without (host) (m)", "count without (host) (m)") ->
        Some((true, false)),
      panels("""sum(m{svc="a"} offset 1h)""", """avg(m{svc="a"} offset 1h)""") ->
        Some((true, false)),
      panels("sum(m @ 1700000000)", "max(m @ 1700000000)") -> Some((true, false)),
      panels("sum(m[5m])") -> Some((true, false)),
      // every window fn alone, all together, with an offset
      panels(fns.map(fn => s"$fn(m[5m])"): _*) -> Some((false, true)),
      panels("rate(m[5m] offset 1h)", "increase(m[5m] offset 1h)") ->
        Some((false, true))) ++
    fns.map(fn => panels(s"$fn(m[5m])") -> Some((false, true))) ++
    // aggregation of a window fn: every fn, every op, with by / without
    fns.map(fn => panels(s"sum($fn(m[5m]))") -> Some((true, true))) ++
    aggs.map(op => panels(s"$op by (svc) (rate(m[5m]))") -> Some((true, true))) ++
    Seq(
      panels("sum by (svc) (rate(m[5m]))", "max by (svc) (increase(m[5m]))",
        "avg by (svc) (avg_over_time(m[5m]))") -> Some((true, true)),
      panels("sum without (host) (rate(m[5m]))",
        "min without (host) (delta(m[5m]))") -> Some((true, true)),
      panels("sum by (attr_service) (rate(http_requests[1m]))",
        "sum by (attr_service) (increase(http_requests[1m]))") -> Some((true, true)),
      // rejections: mixed selector, matchers, range or grouping
      panels("sum(events_value)", "avg(other_metric)") -> None,
      panels("sum(events_value)",
        """avg(events_value{attr_event_type="error"})""") -> None,
      panels("rate(events_value[4h])", "rate(events_value[2h])") -> None,
      panels("rate(events_value[4h])", "increase(events_value[6h])") -> None,
      panels("sum(rate(events_value[4h]))", "max(increase(events_value[6h]))") -> None,
      panels("sum by (attr_event_type) (rate(events_value[4h]))",
        "max(rate(events_value[4h]))") -> None,
      panels("sum by (svc) (m)", "sum without (svc) (m)") -> None,
      panels("rate(m[5m])", "rate(m[5m] offset 1h)") -> None,
      // unfusable functions and aggregations
      panels("rate(events_value[4h])", "irate(events_value[4h])") -> None,
      panels("sum(irate(events_value[4h]))") -> None,
      panels("topk(2, events_value)") -> None,
      panels("topk(2, rate(events_value[4h]))") -> None,
      panels("quantile(0.9, m)") -> None,
      panels("stddev(m)") -> None,
      panels("sum(deriv(m[5m]))") -> None,
      panels("sum(rate(m[5m])) * 2") -> None,
      panels("m") -> None,
      panels("m", "m") -> None,
      // mixed shapes: aggregated with bare, windowed with instant
      panels("sum(events_value)", "rate(events_value[4h])") -> None,
      panels("sum(rate(m[5m]))", "rate(m[5m])") -> None,
      panels("sum(m[5m])", "sum(rate(m[5m]))") -> None,
      // windows need an unpinned range selector
      panels("rate(m[5m] @ 1700000000)") -> None,
      panels("sum(rate(m[5m] @ 1700000000))") -> None,
      panels("rate(m[5m] @ end())", "increase(m[5m] @ end())") -> None,
      panels("rate(m)") -> None,
      panels("sum(rate(m))") -> None)

  private def gate(ps: Seq[(String, String)]) =
    Engine.fusedSet(ps.map { case (a, q) =>
      a -> Parser.parse(q).fold(e => fail(s"$q: $e"), identity)
    })

  test("fusedSet accepts exactly the fused shapes") {
    table.foreach { case (ps, want) =>
      val got = gate(ps).map(fs => (fs.aggregated, fs.windowed))
      assert(got.toOption == want, s"${ps.map(_._2).mkString(" | ")} -> $got")
    }
  }

  test("an accepted set normalizes to one selector, one grouping and " +
      "one (alias, agg, fn) per panel") {
    val fs = gate(panels("sum by (svc) (rate(m[5m]))",
      "max by (svc) (increase(m[5m]))")).toOption.get
    assert(fs.sel.metric == "m" && fs.sel.rangeMs == 300000L)
    assert(fs.by == List("svc") && fs.without.isEmpty)
    assert(fs.panels == Seq(
      Engine.FusedPanel("p0", Some("sum"), Some("rate")),
      Engine.FusedPanel("p1", Some("max"), Some("increase"))))
    val bare = gate(panels("avg_over_time(m[1h])")).toOption.get
    assert(bare.panels == Seq(Engine.FusedPanel("p0", None, Some("avg_over_time"))))
    assert(gate(panels("sum(m)", "avg(n)")).left.exists(_.contains("identical")))
  }
}
