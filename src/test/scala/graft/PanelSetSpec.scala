package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.PanelSet
import graft.api.PanelSet._

/** The query planner's routing table: every request shape the three
  * query routes serve, with the decision each must get — one-shot or
  * sliced, alone / fused-first / tagged, and the raw panels' row budgets.
  * [[PanelSet.route]] is pure (parsers only), so no Spark session runs.
  */
class PanelSetSpec extends AnyFunSuite {

  private val Day0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val Hour = 3600000L
  private val Week = 7 * 86400000L

  // PromQL panels
  private val mRate = "sum by (attr_svc) (rate(m[5m]))"
  private val mMax = "max by (attr_svc) (rate(m[5m]))"
  private val mOther = "sum(other)"
  private val mPinned = s"m @ ${(Day0 + Hour) / 1000}"
  // LogQL panels
  private val lRaw = """{log_level="ERROR"}"""
  private val lRaw2 = """{log_level="WARN"} |= "disk""""
  private val lCount = """sum by (log_level) (count_over_time({log_level="INFO"}[1h]))"""
  private val lRate = """sum(rate({log_level="ERROR"}[5m]))"""

  private def ps(signal: Signal, range: Long, panels: Seq[String],
      tagged: Boolean = false, desc: Boolean = true): PanelSet =
    PanelSet(signal, panels.zipWithIndex.map { case (q, i) =>
      (if (i == 0) "value" else s"value${i + 1}") -> q
    }, Day0, Day0 + range, limit = 50, tagged = tagged, desc = desc)

  /** one expected section: its panel aliases, shape, sliced?, budget */
  private type Want = (Seq[String], Shape, Boolean, Option[Int])

  private val table: Seq[(String, PanelSet, Seq[Want])] = Seq(
    // metrics: slice only when every panel is sliceable; several panels
    // fuse first unless tagged=true
    ("metrics 1 panel short", ps(Metrics, Hour, Seq(mRate)),
      Seq((Seq("value"), Alone, false, None))),
    ("metrics 1 panel long", ps(Metrics, Week, Seq(mRate)),
      Seq((Seq("value"), Alone, true, None))),
    ("metrics 1 panel long @-pinned", ps(Metrics, Week, Seq(mPinned)),
      Seq((Seq("value"), Alone, false, None))),
    ("metrics 1 panel tagged=true", ps(Metrics, Week, Seq(mRate), tagged = true),
      Seq((Seq("value"), Alone, true, None))),
    ("metrics N panels short", ps(Metrics, Hour, Seq(mRate, mMax)),
      Seq((Seq("value", "value2"), Fused, false, None))),
    ("metrics N panels long", ps(Metrics, Week, Seq(mRate, mOther)),
      Seq((Seq("value", "value2"), Fused, true, None))),
    ("metrics N panels long, one @-pinned", ps(Metrics, Week, Seq(mRate, mPinned)),
      Seq((Seq("value", "value2"), Fused, false, None))),
    ("metrics N panels short tagged=true",
      ps(Metrics, Hour, Seq(mRate, mMax), tagged = true),
      Seq((Seq("value", "value2"), Tagged, false, None))),
    ("metrics N panels long tagged=true",
      ps(Metrics, Week, Seq(mRate, mOther), tagged = true),
      Seq((Seq("value", "value2"), Tagged, true, None))),
    // logs: a raw single query walks days under the limit; a metric-style
    // single query is one-shot
    ("logs 1 raw short", ps(Logs, Hour, Seq(lRaw)),
      Seq((Seq("value"), Alone, false, Some(50)))),
    ("logs 1 raw long", ps(Logs, Week, Seq(lRaw)),
      Seq((Seq("value"), Alone, true, Some(50)))),
    ("logs 1 metric long", ps(Logs, Week, Seq(lCount)),
      Seq((Seq("value"), Alone, false, None))),
    ("logs 1 metric tagged=true (no effect)", ps(Logs, Hour, Seq(lCount), tagged = true),
      Seq((Seq("value"), Alone, false, None))),
    // logs, several panels: metric panels share one tagged pass, every raw
    // panel is its own budget group
    ("logs N metric short", ps(Logs, Hour, Seq(lCount, lRate)),
      Seq((Seq("value", "value2"), Tagged, false, None))),
    ("logs N metric long", ps(Logs, Week, Seq(lCount, lRate)),
      Seq((Seq("value", "value2"), Tagged, true, None))),
    ("logs mixed long", ps(Logs, Week, Seq(lCount, lRaw, lRate, lRaw2)),
      Seq((Seq("value", "value3"), Tagged, true, None),
        (Seq("value2"), Alone, true, Some(50)),
        (Seq("value4"), Alone, true, Some(50)))),
    ("logs N raw short", ps(Logs, Hour, Seq(lRaw, lRaw2)),
      Seq((Seq("value"), Alone, false, Some(50)),
        (Seq("value2"), Alone, false, Some(50)))),
    // spans take the log-style route
    ("spans 1 raw long", ps(Spans, Week, Seq(lRaw)),
      Seq((Seq("value"), Alone, true, Some(50)))),
    ("spans mixed short", ps(Spans, Hour, Seq(lCount, lRaw)),
      Seq((Seq("value"), Tagged, false, None),
        (Seq("value2"), Alone, false, Some(50)))))

  test("routing table: one-shot/sliced, alone/fused/tagged and budgets per request shape") {
    val bad = table.flatMap { case (name, set, want) =>
      val got = PanelSet.route(set).map(s =>
        (s.panels.map(_._1), s.shape, s.windows.size > 1, s.budget))
      if (got == want) None else Some(s"$name: got $got, want $want")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("routing table: windows tile the range on the full grid, raw days in emit order") {
    table.foreach { case (name, set, _) =>
      val p = set.params
      PanelSet.route(set).foreach { s =>
        assert(s.windows.forall(_.stepMs == p.stepMs), name)
        val asc = if (s.windows.size > 1 && s.windows.head.startMs > s.windows.last.startMs)
          s.windows.reverse else s.windows
        assert(asc.zip(asc.drop(1)).forall { case (a, b) => a.endMs == b.startMs }, name)
        assert(asc.last.endMs == p.endMs, name)
      }
    }
    // a descending raw walk is newest-first, an ascending one oldest-first
    val desc = PanelSet.route(ps(Logs, Week, Seq(lRaw))).head.windows
    val asc = PanelSet.route(ps(Logs, Week, Seq(lRaw), desc = false)).head.windows
    assert(desc.size == 7 && desc == asc.reverse && asc.head.startMs == Day0)
  }
}
