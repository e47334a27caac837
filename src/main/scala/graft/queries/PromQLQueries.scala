package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Cooked
import graft.promql.{Engine, MetricStore, QueryParams}

/** PromQL engine coverage, each entry running a real PromQL string through
  * parser → planner → DataFrame compiler over cooked metrics derived from
  * `events` (graft.model.Cooked), with a hand-derived DuckDB oracle.
  *
  * Range-window/NaN policy: buckets without full range coverage evaluate to
  * NaN in the engine (reference semantics); for the oracle gate we filter
  * NaN rows on both sides so the compare is over well-defined values.
  */
object PromQLQueries extends Catalog {
  // 2024-01-01T00:00:00Z .. +14d, 1h step — spans the dense half of events
  private val Start = 1704067200000L
  private val End = Start + 14L * 86400000L
  private val StepMs = 3600000L

  private def run(q: String)(s: SparkSession, d: String): DataFrame =
    Engine.query(q, MetricStore(Cooked.metrics(s, d)), QueryParams(Start, End, StepMs))
      .filter(!isnan(col("value")))

  /** step-agg CTE over the cooked metrics derivation; effStart extends the
    * scan left by (range+offset) exactly like the engine's leaf.
    */
  private def stepCte(rangeMs: Long = 0, offMs: Long = 0): String = {
    val effStart = Start - rangeMs - offMs
    val effEnd = End - offMs
    s"""${Cooked.metricsCte},
     step AS (
       SELECT (chq_timestamp + $offMs) - (chq_timestamp + $offMs) % $StepMs AS ts,
              attr_event_type,
              sum(chq_rollup_sum) AS bsum,
              sum(coalesce(chq_rollup_count, 0)) AS bcnt,
              min(chq_rollup_min) AS bmin,
              max(chq_rollup_max) AS bmax
       FROM cooked
       WHERE chq_timestamp >= $effStart AND chq_timestamp < $effEnd
       GROUP BY 1, 2)"""
  }

  /** windowed CTE for range functions (left-inclusive coverage rule) */
  private def winCte(rangeMs: Long): String = {
    val back = rangeMs - StepMs
    s"""${stepCte(rangeMs)},
     win AS (
       SELECT ts, attr_event_type,
              sum(bsum) OVER w AS wsum, sum(bcnt) OVER w AS wcnt,
              min(bmin) OVER w AS wmin, max(bmax) OVER w AS wmax,
              min(ts) OVER w AS first_ts
       FROM step
       WINDOW w AS (PARTITION BY attr_event_type ORDER BY ts
                    RANGE BETWEEN $back PRECEDING AND CURRENT ROW))"""
  }

  private def covered(rangeMs: Long): String =
    s"first_ts = ts - ${rangeMs - StepMs} AND ts >= $Start AND ts < $End"

  private val H4 = 4L * 3600000L
  private val H6 = 6L * 3600000L

  // absent_over_time window: spans the sparse tail AND past the end of the
  // 30-day events table, so absent buckets exist at every sf
  private val AbsStart = Start + 21L * 86400000L
  private val AbsEnd = Start + 35L * 86400000L

  /** rate-style values are (exact integer cents)/range_sec: recover the
    * integer and divide identically on both engines so the doubles are
    * bit-identical regardless of summation order (see pq_rate comment)
    */
  private def exactCents(value: org.apache.spark.sql.Column, rangeMs: Long) =
    round(value * lit(rangeMs / 1000.0 * 100), 0).cast("long") /
      lit(rangeMs / 1000.0 * 100)

  override def all: Seq[Q] = Seq(
    Q("pq_selector",
      run("events_value"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    Q("pq_matcher_eq",
      run("""events_value{attr_event_type="error"}"""),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE attr_event_type = 'error' AND ts >= $Start AND ts < $End""")),

    Q("pq_matcher_regex",
      run("""events_value{attr_event_type=~"c.*|s.*", attr_event_type!="signup"}"""),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE regexp_full_match(attr_event_type, 'c.*|s.*')
          AND attr_event_type <> 'signup' AND ts >= $Start AND ts < $End""")),

    // rate emits wsum/range_sec whose true decimal value can sit exactly on a
    // round-6 boundary, so ulp-level summation-order noise flips the verifier
    // hash. events.value is 2-decimal quantized → recover the exact integer
    // "cents" of the window sum on both sides, then divide identically:
    // bit-identical doubles survive any display rounding.
    Q("pq_rate",
      { (s, d) =>
        run("rate(events_value[4h])")(s, d).withColumn("value",
          exactCents(col("value"), H4))
      },
      Some(s"""WITH ${winCte(H4)}
        SELECT ts, attr_event_type,
               CAST(round(wsum * 100, 0) AS BIGINT) / ${H4 / 1000.0 * 100} AS value
        FROM win WHERE ${covered(H4)}""")),

    Q("pq_increase",
      run("increase(events_value[4h])"),
      Some(s"""WITH ${winCte(H4)}
        SELECT ts, attr_event_type, wsum AS value
        FROM win WHERE ${covered(H4)}""")),

    Q("pq_avg_over_time",
      // q6: the window average is a float-sum quotient of decimal-cents
      // data — raw round-6 flips at grid boundaries (see Catalog.q6)
      { (s, d) => run("avg_over_time(events_value[6h])")(s, d)
        .withColumn("value", q6(col("value"))) },
      Some(s"""WITH ${winCte(H6)}
        SELECT ts, attr_event_type, ${q6Sql("wsum / wcnt")} AS value
        FROM win WHERE ${covered(H6)} AND wcnt > 0""")),

    Q("pq_minmax_over_time",
      { (s, d) =>
        val store = MetricStore(Cooked.metrics(s, d))
        val p = QueryParams(Start, End, StepMs)
        val mn = Engine.query("min_over_time(events_value[6h])", store, p)
          .withColumnRenamed("value", "min_v")
        val mx = Engine.query("max_over_time(events_value[6h])", store, p)
          .withColumnRenamed("value", "max_v")
        mn.join(mx, Seq("ts", "attr_event_type"))
          .filter(!isnan(col("min_v")) && !isnan(col("max_v")))
      },
      Some(s"""WITH ${winCte(H6)}
        SELECT ts, attr_event_type, wmin AS min_v, wmax AS max_v
        FROM win WHERE ${covered(H6)}""")),

    Q("pq_count_over_time",
      run("count_over_time(events_value[4h])"),
      Some(s"""WITH ${winCte(H4)}
        SELECT ts, attr_event_type, wcnt AS value
        FROM win WHERE ${covered(H4)}""")),

    // sum-of-rates: recover the exact total cents like pq_rate — the summed
    // value can land exactly on a round-6 boundary where summation-order
    // noise flips the strict hash
    Q("pq_sum_rate",
      { (s, d) =>
        run("sum(rate(events_value[4h]))")(s, d).withColumn("value",
          exactCents(col("value"), H4))
      },
      Some(s"""WITH ${winCte(H4)},
        r AS (SELECT ts, attr_event_type,
                CASE WHEN first_ts = ts - ${H4 - StepMs}
                     THEN wsum / ${H4 / 1000.0} ELSE 'NaN'::DOUBLE END AS v
              FROM win WHERE ts >= $Start AND ts < $End),
        r2 AS (SELECT ts, sum(v) AS sv FROM r GROUP BY ts
               HAVING NOT isnan(sum(v)))
        SELECT ts, CAST(round(sv * ${H4 / 1000.0 * 100}, 0) AS BIGINT)
                     / ${H4 / 1000.0 * 100} AS value
        FROM r2""")),

    Q("pq_sum_by",
      run("sum by (attr_event_type) (events_value)"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    Q("pq_agg_global",
      { (s, d) =>
        // one shared step-agg scan for all five aggregations (r13,
        // Engine.queryMulti) — previously five full engine passes +
        // four ts-joins; PlanSpec pins the single-Exchange plan
        val store = MetricStore(Cooked.metrics(s, d))
        val p = QueryParams(Start, End, StepMs)
        Engine.queryMulti(Seq(
          "sum_v" -> "sum(events_value)", "avg_v" -> "avg(events_value)",
          "min_v" -> "min(events_value)", "max_v" -> "max(events_value)",
          "cnt_v" -> "count(events_value)"), store, p)
      },
      Some(s"""WITH ${stepCte()}
        SELECT ts, sum(bsum) AS sum_v, avg(bsum) AS avg_v, min(bsum) AS min_v,
               max(bsum) AS max_v, CAST(count(bsum) AS DOUBLE) AS cnt_v
        FROM step WHERE ts >= $Start AND ts < $End GROUP BY ts""")),

    Q("pq_agg_multi_by",
      { (s, d) =>
        // the BY-grouped multi-agg path of Engine.queryMulti (r13): a
        // dashboard panel's max/min/sum per event type ACROSS services
        // on one shared scan. Two-label store (event type × service) so
        // the by-grouping genuinely aggregates across series — the
        // default store's single label would make by == leaf identity.
        val ev = graft.model.Tables.events(s, d)
        val cooked2 = ev
          .withColumn("chq_timestamp", col("ts_ms") - col("ts_ms") % lit(60000L))
          .withColumn("attr_event_type", col("event_type"))
          .withColumn("resource_service_name",
            concat(lit("svc-"), (col("user_id") % 5).cast("string")))
          .groupBy(col("chq_timestamp"), col("attr_event_type"),
            col("resource_service_name"))
          .agg(sum(col("value")).as("chq_rollup_sum"),
            count(lit(1)).cast("double").as("chq_rollup_count"),
            min(col("value")).as("chq_rollup_min"),
            max(col("value")).as("chq_rollup_max"))
          .withColumn("metric_name", lit("events_value"))
          .withColumn("chq_metric_type", lit("gauge"))
        val p = QueryParams(Start, End, StepMs)
        // sum recovered onto the exact cents grid (events.value is
        // 2-decimal quantized) — the core_* precedent for cross-engine
        // float-sum hashing; max/min are order-free
        Engine.queryMulti(Seq(
          "max_v" -> "max by (attr_event_type) (events_value)",
          "min_v" -> "min by (attr_event_type) (events_value)",
          "sum_v" -> "sum by (attr_event_type) (events_value)"),
          MetricStore(cooked2), p)
          .withColumn("sum_v",
            round(col("sum_v") * 100, 0).cast("long") / 100.0)
      },
      Some(s"""WITH cooked2 AS (
          SELECT epoch_ms(ts) - epoch_ms(ts) % 60000 AS chq_timestamp,
                 event_type AS attr_event_type,
                 'svc-' || CAST(user_id % 5 AS VARCHAR) AS resource_service_name,
                 sum("value") AS chq_rollup_sum
          FROM events GROUP BY 1, 2, 3),
        step AS (
          SELECT chq_timestamp - chq_timestamp % $StepMs AS ts,
                 attr_event_type, resource_service_name,
                 sum(chq_rollup_sum) AS bsum
          FROM cooked2
          WHERE chq_timestamp >= $Start AND chq_timestamp < $End
          GROUP BY 1, 2, 3)
        SELECT ts, attr_event_type, max(bsum) AS max_v, min(bsum) AS min_v,
               CAST(round(sum(bsum) * 100, 0) AS BIGINT) / 100.0 AS sum_v
        FROM step WHERE ts >= $Start AND ts < $End GROUP BY 1, 2""")),

    Q("pq_multi_window",
      { (s, d) =>
        // the range-window half of Engine.queryMulti (r14): a dashboard's
        // rate/increase/avg_over_time panels over the same selector fuse
        // onto ONE leaf scan + ONE step agg + ONE window pass (PlanSpec
        // pins the plan) instead of three full engine passes. Hash tricks
        // per column follow the standalone rows: rate recovered onto the
        // exact cents grid (pq_rate), avg onto the q6 grid
        // (pq_avg_over_time), increase raw (pq_increase).
        val store = MetricStore(Cooked.metrics(s, d))
        val p = QueryParams(Start, End, StepMs)
        Engine.queryMulti(Seq(
          "rate_v" -> "rate(events_value[4h])",
          "inc_v" -> "increase(events_value[4h])",
          "avg_v" -> "avg_over_time(events_value[4h])"), store, p)
          .filter(!isnan(col("rate_v")) && !isnan(col("avg_v")))
          .withColumn("rate_v", exactCents(col("rate_v"), H4))
          .withColumn("avg_v", q6(col("avg_v")))
      },
      Some(s"""WITH ${winCte(H4)}
        SELECT ts, attr_event_type,
               CAST(round(wsum * 100, 0) AS BIGINT) / ${H4 / 1000.0 * 100} AS rate_v,
               wsum AS inc_v,
               ${q6Sql("wsum / wcnt")} AS avg_v
        FROM win WHERE ${covered(H4)} AND wcnt > 0""")),

    Q("pq_multi_agg_window",
      { (s, d) =>
        // the dominant Grafana shape, fused (r14 VERDICT #1): N panels of
        // `agg by (labels) (range_fn(selector[r]))` over one selector ride
        // ONE scan + ONE step agg + ONE window pass + ONE grouped agg
        // (Engine.queryMulti's fused builder; PlanSpec pins the plan) instead of
        // a full engine pass per panel. Two-label store (event type ×
        // service, as pq_agg_multi_by) so the by-grouping genuinely
        // aggregates across series. Hash tricks follow the standalone
        // rows: sum-of-rates recovers the exact total cents (pq_sum_rate),
        // max-of-increase recovers integer cents, avg-of-avg lands on the
        // q6 grid (pq_avg_over_time).
        val ev = graft.model.Tables.events(s, d)
        val cooked2 = ev
          .withColumn("chq_timestamp", col("ts_ms") - col("ts_ms") % lit(60000L))
          .withColumn("attr_event_type", col("event_type"))
          .withColumn("resource_service_name",
            concat(lit("svc-"), (col("user_id") % 5).cast("string")))
          .groupBy(col("chq_timestamp"), col("attr_event_type"),
            col("resource_service_name"))
          .agg(sum(col("value")).as("chq_rollup_sum"),
            count(lit(1)).cast("double").as("chq_rollup_count"),
            min(col("value")).as("chq_rollup_min"),
            max(col("value")).as("chq_rollup_max"))
          .withColumn("metric_name", lit("events_value"))
          .withColumn("chq_metric_type", lit("gauge"))
        val p = QueryParams(Start, End, StepMs)
        Engine.queryMulti(Seq(
          "sum_rate" -> "sum by (attr_event_type) (rate(events_value[4h]))",
          "max_inc" -> "max by (attr_event_type) (increase(events_value[4h]))",
          "avg_aot" -> "avg by (attr_event_type) (avg_over_time(events_value[4h]))"),
          MetricStore(cooked2), p)
          .filter(!isnan(col("sum_rate")) && !isnan(col("max_inc")) &&
            !isnan(col("avg_aot")))
          .withColumn("sum_rate", exactCents(col("sum_rate"), H4))
          .withColumn("max_inc",
            round(col("max_inc") * 100, 0).cast("long") / 100.0)
          .withColumn("avg_aot", q6(col("avg_aot")))
      },
      Some(s"""WITH cooked2 AS (
          SELECT epoch_ms(ts) - epoch_ms(ts) % 60000 AS chq_timestamp,
                 event_type AS attr_event_type,
                 'svc-' || CAST(user_id % 5 AS VARCHAR) AS resource_service_name,
                 sum("value") AS chq_rollup_sum,
                 CAST(count(*) AS DOUBLE) AS chq_rollup_count
          FROM events GROUP BY 1, 2, 3),
        step AS (
          SELECT chq_timestamp - chq_timestamp % $StepMs AS ts,
                 attr_event_type, resource_service_name,
                 sum(chq_rollup_sum) AS bsum,
                 sum(chq_rollup_count) AS bcnt
          FROM cooked2
          WHERE chq_timestamp >= ${Start - H4} AND chq_timestamp < $End
          GROUP BY 1, 2, 3),
        win AS (
          SELECT ts, attr_event_type,
                 sum(bsum) OVER w AS wsum, sum(bcnt) OVER w AS wcnt,
                 min(ts) OVER w AS first_ts
          FROM step
          WINDOW w AS (PARTITION BY attr_event_type, resource_service_name
                       ORDER BY ts
                       RANGE BETWEEN ${H4 - StepMs} PRECEDING AND CURRENT ROW)),
        r AS (
          SELECT ts, attr_event_type,
                 CASE WHEN first_ts = ts - ${H4 - StepMs}
                      THEN wsum / ${H4 / 1000.0} ELSE 'NaN'::DOUBLE END AS rate_v,
                 CASE WHEN first_ts = ts - ${H4 - StepMs}
                      THEN wsum ELSE 'NaN'::DOUBLE END AS inc_v,
                 CASE WHEN first_ts = ts - ${H4 - StepMs} AND wcnt > 0
                      THEN wsum / wcnt ELSE 'NaN'::DOUBLE END AS aot_v
          FROM win WHERE ts >= $Start AND ts < $End),
        g AS (
          SELECT ts, attr_event_type,
                 sum(rate_v) AS sum_rate, max(inc_v) AS max_inc,
                 avg(aot_v) AS avg_aot
          FROM r GROUP BY 1, 2)
        SELECT ts, attr_event_type,
               CAST(round(sum_rate * ${H4 / 1000.0 * 100}, 0) AS BIGINT)
                 / ${H4 / 1000.0 * 100} AS sum_rate,
               CAST(round(max_inc * 100, 0) AS BIGINT) / 100.0 AS max_inc,
               ${q6Sql("avg_aot")} AS avg_aot
        FROM g
        WHERE NOT isnan(sum_rate) AND NOT isnan(max_inc)
          AND NOT isnan(avg_aot)""")),

    Q("pq_multi_hetero",
      { (s, d) =>
        // HETEROGENEOUS dashboard fusion (Engine.queryMultiTagged, r15):
        // three panels over TWO different metrics with THREE different
        // groupings — unfusable by the identical-selector paths above —
        // share ONE materialized pass over the store (PlanSpec pins the
        // panels' plans scan-free). Output is the tagged union
        // (alias, ts, series-JSON, value). events_count's rollups are
        // integer-valued, so max/increase hash exactly; the sum panel
        // recovers the cents grid like pq_sum_by.
        val ev = graft.model.Tables.events(s, d)
        def cook(name: String, v: org.apache.spark.sql.Column) = ev
          .withColumn("chq_timestamp", col("ts_ms") - col("ts_ms") % lit(60000L))
          .withColumn("attr_event_type", col("event_type"))
          .withColumn("attr_service",
            concat(lit("svc-"), (col("user_id") % 5).cast("string")))
          .groupBy(col("chq_timestamp"), col("attr_event_type"), col("attr_service"))
          .agg(sum(v).as("chq_rollup_sum"),
            count(lit(1)).cast("double").as("chq_rollup_count"),
            min(v).as("chq_rollup_min"), max(v).as("chq_rollup_max"))
          .withColumn("metric_name", lit(name))
          .withColumn("chq_metric_type", lit("gauge"))
        val store = MetricStore(
          cook("events_value", col("value"))
            .unionByName(cook("events_count", lit(1.0))))
        val p = QueryParams(Start, End, StepMs)
        Engine.queryMultiTagged(Seq(
          "sum_v" -> "sum by (attr_event_type) (events_value)",
          "max_c" -> "max by (attr_service) (events_count)",
          "inc_c" -> "increase(events_count[4h])"), store, p)
          .filter(!isnan(col("value")))
          .withColumn("value", when(col("alias") === "sum_v",
            round(col("value") * 100, 0).cast("long") / 100.0)
            .otherwise(col("value")))
      },
      Some(s"""WITH cookedh AS (
          SELECT epoch_ms(ts) - epoch_ms(ts) % 60000 AS chq_timestamp,
                 event_type AS attr_event_type,
                 'svc-' || CAST(user_id % 5 AS VARCHAR) AS attr_service,
                 sum("value") AS vsum, CAST(count(*) AS DOUBLE) AS csum
          FROM events GROUP BY 1, 2, 3),
        stepv AS (
          SELECT chq_timestamp - chq_timestamp % $StepMs AS ts,
                 attr_event_type, attr_service, sum(vsum) AS bsum
          FROM cookedh
          WHERE chq_timestamp >= $Start AND chq_timestamp < $End
          GROUP BY 1, 2, 3),
        stepc AS (
          SELECT chq_timestamp - chq_timestamp % $StepMs AS ts,
                 attr_event_type, attr_service, sum(csum) AS bsum
          FROM cookedh
          WHERE chq_timestamp >= ${Start - H4} AND chq_timestamp < $End
          GROUP BY 1, 2, 3),
        p1 AS (
          SELECT 'sum_v' AS alias, ts,
                 '{"attr_event_type":"' || attr_event_type || '"}' AS series,
                 CAST(round(sum(bsum) * 100, 0) AS BIGINT) / 100.0 AS value
          FROM stepv WHERE ts >= $Start AND ts < $End
          GROUP BY ts, attr_event_type),
        p2 AS (
          SELECT 'max_c' AS alias, ts,
                 '{"attr_service":"' || attr_service || '"}' AS series,
                 max(bsum) AS value
          FROM stepc WHERE ts >= $Start AND ts < $End
          GROUP BY ts, attr_service),
        p3 AS (
          SELECT 'inc_c' AS alias, ts,
                 '{"attr_event_type":"' || attr_event_type ||
                   '","attr_service":"' || attr_service || '"}' AS series,
                 wsum AS value
          FROM (SELECT ts, attr_event_type, attr_service,
                       sum(bsum) OVER w AS wsum, min(ts) OVER w AS first_ts
                FROM stepc
                WINDOW w AS (PARTITION BY attr_event_type, attr_service
                             ORDER BY ts
                             RANGE BETWEEN ${H4 - StepMs} PRECEDING
                               AND CURRENT ROW))
          WHERE first_ts = ts - ${H4 - StepMs}
            AND ts >= $Start AND ts < $End)
        SELECT * FROM p1 UNION ALL SELECT * FROM p2
        UNION ALL SELECT * FROM p3""")),

    Q("pq_topk",
      run("topk(2, events_value)"),
      Some(s"""WITH ${stepCte()},
        rk AS (SELECT ts, attr_event_type, bsum,
                 row_number() OVER (PARTITION BY ts
                   ORDER BY bsum DESC, attr_event_type ASC) AS rn
               FROM step WHERE ts >= $Start AND ts < $End)
        SELECT ts, attr_event_type, bsum AS value FROM rk WHERE rn <= 2""")),

    Q("pq_bottomk",
      run("bottomk(2, events_value)"),
      Some(s"""WITH ${stepCte()},
        rk AS (SELECT ts, attr_event_type, bsum,
                 row_number() OVER (PARTITION BY ts
                   ORDER BY bsum ASC, attr_event_type ASC) AS rn
               FROM step WHERE ts >= $Start AND ts < $End)
        SELECT ts, attr_event_type, bsum AS value FROM rk WHERE rn <= 2""")),

    Q("pq_quantile_agg",
      run("quantile(0.9, events_value)"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, quantile_cont(bsum, 0.9) AS value
        FROM step WHERE ts >= $Start AND ts < $End GROUP BY ts""")),

    Q("pq_vector_scalar",
      run("events_value / 60 + 1"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum / 60 + 1 AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    Q("pq_compare_filter",
      run("events_value > 150"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE bsum > 150 AND ts >= $Start AND ts < $End""")),

    Q("pq_compare_bool",
      run("events_value > bool 150"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type,
               CASE WHEN bsum > 150 THEN 1.0 ELSE 0.0 END AS value
        FROM step WHERE ts >= $Start AND ts < $End""")),

    Q("pq_binop_share",
      run("""events_value{attr_event_type="error"} / sum(events_value)"""),
      Some(s"""WITH ${stepCte()}
        SELECT l.ts, l.attr_event_type, l.bsum / r.tot AS value
        FROM (SELECT ts, attr_event_type, bsum FROM step
              WHERE attr_event_type = 'error') l
        JOIN (SELECT ts, sum(bsum) AS tot FROM step GROUP BY ts) r
          ON l.ts = r.ts
        WHERE l.ts >= $Start AND l.ts < $End""")),

    Q("pq_selfjoin_zero",
      run("""events_value - events_value"""),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum - bsum AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    Q("pq_and",
      run("""events_value{attr_event_type=~"error|click"} and (events_value > 150)"""),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE regexp_full_match(attr_event_type, 'error|click')
          AND bsum > 150 AND ts >= $Start AND ts < $End""")),

    Q("pq_unless",
      run("""events_value{attr_event_type=~"error|click"} unless (events_value > 150)"""),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE regexp_full_match(attr_event_type, 'error|click')
          AND NOT (bsum > 150) AND ts >= $Start AND ts < $End""")),

    Q("pq_or",
      run("""events_value{attr_event_type="error"} or events_value{attr_event_type="click"}"""),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE attr_event_type IN ('error', 'click')
          AND ts >= $Start AND ts < $End""")),

    Q("pq_unary_clamp",
      run("clamp_max(clamp_min(sqrt(events_value), 10), 25)"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type,
               least(greatest(sqrt(bsum), 10), 25) AS value
        FROM step WHERE ts >= $Start AND ts < $End""")),

    Q("pq_offset",
      run("events_value offset 1d"),
      Some(s"""WITH ${stepCte(0, 86400000L)}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    // negative offset = look-AHEAD (modern PromQL): the bucket at t carries
    // the samples from t + 1d. Gates the signed-duration offset parser —
    // before r16 `offset -1d` silently parsed as `offset 1d` (the unsigned
    // regex skipped the '-') and this row would hash-mismatch against the
    // forward-shifted oracle.
    Q("pq_offset_negative",
      run("events_value offset -1d"),
      Some(s"""WITH ${stepCte(0, -86400000L)}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    // range window × negative offset: the window slides over the
    // FORWARD-shifted buckets with the same left-inclusive coverage rule
    // (gates the interaction, not just the bare-selector shift; cents
    // recovery as pq_rate)
    Q("pq_rate_offset_neg",
      { (s, d) =>
        run("rate(events_value[4h] offset -1d)")(s, d).withColumn("value",
          exactCents(col("value"), H4))
      },
      Some(s"""WITH ${stepCte(H4, -86400000L)},
        win AS (
          SELECT ts, attr_event_type, sum(bsum) OVER w AS wsum,
                 min(ts) OVER w AS first_ts
          FROM step
          WINDOW w AS (PARTITION BY attr_event_type ORDER BY ts
                       RANGE BETWEEN ${H4 - StepMs} PRECEDING AND CURRENT ROW))
        SELECT ts, attr_event_type,
               CAST(round(wsum * 100, 0) AS BIGINT) / ${H4 / 1000.0 * 100} AS value
        FROM win WHERE ${covered(H4)}""")),

    Q("pq_irate", // irate ≡ rate at worker granularity; cents trick as pq_rate
      { (s, d) =>
        run("irate(events_value[4h])")(s, d).withColumn("value",
          exactCents(col("value"), H4))
      },
      Some(s"""WITH ${winCte(H4)}
        SELECT ts, attr_event_type,
               CAST(round(wsum * 100, 0) AS BIGINT) / ${H4 / 1000.0 * 100} AS value
        FROM win WHERE ${covered(H4)}""")),

    // true last-two-buckets irate behind the session flag: last bucket delta
    // over the gap to the previous bucket. A [2h] range at the 1h step pins
    // the in-window gap to exactly 3600 s, so the integer-cents recovery
    // divides by a constant on both sides (see pq_rate comment).
    Q("pq_irate_exact",
      { (s, d) =>
        s.conf.set(graft.promql.Engine.ExactIrateKey, "true")
        try
          run("irate(events_value[2h])")(s, d).withColumn("value",
            round(col("value") * lit(360000.0), 0).cast("long") / lit(360000.0))
        finally s.conf.unset(graft.promql.Engine.ExactIrateKey)
      },
      Some(s"""WITH ${stepCte(2 * 3600000L)},
        l AS (SELECT ts, attr_event_type, bsum,
                lag(ts) OVER (PARTITION BY attr_event_type ORDER BY ts)
                  AS prev_ts
              FROM step)
        SELECT ts, attr_event_type,
               CAST(round(bsum * 100, 0) AS BIGINT) / 360000.0 AS value
        FROM l
        WHERE prev_ts = ts - $StepMs AND ts >= $Start AND ts < $End""")),

    // count-series specialization: grid × distinct groups, zero-filled —
    // every (bucket, matched group) combo appears even with no data
    Q("pq_count_series",
      run("""count by (attr_event_type) (events_value{attr_event_type=~"error|signup"})"""),
      Some(s"""WITH ${stepCte()},
        m AS (SELECT ts, attr_event_type FROM step
              WHERE regexp_full_match(attr_event_type, 'error|signup')),
        grid AS (SELECT r.range AS ts, g.attr_event_type
                 FROM range($Start, $End, $StepMs) r
                 CROSS JOIN (SELECT DISTINCT attr_event_type FROM m) g),
        cnt AS (SELECT ts, attr_event_type, CAST(count(*) AS DOUBLE) AS c
                FROM m WHERE ts >= $Start AND ts < $End GROUP BY 1, 2)
        SELECT g.ts, g.attr_event_type, coalesce(c.c, 0.0) AS value
        FROM grid g
        LEFT JOIN cnt c ON g.ts = c.ts AND g.attr_event_type = c.attr_event_type""")),

    Q("pq_last_over_time",
      // last bucket in the window is the current one → its bucket average;
      // q6 for the same float-sum-quotient reason as pq_avg_over_time
      { (s, d) => run("last_over_time(events_value[6h])")(s, d)
        .withColumn("value", q6(col("value"))) },
      Some(s"""WITH ${winCte(H6)}
        SELECT w.ts, w.attr_event_type, ${q6Sql("s.bsum / s.bcnt")} AS value
        FROM win w JOIN step s ON w.ts = s.ts AND w.attr_event_type = s.attr_event_type
        WHERE w.first_ts = w.ts - ${H6 - StepMs} AND w.ts >= $Start AND w.ts < $End""")),

    Q("pq_agg_without",
      run("sum without (attr_event_type) (events_value)"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, sum(bsum) AS value FROM step
        WHERE ts >= $Start AND ts < $End GROUP BY ts""")),

    Q("pq_binop_on",
      run("increase(events_value[4h]) / on(attr_event_type) rate(events_value[4h])"),
      // increase/rate = range seconds wherever both sides are covered
      Some(s"""WITH ${winCte(H4)}
        SELECT ts, attr_event_type, ${H4 / 1000.0} AS value
        FROM win WHERE ${covered(H4)}""")),

    // scalar(vector) broadcast into vector arithmetic (scalar_node.go role)
    Q("pq_scalar_binop",
      run("events_value / scalar(sum(events_value))"),
      Some(s"""WITH ${stepCte()}
        SELECT l.ts, l.attr_event_type, l.bsum / r.tot AS value
        FROM step l
        JOIN (SELECT ts, sum(bsum) AS tot FROM step GROUP BY ts) r ON l.ts = r.ts
        WHERE l.ts >= $Start AND l.ts < $End""")),

    // subquery step [6h:1h]: leaf buckets at the 1h sub-step even though
    // the query step is 2h (reference: subquery step overrides leaf step)
    Q("pq_subquery_step",
      { (s, d) =>
        Engine.query("max_over_time(events_value[6h:1h])",
          MetricStore(Cooked.metrics(s, d)),
          QueryParams(Start, End, 2 * 3600000L))
          .filter(!isnan(col("value")))
      },
      Some(s"""WITH ${winCte(H6)}
        SELECT ts, attr_event_type, wmax AS value
        FROM win WHERE ${covered(H6)}""")),

    // --- label manipulation + absent + round (beyond the reference's
    //     planner, which rejects unknown functions; standard Prometheus) ---

    Q("pq_label_replace",
      run("""label_replace(events_value, "etype_id", "t-$1", "attr_event_type", "(e.*)")"""),
      // regex full-matches only e* types; others keep dst absent (null)
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type,
               CASE WHEN attr_event_type LIKE 'e%'
                    THEN 't-' || attr_event_type ELSE NULL END AS etype_id,
               bsum AS value
        FROM step WHERE ts >= $Start AND ts < $End""")),

    Q("pq_label_join",
      run("""label_join(events_value, "combo", "-", "attr_event_type", "attr_event_type")"""),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type,
               attr_event_type || '-' || attr_event_type AS combo,
               bsum AS value
        FROM step WHERE ts >= $Start AND ts < $End""")),

    Q("pq_absent",
      run("""absent(events_value{attr_event_type="no_such_type"})"""),
      // nothing matches → 1 on every grid bucket, carrying the selector's
      // equality-matcher label (Prometheus absent() semantics)
      Some(s"""SELECT r.range AS ts, 'no_such_type' AS attr_event_type,
               1.0 AS value
        FROM range($Start, $End, $StepMs) r""")),

    // round over COUNTS: integer-valued doubles are summation-order-exact
    // on both engines, so floor never straddles a 1-ulp boundary (a sum of
    // cents-quantized values can — it flipped 2 rows at sf0.1)
    Q("pq_round",
      run(s"round(count_over_time(events_value[${StepMs}ms]) / 7, 0.5)"),
      Some(s"""WITH ${stepCte(StepMs)}
        SELECT ts, attr_event_type,
               floor(bcnt / 7 / 0.5 + 0.5) * 0.5 AS value
        FROM step WHERE ts >= $Start AND ts < $End""")),

    // gauge delta: last minus first bucket average across the window
    // (q6: difference of two float-sum quotients)
    Q("pq_delta",
      { (s, d) => run("delta(events_value[6h])")(s, d)
        .withColumn("value", q6(col("value"))) },
      Some(s"""WITH ${stepCte(H6)},
        winf AS (
          SELECT ts, attr_event_type,
                 first_value(bsum / CASE WHEN bcnt = 0 THEN 1 ELSE bcnt END)
                   OVER w AS favg,
                 min(ts) OVER w AS first_ts
          FROM step
          WINDOW w AS (PARTITION BY attr_event_type ORDER BY ts
                       RANGE BETWEEN ${H6 - StepMs} PRECEDING AND CURRENT ROW))
        SELECT w.ts, w.attr_event_type,
               ${q6Sql("(s.bsum / CASE WHEN s.bcnt = 0 THEN 1 ELSE s.bcnt END) - w.favg")}
                 AS value
        FROM winf w
        JOIN step s ON w.ts = s.ts AND w.attr_event_type = s.attr_event_type
        WHERE w.first_ts = w.ts - ${H6 - StepMs}
          AND w.ts >= $Start AND w.ts < $End""")),

    // time(): grid-varying empty-label vector; binop broadcast over series
    Q("pq_time_shift",
      run("events_value - time()"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum - ts / 1000.0 AS value
        FROM step WHERE ts >= $Start AND ts < $End""")),

    // --- DDSketch paths ----------------------------------------------------

    // exact stats extracted from merged sketches: hash-matches DuckDB's
    // direct aggregation (count/sum/min/max ride exactly in the sketch)
    Q("pq_sketch_stats",
      { (s, d) =>
        import graft.sketch.{functions => gf}
        Cooked.metrics(s, d, withSketch = true)
          .groupBy((col("chq_timestamp") - col("chq_timestamp") % StepMs).as("ts"),
            col("attr_event_type"))
          .agg(gf.ddsketch_merge_agg(col("chq_sketch")).as("sk"))
          .select(col("ts"), col("attr_event_type"),
            gf.ddsketch_stats(col("sk")).as("st"))
          .select(col("ts"), col("attr_event_type"),
            col("st.count").as("cnt"), col("st.sum").as("sum_v"),
            col("st.min").as("min_v"), col("st.max").as("max_v"))
      },
      Some(s"""SELECT epoch_ms(ts) - epoch_ms(ts) % $StepMs AS ts,
               event_type AS attr_event_type,
               count(*) AS cnt, sum("value") AS sum_v,
               min("value") AS min_v, max("value") AS max_v
        FROM events GROUP BY 1, 2""")),

    // DDSketch quantiles are deterministic, not just alpha-accurate: with no
    // bucket collapse (value range here spans ~460 of 2048 bins) the merged
    // sketch is exactly the log-bucket histogram of the window's raw values,
    // so the oracle replays the bucket mapping i = ceil(ln(v)/ln(gamma)),
    // the lower-rank convention rank = floor(q*(n-1))+1, the midpoint value
    // 2*gamma^i/(gamma+1), and the [min,max] clamp — straight from events.
    Q("pq_hist_quantile",
      { (s, d) =>
        Engine.query("histogram_quantile(0.9, events_value)",
          MetricStore(Cooked.metrics(s, d, withSketch = true)),
          QueryParams(Start, End, StepMs))
          .withColumn("value", round(col("value"), 6))
      },
      Some(ddsQuantileSql(0.9, 0L))),

    Q("pq_atan2",
      // Prometheus's word-form arithmetic operator (2.31+): lhs atan2 rhs
      // = atan2(y=lhs, x=rhs), both engines' native convention; output is
      // bounded in (0, π/2) here so round-6 absorbs libm ulp differences
      { (s, d) =>
        run("events_value atan2 (events_value + 1)")(s, d)
          .withColumn("value", round(col("value"), 6))
      },
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, round(atan2(bsum, bsum + 1), 6) AS value
        FROM step WHERE ts >= $Start AND ts < $End""")),

    Q("pq_hist_sum_count",
      // histogram_sum/count ride exactly in the merged sketch
      { (s, d) =>
        val store = MetricStore(Cooked.metrics(s, d, withSketch = true))
        val pp = QueryParams(Start, End, StepMs)
        val hs = Engine.query("histogram_sum(events_value)", store, pp)
          .withColumn("sum_v", round(col("value"), 6)).drop("value")
        val hc = Engine.query("histogram_count(events_value)", store, pp)
          .withColumnRenamed("value", "count_v")
        hs.join(hc, Seq("ts", "attr_event_type"))
      },
      Some(s"""SELECT epoch_ms(ts) - epoch_ms(ts) % $StepMs AS ts,
               event_type AS attr_event_type,
               round(sum("value"), 6) AS sum_v,
               CAST(count(*) AS DOUBLE) AS count_v
        FROM events
        WHERE epoch_ms(ts) >= $Start AND epoch_ms(ts) < $End
        GROUP BY 1, 2""")),

    Q("pq_hist_avg",
      // histogram_avg/sum/count read exactly out of the merged sketch —
      // DuckDB aggregates the raw events directly. q6 instead of round-6:
      // the avg sits near round boundaries of the decimal data and flips
      // under summation-order noise (see Catalog.q6)
      { (s, d) =>
        Engine.query("histogram_avg(events_value)",
          MetricStore(Cooked.metrics(s, d, withSketch = true)),
          QueryParams(Start, End, StepMs))
          .withColumn("value", q6(col("value")))
      },
      Some(s"""SELECT epoch_ms(ts) - epoch_ms(ts) % $StepMs AS ts,
               event_type AS attr_event_type,
               ${q6Sql("""sum("value") / count(*)""")} AS value
        FROM events
        WHERE epoch_ms(ts) >= $Start AND epoch_ms(ts) < $End
        GROUP BY 1, 2""")),

    Q("pq_hist_fraction",
      // fraction of observations reading back in [1, 50]: the oracle
      // replays the bucket-midpoint membership rule exactly (same
      // ceil(ln(v)/ln(γ)) index and 2γ^i/(γ+1) midpoint as ddsQuantileSql)
      { (s, d) =>
        Engine.query("histogram_fraction(1, 50, events_value)",
          MetricStore(Cooked.metrics(s, d, withSketch = true)),
          QueryParams(Start, End, StepMs))
          .withColumn("value", round(col("value"), 6))
      },
      Some {
        val gamma = "((1.0 + 0.01) / (1.0 - 0.01))"
        s"""WITH ev AS (
          SELECT epoch_ms(ts) - epoch_ms(ts) % $StepMs AS ts,
                 event_type AS attr_event_type,
                 CASE WHEN "value" < 1e-9 THEN 0.0
                      ELSE 2 * pow($gamma, ceil(ln("value") / ln($gamma)))
                           / ($gamma + 1.0) END AS mv
          FROM events
          WHERE epoch_ms(ts) >= $Start AND epoch_ms(ts) < $End)
        SELECT ts, attr_event_type,
               round(CAST(count(*) FILTER (WHERE mv >= 1 AND mv <= 50) AS DOUBLE)
                     / count(*), 6) AS value
        FROM ev GROUP BY 1, 2"""
      }),

    Q("pq_hist_stdvar",
      // variance of the sketch's read-back values — both engines fold the
      // per-bucket (count · midpoint) products in ASCENDING read-back
      // order (Scala sorted-bucket loop ≡ DuckDB ordered list_reduce), so
      // the float sums walk the identical sequence
      { (s, d) =>
        Engine.query("histogram_stdvar(events_value)",
          MetricStore(Cooked.metrics(s, d, withSketch = true)),
          QueryParams(Start, End, StepMs))
          .withColumn("value", round(col("value"), 6))
      },
      Some {
        val gamma = "((1.0 + 0.01) / (1.0 - 0.01))"
        s"""WITH ev AS (
          SELECT epoch_ms(ts) - epoch_ms(ts) % $StepMs AS ts,
                 event_type AS attr_event_type,
                 CASE WHEN "value" < 1e-9 THEN 0.0
                      ELSE 2 * pow($gamma, ceil(ln("value") / ln($gamma)))
                           / ($gamma + 1.0) END AS mv
          FROM events
          WHERE epoch_ms(ts) >= $Start AND epoch_ms(ts) < $End),
        bkt AS (SELECT ts, attr_event_type, mv, CAST(count(*) AS DOUBLE) AS c
                FROM ev GROUP BY 1, 2, 3),
        l AS (SELECT ts, attr_event_type,
                list_sum(list(CAST(c AS BIGINT))) AS n,
                list_reduce(list(c * mv ORDER BY mv), (a, b) -> a + b) AS sv,
                list_reduce(list(c * mv * mv ORDER BY mv), (a, b) -> a + b) AS svv
              FROM bkt GROUP BY 1, 2)
        SELECT ts, attr_event_type,
               round((n * svv - sv * sv) / (CAST(n AS DOUBLE) * n), 6) AS value
        FROM l"""
      }),

    Q("pq_quantile_over_time",
      { (s, d) =>
        Engine.query("quantile_over_time(0.95, events_value[4h])",
          MetricStore(Cooked.metrics(s, d, withSketch = true)),
          QueryParams(Start, End, StepMs)).filter(!isnan(col("value")))
          .withColumn("value", round(col("value"), 6))
      },
      Some(ddsQuantileSql(0.95, H4))),

    // --- gauge-analysis range family (deriv/idelta/changes/resets/stdvar/
    //     stddev/present, predict_linear, timestamp, sort) — standard
    //     Prometheus surface beyond the reference's planner, evaluated over
    //     bucket gauge values (bucket averages, the delta/last_over_time
    //     convention). Oracles replay the exact expression trees so the
    //     doubles stay deterministic (see each formula comment). ---

    Q("pq_present_over_time",
      run("present_over_time(events_value[4h])"),
      // 1 at every bucket the series has data in — no coverage gate
      Some(s"""WITH ${stepCte(H4)}
        SELECT ts, attr_event_type, 1.0 AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    Q("pq_idelta",
      // [2h] at the 1h step pins the pair to (ts-1h, ts); q6 because each
      // gauge value is a float-sum quotient (the difference inherits and
      // doubles the ulp noise)
      { (s, d) => run("idelta(events_value[2h])")(s, d)
        .withColumn("value", q6(col("value"))) },
      Some(s"""WITH ${gaugeCte(2 * 3600000L)},
        l AS (SELECT ts, attr_event_type, v,
                lag(ts) OVER w AS pts, lag(v) OVER w AS pv
              FROM gauge
              WINDOW w AS (PARTITION BY attr_event_type ORDER BY ts))
        SELECT ts, attr_event_type, ${q6Sql("v - pv")} AS value
        FROM l WHERE pts = ts - $StepMs AND ts >= $Start AND ts < $End""")),

    Q("pq_changes",
      run("changes(events_value[6h])"),
      Some(changesResetsSql("<>"))),

    Q("pq_resets",
      run("resets(events_value[6h])"),
      Some(changesResetsSql("<"))),

    Q("pq_stddev_over_time",
      { (s, d) =>
        val store = MetricStore(Cooked.metrics(s, d))
        val p = QueryParams(Start, End, StepMs)
        val sv = Engine.query("stdvar_over_time(events_value[6h])", store, p)
          .withColumnRenamed("value", "stdvar_v")
        val sd = Engine.query("stddev_over_time(events_value[6h])", store, p)
          .withColumnRenamed("value", "stddev_v")
        sv.join(sd, Seq("ts", "attr_event_type"))
          .filter(!isnan(col("stdvar_v")) && !isnan(col("stddev_v")))
      },
      // population variance via the engine's exact-sums form
      // (n·Σv² − (Σv)²)/n², with Σv/Σv² replayed as the SAME left fold over
      // the SAME ts-ordered window list (recursive CTE ≡ the engine's
      // aggregate() fold) — window SUM frame-walk order is engine-internal
      // and the cancellation amplifies its ulp noise, so ordered folds are
      // the only bit-replayable construction. The fold inputs are the
      // engine's cents-quantized bucket averages (Engine stddev arm):
      // floor(x·100 + 1/π)/100 — pure IEEE ops, and the irrational offset
      // keeps the quantization boundary off the rational data grid so each
      // engine's ulp-noisy bucket average lands in the same cell.
      Some(s"""WITH RECURSIVE ${gaugeCte(H6)},
        gq AS (SELECT ts, attr_event_type,
                 floor(v * 100 + CAST(0.31830988618367446 AS DOUBLE)) / 100.0 AS v
               FROM gauge),
        wnd AS (SELECT ts, attr_event_type,
                  list(v) OVER w AS vs, min(ts) OVER w AS first_ts
                FROM gq
                WINDOW w AS (PARTITION BY attr_event_type ORDER BY ts
                             RANGE BETWEEN ${H6 - StepMs} PRECEDING AND CURRENT ROW)),
        base AS (SELECT ts, attr_event_type, vs FROM wnd
                 WHERE first_ts = ts - ${H6 - StepMs}
                   AND ts >= $Start AND ts < $End),
        f AS (SELECT ts, attr_event_type, vs, 0 AS i,
                     CAST(0 AS DOUBLE) AS sv, CAST(0 AS DOUBLE) AS svv
              FROM base
              UNION ALL
              SELECT ts, attr_event_type, vs, i + 1,
                     sv + vs[i + 1], svv + vs[i + 1] * vs[i + 1]
              FROM f WHERE i < len(vs)),
        d AS (SELECT ts, attr_event_type,
                     CAST(len(vs) AS DOUBLE) AS n, sv, svv
              FROM f WHERE i = len(vs))
        SELECT ts, attr_event_type,
               (n * svv - sv * sv) / (n * n) AS stdvar_v,
               sqrt((n * svv - sv * sv) / (n * n)) AS stddev_v
        FROM d""")),

    Q("pq_deriv",
      run("deriv(events_value[6h])"),
      // least-squares slope; x anchored at the aligned query start keeps
      // Σx and Σx² exact; the Σv/Σxv numerator replays the engine's
      // ordered fold (see derivCte)
      Some(s"""WITH RECURSIVE ${derivCte(H6)}
        SELECT ts, attr_event_type,
               (CAST(len(vs) AS DOUBLE) * sxv - sx * sv)
                 / (CAST(len(vs) AS DOUBLE) * sxx - sx * sx) AS value
        FROM wnd WHERE i = len(vs)""")),

    Q("pq_predict_linear",
      run("predict_linear(events_value[6h], 3600)"),
      // v̄ + slope·(x + t − x̄), the engine's exact expression tree
      Some(s"""WITH RECURSIVE ${derivCte(H6)}
        SELECT ts, attr_event_type,
               sv / CAST(len(vs) AS DOUBLE)
                 + ((CAST(len(vs) AS DOUBLE) * sxv - sx * sv)
                    / (CAST(len(vs) AS DOUBLE) * sxx - sx * sx))
                   * ((ts - $Start) / 1000.0 + 3600.0
                      - sx / CAST(len(vs) AS DOUBLE)) AS value
        FROM wnd WHERE i = len(vs)""")),

    Q("pq_timestamp",
      run("timestamp(events_value)"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, ts / 1000.0 AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    Q("pq_sort",
      run("sort_desc(events_value)"),
      // presentation-only: same sample set as the bare selector (the
      // verifier compares content, not order — the row proves parse+plan)
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    Q("pq_sort_by_label",
      run("""sort_by_label_desc(events_value, "attr_event_type")"""),
      // presentation-only, like pq_sort: the row proves parse+plan of the
      // experimental label-sort surface (verifier compares content)
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type, bsum AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    Q("pq_limitk",
      run("limitk(3, events_value)"),
      // deterministic hash selection: the 3 series with smallest md5(key)
      // per bucket; with the single attr_event_type label the series key IS
      // the label value, so DuckDB ranks the same md5 hex strings
      Some(s"""WITH ${stepCte()},
        r AS (SELECT ts, attr_event_type, bsum,
                row_number() OVER (PARTITION BY ts
                  ORDER BY md5(attr_event_type), attr_event_type) AS rk
              FROM step WHERE ts >= $Start AND ts < $End)
        SELECT ts, attr_event_type, bsum AS value FROM r WHERE rk <= 3""")),

    Q("pq_limit_ratio",
      // complementary-pair contract in one row: limit_ratio(0.4) tagged
      // "keep" unioned with limit_ratio(-0.6) tagged "comp" must tile the
      // bare selector exactly — the oracle splits on the same 48-bit
      // md5-uniform (Sampling.uniform's replay pattern)
      { (s, d) =>
        val store = MetricStore(Cooked.metrics(s, d))
        val p = QueryParams(Start, End, StepMs)
        val a = Engine.query("limit_ratio(0.4, events_value)", store, p)
          .withColumn("part", lit("keep"))
        val b = Engine.query("limit_ratio(-0.6, events_value)", store, p)
          .withColumn("part", lit("comp"))
        a.unionByName(b)
      },
      Some(s"""WITH ${stepCte()},
        u AS (SELECT ts, attr_event_type, bsum,
                CAST(('0x' || substr(md5(attr_event_type), 1, 12)) AS BIGINT)
                  / 281474976710656.0 AS unif
              FROM step WHERE ts >= $Start AND ts < $End)
        SELECT ts, attr_event_type, bsum AS value, 'keep' AS part
        FROM u WHERE unif < 0.4
        UNION ALL
        SELECT ts, attr_event_type, bsum AS value, 'comp' AS part
        FROM u WHERE unif >= 0.4""")),

    Q("pq_mad_over_time",
      // median absolute deviation over the window's bucket gauge values;
      // both engines use the explicit sorted-array median formula —
      // (a+b)/2 on even counts — so the PICKS replay identically, but the
      // picked values are float-sum quotients whose ulp noise survives to
      // the output → q6 (see Catalog.q6)
      { (s, d) => run("mad_over_time(events_value[6h])")(s, d)
        .withColumn("value", q6(col("value"))) },
      Some(s"""WITH ${gaugeCte(H6)},
        l AS (SELECT ts, attr_event_type,
                list(v) OVER w AS vs, min(ts) OVER w AS first_ts
              FROM gauge
              WINDOW w AS (PARTITION BY attr_event_type ORDER BY ts
                           RANGE BETWEEN ${H6 - StepMs} PRECEDING AND CURRENT ROW)),
        m AS (SELECT ts, attr_event_type, vs, first_ts,
                list_sort(vs) AS s, len(vs) AS n FROM l),
        md AS (SELECT ts, attr_event_type, vs, first_ts, n,
                CASE WHEN n % 2 = 1 THEN s[(n + 1) // 2]
                     ELSE (s[n // 2] + s[n // 2 + 1]) / 2.0 END AS med
               FROM m),
        dv AS (SELECT ts, attr_event_type, first_ts, n,
                list_sort(list_transform(vs, x -> abs(x - med))) AS ds
               FROM md)
        SELECT ts, attr_event_type,
               ${q6Sql("""CASE WHEN n % 2 = 1 THEN ds[(n + 1) // 2]
                    ELSE (ds[n // 2] + ds[n // 2 + 1]) / 2.0 END""")} AS value
        FROM dv
        WHERE first_ts = ts - ${H6 - StepMs} AND ts >= $Start AND ts < $End""")),

    Q("pq_ts_of_extremes",
      { (s, d) =>
        val store = MetricStore(Cooked.metrics(s, d))
        val p = QueryParams(Start, End, StepMs)
        val mx = Engine.query("ts_of_max_over_time(events_value[6h])", store, p)
          .withColumnRenamed("value", "tsmax_v")
        val mn = Engine.query("ts_of_min_over_time(events_value[6h])", store, p)
          .withColumnRenamed("value", "tsmin_v")
        mx.join(mn, Seq("ts", "attr_event_type"))
          .filter(!isnan(col("tsmax_v")) && !isnan(col("tsmin_v")))
      },
      // sorted (v, t) struct list: last element = extreme value with the
      // latest bucket on ties; min negates v and rides the same pick
      Some(s"""WITH ${gaugeCte(H6)},
        wnd AS (SELECT ts, attr_event_type, min(ts) OVER w AS first_ts,
                  list(struct_pack(v := v, t := ts)) OVER w AS lx,
                  list(struct_pack(v := -v, t := ts)) OVER w AS ln
                FROM gauge
                WINDOW w AS (PARTITION BY attr_event_type ORDER BY ts
                             RANGE BETWEEN ${H6 - StepMs} PRECEDING AND CURRENT ROW))
        SELECT ts, attr_event_type,
               list_sort(lx)[len(lx)].t / 1000.0 AS tsmax_v,
               list_sort(ln)[len(ln)].t / 1000.0 AS tsmin_v
        FROM wnd
        WHERE first_ts = ts - ${H6 - StepMs} AND ts >= $Start AND ts < $End""")),

    Q("pq_hist_quantile_classic",
      { (s, d) =>
        val store = MetricStore(classicHistStore(s, d))
        Engine.query("histogram_quantile(0.5, events_hist)", store,
          QueryParams(Start, End, StepMs))
          .filter(!isnan(col("value")))
      },
      // classic le-bucket quantile: cumulative counts from integer events,
      // rank q·total, linear interpolation inside the target bucket — the
      // oracle replays the identical sorted-list fold (list ops, same
      // formula, same operand order)
      Some(s"""WITH hb AS (
          SELECT epoch_ms(ts) - epoch_ms(ts) % 60000 AS cts,
                 event_type AS attr_event_type, le,
                 CAST(count(*) AS DOUBLE) AS cnt
          FROM events
          CROSS JOIN (SELECT unnest(['10','25','50','100','+Inf']) AS le) b
          WHERE le = '+Inf' OR "value" <= CAST(le AS DOUBLE)
          GROUP BY 1, 2, 3),
        stepb AS (
          SELECT cts - cts % $StepMs AS ts, attr_event_type,
                 CASE WHEN le = '+Inf' THEN CAST('inf' AS DOUBLE)
                      ELSE CAST(le AS DOUBLE) END AS led,
                 sum(cnt) AS v
          FROM hb WHERE cts >= $Start AND cts < $End
          GROUP BY 1, 2, 3),
        g AS (
          SELECT ts, attr_event_type,
                 list(struct_pack(le := led, v := v) ORDER BY led) AS bs
          FROM stepb GROUP BY 1, 2),
        r AS (
          SELECT ts, attr_event_type, bs, len(bs) AS n,
                 0.5 * bs[len(bs)].v AS rk
          FROM g),
        f AS (
          SELECT ts, attr_event_type, n, rk, bs,
                 list_filter(bs, x -> x.v >= rk) AS hits,
                 list_filter(bs, x -> x.v < rk) AS below
          FROM r)
        SELECT ts, attr_event_type,
               CASE WHEN hits[1].le = CAST('inf' AS DOUBLE) THEN bs[n-1].le
                    ELSE coalesce(below[len(below)].le, 0)
                         + (hits[1].le - coalesce(below[len(below)].le, 0))
                           * (rk - coalesce(below[len(below)].v, 0))
                           / (hits[1].v - coalesce(below[len(below)].v, 0)) END AS value
        FROM f
        WHERE n >= 2 AND rk > 0 AND len(hits) > 0""")),

    Q("pq_trig",
      // trig surface over bounded arguments: asin∘sin and acos∘cos keep
      // outputs in [−π, π], atan is bounded, deg∘rad round-trips the value
      // — no tan-asymptote blowups where ulp noise could cross the round-6
      // compare boundary (hyperbolics are engine-only: DuckDB 1.0 lacks
      // sinh/cosh/tanh, so they're spec-gated instead of oracle-gated)
      { (s, d) =>
        run("asin(sin(events_value)) + acos(cos(events_value)) + atan(events_value) + deg(rad(events_value)) + pi()")(s, d)
          .withColumn("value", round(col("value"), 6))
      },
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type,
               round(asin(sin(bsum)) + acos(cos(bsum)) + atan(bsum)
                     + degrees(radians(bsum)) + pi(), 6) AS value
        FROM step WHERE ts >= $Start AND ts < $End""")),

    Q("pq_clamp",
      run("clamp(events_value, 2, 8)"),
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type,
               least(greatest(bsum, 2), 8) AS value
        FROM step WHERE ts >= $Start AND ts < $End""")),

    Q("pq_double_exp_smoothing",
      run("double_exponential_smoothing(events_value[6h], 0.3, 0.6)"),
      // the engine's fold replayed as a recursive CTE: identical recurrence,
      // identical operation order over the identical ts-ordered value list,
      // so every intermediate double is bit-equal
      Some(s"""WITH RECURSIVE ${gaugeCte(H6)},
        wnd AS (SELECT ts, attr_event_type,
                  list(v) OVER w AS vs, min(ts) OVER w AS first_ts
                FROM gauge
                WINDOW w AS (PARTITION BY attr_event_type ORDER BY ts
                             RANGE BETWEEN ${H6 - StepMs} PRECEDING AND CURRENT ROW)),
        base AS (SELECT ts, attr_event_type, vs FROM wnd
                 WHERE first_ts = ts - ${H6 - StepMs}
                   AND ts >= $Start AND ts < $End AND len(vs) >= 2),
        sm AS (
          SELECT ts, attr_event_type, vs, 1 AS i,
                 CAST('NaN' AS DOUBLE) AS s0, vs[1] AS s1, vs[2] - vs[1] AS b
          FROM base
          UNION ALL
          SELECT ts, attr_event_type, vs, i + 1,
                 s1,
                 0.3 * vs[i + 1] + (1 - 0.3) * (s1 + CASE WHEN i = 1 THEN b
                   ELSE 0.6 * (s1 - s0) + (1 - 0.6) * b END),
                 CASE WHEN i = 1 THEN b ELSE 0.6 * (s1 - s0) + (1 - 0.6) * b END
          FROM sm WHERE i < len(vs))
        SELECT ts, attr_event_type, s1 AS value FROM sm WHERE i = len(vs)""")),

    Q("pq_subquery_expr",
      // subquery over an ARBITRARY expression (not just a selector):
      // rate at 4h resolution, then the daily running max of those rates.
      // The inner 4h bsum group-sums doubles in engine-dependent order, so
      // each rate carries ulp noise. max() can't flip across DISTINCT cents
      // values (adjacent cents differ by 1/1440000 ≫ ulp), so quantizing the
      // picked max back to exact integer cents (pq_rate technique) makes the
      // emitted double bit-identical on both engines.
      { (s, d) =>
        run("max_over_time(rate(events_value[4h])[1d:4h])")(s, d)
          .withColumn("value", exactCents(col("value"), H4))
      },
      Some {
        val d1 = 86400000L
        s"""WITH ${Cooked.metricsCte},
        b4 AS (
          SELECT chq_timestamp - chq_timestamp % $H4 AS ts4, attr_event_type,
                 sum(chq_rollup_sum) AS bsum
          FROM cooked
          WHERE chq_timestamp >= ${Start - d1} AND chq_timestamp < $End
          GROUP BY 1, 2),
        r AS (SELECT ts4, attr_event_type, bsum / ${H4 / 1000.0} AS rate
              FROM b4)
        SELECT g.ts, r.attr_event_type,
               CAST(round(max(r.rate) * ${H4 / 1000.0 * 100}, 0) AS BIGINT)
                 / ${H4 / 1000.0 * 100} AS value
        FROM range($Start, $End, $StepMs) g(ts)
        JOIN r ON r.ts4 >= g.ts - ${d1 - H4} AND r.ts4 <= g.ts
        GROUP BY 1, 2"""
      }),

    // NEGATIVE offset on an expression SUBQUERY: the whole inner series
    // shifts forward — value at t is the daily max of the NEXT day's 4h
    // buckets ([t + 4h, t + 1d]). Gates the subquery arm of the signed
    // offset parser and subqueryWindow's sign-agnostic point shift (the
    // selector arm is pq_offset_negative). Cents quantization on the
    // picked max, the pq_subquery_expr technique.
    Q("pq_subquery_offset_neg",
      { (s, d) =>
        run("max_over_time((events_value)[1d:4h] offset -1d)")(s, d)
          .withColumn("value",
            round(col("value") * 100, 0).cast("long") / lit(100.0))
      },
      Some {
        val d1 = 86400000L
        s"""WITH ${Cooked.metricsCte},
        b4 AS (
          SELECT chq_timestamp - chq_timestamp % $H4 AS u, attr_event_type,
                 sum(chq_rollup_sum) AS bsum
          FROM cooked
          WHERE chq_timestamp >= $Start AND chq_timestamp < ${End + d1}
          GROUP BY 1, 2)
        SELECT g.ts, b4.attr_event_type,
               CAST(round(max(b4.bsum) * 100, 0) AS BIGINT) / 100.0 AS value
        FROM range($Start, $End, $StepMs) g(ts)
        JOIN b4 ON b4.u - $d1 >= g.ts - ${d1 - H4} AND b4.u - $d1 <= g.ts
        GROUP BY 1, 2"""
      }),

    Q("pq_count_values",
      // ×100 puts the bucket sum on the cents scale, where its true value
      // is an exact integer: round() sits ~0.5 away from any boundary, so
      // ulp-level summation-order noise can't flip it (the pq_rate lesson —
      // round(bsum) directly DOES flip on x.50 sums). Integral → the
      // "42"-style bare format path.
      run("""count_values("val", round(events_value * 100))"""),
      Some(s"""WITH ${stepCte()},
        r AS (SELECT ts, floor(bsum * 100 / 1.0 + 0.5) * 1.0 AS rv FROM step
              WHERE ts >= $Start AND ts < $End)
        SELECT ts,
               CASE WHEN rv = CAST(CAST(rv AS BIGINT) AS DOUBLE)
                    THEN CAST(CAST(rv AS BIGINT) AS VARCHAR)
                    ELSE CAST(rv AS VARCHAR) END AS val,
               CAST(count(*) AS DOUBLE) AS value
        FROM r GROUP BY 1, 2""")),

    Q("pq_at_modifier",
      // @ pins evaluation to one bucket (the first grid bucket — dense at
      // every SF); the pinned per-series value is emitted on every step
      run(s"events_value @ ${Start / 1000}"),
      Some(s"""WITH ${stepCte()},
        pinned AS (SELECT attr_event_type, bsum FROM step WHERE ts = $Start)
        SELECT g.ts, p.attr_event_type, p.bsum AS value
        FROM range($Start, $End, $StepMs) g(ts), pinned p""")),

    Q("pq_group_left",
      // many-to-one matching — a superset of the reference (its parser
      // rejects group modifiers). label_replace buckets the five event
      // types into hi/lo groups; each series is divided by its group's
      // total, so the result keeps the many side's full label set
      run("""label_replace(label_replace(events_value, "grp", "lo", "attr_event_type", ".*"), "grp", "hi", "attr_event_type", "error|signup")
             / on(grp) group_left
             sum by (grp) (label_replace(label_replace(events_value, "grp", "lo", "attr_event_type", ".*"), "grp", "hi", "attr_event_type", "error|signup"))"""),
      Some(s"""WITH ${stepCte()},
        s AS (SELECT ts, attr_event_type, bsum,
                CASE WHEN attr_event_type = 'error' OR attr_event_type = 'signup'
                  THEN 'hi' ELSE 'lo' END AS grp
              FROM step WHERE ts >= $Start AND ts < $End),
        g AS (SELECT ts, grp, sum(bsum) AS gsum FROM s GROUP BY 1, 2)
        SELECT s.ts, s.attr_event_type, s.grp, s.bsum / g.gsum AS value
        FROM s JOIN g ON s.ts = g.ts AND s.grp = g.grp""")),

    Q("pq_agg_stddev",
      { (s, d) =>
        val store = MetricStore(Cooked.metrics(s, d))
        val p = QueryParams(Start, End, StepMs)
        val sv = Engine.query("stdvar(events_value)", store, p)
          .withColumnRenamed("value", "stdvar_v")
        val sd = Engine.query("stddev(events_value)", store, p)
          .withColumnRenamed("value", "stddev_v")
        sv.join(sd, Seq("ts"))
      },
      // cross-series population variance per bucket, exact-sums form —
      // the engine's identical expression tree
      Some(s"""WITH ${stepCte()},
        g AS (SELECT ts, CAST(count(*) AS DOUBLE) AS n, sum(bsum) AS sv,
                     sum(bsum * bsum) AS svv
              FROM step WHERE ts >= $Start AND ts < $End GROUP BY ts)
        SELECT ts, (n * svv - sv * sv) / (n * n) AS stdvar_v,
               sqrt((n * svv - sv * sv) / (n * n)) AS stddev_v
        FROM g""")),

    Q("pq_agg_group",
      run("group by (attr_event_type) (events_value)"),
      Some(s"""WITH ${stepCte()}
        SELECT DISTINCT ts, attr_event_type, 1.0 AS value FROM step
        WHERE ts >= $Start AND ts < $End""")),

    Q("pq_absent_over_time",
      { (s, d) =>
        // window [day 21, day 35): events end at day 30, so absence
        // genuinely fires at EVERY sf (tail gaps at sf0.001, the beyond-
        // data region everywhere) while presence still suppresses the grid
        Engine.query(
          """absent_over_time(events_value{attr_event_type="signup"}[4h])""",
          MetricStore(Cooked.metrics(s, d)),
          QueryParams(AbsStart, AbsEnd, StepMs))
      },
      // 1 on grid buckets whose [4h] bucket window has no signup sample;
      // the output carries the selector's equality-matcher label
      Some(s"""WITH ${Cooked.metricsCte},
        step AS (
          SELECT chq_timestamp - chq_timestamp % $StepMs AS ts, attr_event_type
          FROM cooked
          WHERE chq_timestamp >= ${AbsStart - H4} AND chq_timestamp < $AbsEnd
          GROUP BY 1, 2)
        SELECT r.range AS ts, 'signup' AS attr_event_type, 1.0 AS value
        FROM range($AbsStart, $AbsEnd, $StepMs) r
        WHERE NOT EXISTS (
          SELECT 1 FROM step s WHERE s.attr_event_type = 'signup'
            AND s.ts BETWEEN r.range - ${H4 - StepMs} AND r.range)""")),

    Q("pq_time_components",
      { (s, d) =>
        val store = MetricStore(Cooked.metrics(s, d))
        val p = QueryParams(Start, End, StepMs)
        def q(e: String, n: String) =
          Engine.query(e, store, p).withColumnRenamed("value", n)
        val on = Seq("ts", "attr_event_type")
        // timestamp() puts the evaluation time INTO the value, which the
        // calendar fns then read (Prometheus semantics: components of the
        // sample value as epoch seconds, not of the grid timestamp)
        q("hour(timestamp(events_value))", "hour_v")
          .join(q("minute(timestamp(events_value))", "minute_v"), on)
          .join(q("day_of_week(timestamp(events_value))", "dow_v"), on)
          .join(q("day_of_month(timestamp(events_value))", "dom_v"), on)
          .join(q("day_of_year(timestamp(events_value))", "doy_v"), on)
          .join(q("month(timestamp(events_value))", "month_v"), on)
          .join(q("year(timestamp(events_value))", "year_v"), on)
      },
      // hour/minute/dow are pure epoch arithmetic; the calendar components
      // go through epoch-ms timestamps (UTC on both engines)
      Some(s"""WITH ${stepCte()}
        SELECT ts, attr_event_type,
               floor(ts / 3600000.0) % 24 AS hour_v,
               floor(ts / 60000.0) % 60 AS minute_v,
               (floor(ts / 86400000.0) + 4) % 7 AS dow_v,
               CAST(day(epoch_ms(ts)) AS DOUBLE) AS dom_v,
               CAST(dayofyear(epoch_ms(ts)) AS DOUBLE) AS doy_v,
               CAST(month(epoch_ms(ts)) AS DOUBLE) AS month_v,
               CAST(year(epoch_ms(ts)) AS DOUBLE) AS year_v
        FROM step WHERE ts >= $Start AND ts < $End"""))
  )

  /** gauge CTE: per-bucket gauge value (bucket average), the convention the
    * gauge-analysis range fns evaluate over
    */
  /** cooked classic-histogram store: cumulative `le` bucket counts of
    * events.value per (60 s pre-agg bucket, event_type) — the engine's
    * leaf re-buckets to the step grid by summing counts
    */
  private def classicHistStore(s: SparkSession, d: String): DataFrame = {
    val ev = graft.model.Tables.events(s, d)
    val b = array(lit("10"), lit("25"), lit("50"), lit("100"), lit("+Inf"))
    ev.select(col("ts_ms"), col("event_type"), col("value"))
      .withColumn("le", explode(b))
      .filter(col("le") === "+Inf" || col("value") <= col("le").cast("double"))
      .groupBy((col("ts_ms") - col("ts_ms") % 60000).as("chq_timestamp"),
        col("event_type").as("attr_event_type"), col("le"))
      .agg(count(lit(1)).cast("double").as("chq_rollup_sum"))
      .withColumn("chq_rollup_count", lit(1.0))
      .withColumn("chq_rollup_min", col("chq_rollup_sum"))
      .withColumn("chq_rollup_max", col("chq_rollup_sum"))
      .withColumn("metric_name", lit("events_hist"))
  }

  private def gaugeCte(rangeMs: Long): String =
    s"""${stepCte(rangeMs)},
     gauge AS (
       SELECT ts, attr_event_type,
              bsum / CASE WHEN bcnt = 0 THEN 1 ELSE bcnt END AS v
       FROM step)"""

  /** changes/resets: per-bucket transition indicator vs the previous bucket,
    * window sum minus the leftmost element's indicator (its pair sits
    * outside the window) — the engine's exact construction
    */
  private def changesResetsSql(cmp: String): String =
    s"""WITH ${gaugeCte(H6)},
      l AS (SELECT ts, attr_event_type, v,
              lag(v) OVER (PARTITION BY attr_event_type ORDER BY ts) AS pv
            FROM gauge),
      i AS (SELECT ts, attr_event_type,
              CASE WHEN pv IS NOT NULL AND v $cmp pv THEN 1.0 ELSE 0.0 END AS ind
            FROM l),
      wnd AS (SELECT ts, attr_event_type,
                sum(ind) OVER w - first_value(ind) OVER w AS value,
                min(ts) OVER w AS first_ts
              FROM i
              WINDOW w AS (PARTITION BY attr_event_type ORDER BY ts
                           RANGE BETWEEN ${H6 - StepMs} PRECEDING AND CURRENT ROW))
      SELECT ts, attr_event_type, value FROM wnd
      WHERE first_ts = ts - ${H6 - StepMs} AND ts >= $Start AND ts < $End"""

  /** windowed regression sums for deriv/predict_linear: x = seconds since
    * the aligned query start (exact at the step grid). All four sums are
    * the engine's LEFT FOLD over the ts-ordered (x, v) window list,
    * replayed as a recursive CTE — the Σv/Σxv numerator sits under the
    * same cancellation that made window-order SUMs bit-unstable for the
    * stddev row. The caller's final SELECT filters `i = len(vs)` and
    * reads n/sx/sv/sxv/sxx plus ts-derived x.
    */
  private def derivCte(rangeMs: Long): String =
    s"""${gaugeCte(rangeMs)},
     wl AS (SELECT ts, attr_event_type,
              list(struct_pack(x := (ts - $Start) / 1000.0, v := v)) OVER w AS vs,
              min(ts) OVER w AS first_ts
            FROM gauge
            WINDOW w AS (PARTITION BY attr_event_type ORDER BY ts
                         RANGE BETWEEN ${rangeMs - StepMs} PRECEDING AND CURRENT ROW)),
     base AS (SELECT ts, attr_event_type, vs FROM wl
              WHERE first_ts = ts - ${rangeMs - StepMs}
                AND ts >= $Start AND ts < $End),
     wnd AS (SELECT ts, attr_event_type, vs, 0 AS i,
                    CAST(0 AS DOUBLE) AS sx, CAST(0 AS DOUBLE) AS sv,
                    CAST(0 AS DOUBLE) AS sxv, CAST(0 AS DOUBLE) AS sxx
             FROM base
             UNION ALL
             SELECT ts, attr_event_type, vs, i + 1,
                    sx + vs[i + 1].x, sv + vs[i + 1].v,
                    sxv + vs[i + 1].x * vs[i + 1].v,
                    sxx + vs[i + 1].x * vs[i + 1].x
             FROM wnd WHERE i < len(vs))"""

  /** DuckDB replay of the DDSketch quantile read (see pq_hist_quantile
    * comment): window expansion via a 0..range/step offset cross join,
    * coverage = leftmost step bucket present, alpha = 0.01.
    */
  private def ddsQuantileSql(q: Double, rangeMs: Long): String = {
    val nOff = if (rangeMs > 0) rangeMs / StepMs else 1L
    val effStart = Start - rangeMs
    val coverGap = if (rangeMs > 0) rangeMs - StepMs else 0L
    val gamma = "((1.0 + 0.01) / (1.0 - 0.01))"
    // zeros (|v| < 1e-9) land in the sketch's zero bucket: they count into
    // the rank walk before the positive log buckets and read back as 0.0
    s"""WITH ev AS (
       SELECT epoch_ms(ts) - epoch_ms(ts) % $StepMs AS b,
              event_type AS attr_event_type, "value" AS v
       FROM events
       WHERE epoch_ms(ts) >= $effStart AND epoch_ms(ts) < $End),
     win AS (
       SELECT b + o.o * $StepMs AS ts, attr_event_type, v, b
       FROM ev CROSS JOIN range(0, $nOff) o(o)),
     stats AS (
       SELECT ts, attr_event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(count(*) FILTER (WHERE v < 1e-9) AS BIGINT) AS zc,
              min(v) AS mn, max(v) AS mx, min(b) AS first_b
       FROM win GROUP BY 1, 2),
     idx AS (
       SELECT ts, attr_event_type,
              CAST(ceil(ln(v) / ln($gamma)) AS BIGINT) AS i, count(*) AS c
       FROM win WHERE v >= 1e-9 GROUP BY 1, 2, 3),
     cum AS (
       SELECT ts, attr_event_type, i,
              sum(c) OVER (PARTITION BY ts, attr_event_type ORDER BY i) AS cum
       FROM idx),
     sel AS (
       SELECT c.ts, c.attr_event_type, min(c.i) AS qi
       FROM cum c JOIN stats s USING (ts, attr_event_type)
       WHERE s.zc + c.cum >= CAST(floor($q * (s.n - 1)) AS BIGINT) + 1
       GROUP BY 1, 2),
     anchors AS (SELECT DISTINCT b AS ts, attr_event_type FROM ev)
     SELECT s.ts, s.attr_event_type,
            round(CASE WHEN s.zc >= CAST(floor($q * (s.n - 1)) AS BIGINT) + 1
                       THEN 0.0
                       ELSE least(greatest(2 * pow($gamma, sel.qi)
                                           / ($gamma + 1.0), s.mn), s.mx)
                  END, 6) AS value
     FROM stats s
     LEFT JOIN sel USING (ts, attr_event_type)
     JOIN anchors USING (ts, attr_event_type)
     WHERE s.first_b = s.ts - $coverGap AND s.ts >= $Start AND s.ts < $End"""
  }
}
