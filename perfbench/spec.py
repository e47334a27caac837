"""Request templates, load shape and rollup tiers for each workload.

Every template is an HTTP route plus parameters, sent as-is.
``expect_sliced`` is the structural expectation the run is failed on:
dashboard ranges stream one-shot, history ranges stream sliced (``None``:
one-shot by the route's design at any range). ``rollup_tiers`` are the
metric tiers set-up maintains besides the 10 s base tier.
"""
from gen import DAY_MS, HOUR_MS, T_END

# concurrent closed-loop clients on dash_recent (one per core of the
# 4-core reference host); history_scan has one analyst
DASH_CLIENTS = 4

RATE = 'sum by (attr_service) (rate(http_requests[{r}]))'
INCR = 'sum by (attr_service) (increase(http_requests[{r}]))'
SVC = 'svc-03'


def _t(name, route, expect_sliced, **params):
    return {"name": name, "route": route, "expect_sliced": expect_sliced,
            "params": [[k, str(v)] for k, v in params.items()]}


def dash_templates():
    s, e = T_END - HOUR_MS, T_END
    m, lg, sp = "/api/v1/metrics/query", "/api/v1/logs/query", "/api/v1/spans/query"
    raw = f'{{resource_service_name="{SVC}"}} |= "error"'
    cnt = f'sum by (log_level) (count_over_time({{resource_service_name="{SVC}"}}[1m]))'
    return [
        _t("m_rate_1h", m, False, q=RATE.format(r="1m"), s=s, e=e),
        _t("m_multi_1h", m, False, q=RATE.format(r="1m"), q2=INCR.format(r="1m"), s=s, e=e),
        _t("m_tagged_1h", m, False,
           q='sum by (attr_service) (rate(http_requests{attr_status="500"}[1m]))',
           q2='sum by (attr_endpoint) (rate(http_requests[1m]))', tagged="true", s=s, e=e),
        _t("m_quantile_1h", m, False,
           q='histogram_quantile(0.9, latency_ms{attr_endpoint=~"/api/items|/api/cart"})',
           s=s, e=e),
        _t("l_raw_1h", lg, False, q=raw, limit=100, s=s, e=e),
        _t("l_count_1h", lg, False, q=cnt, s=s, e=e),
        _t("l_mixed_1h", lg, False, q=raw, q2=cnt, limit=50, s=s, e=e),
        _t("s_err_1h", sp, False, q='{span_status_code="STATUS_CODE_ERROR"}', limit=1000,
           s=s, e=e),
        _t("tags_1d", "/api/v1/logs/tagvalues", False, tag="resource_service_name",
           s=T_END - DAY_MS, e=T_END),
    ]


def history_templates(manifest):
    e = T_END
    m, lg = "/api/v1/metrics/query", "/api/v1/logs/query"
    tok = manifest["needle"]["token"]
    return [
        _t("m_rate_30d", m, True, q=RATE.format(r="1h"), s=e - 30 * DAY_MS, e=e),
        _t("m_multi_7d", m, True, q=RATE.format(r="1h"), q2=INCR.format(r="1h"),
           s=e - 7 * DAY_MS, e=e),
        _t("l_needle_30d", lg, True, q=f'{{log_level="ERROR"}} |= "{tok}"', limit=1000,
           s=e - 30 * DAY_MS, e=e),
        _t("l_regex_needle_30d", lg, True, q=f'{{log_level="ERROR"}} |~ "id={tok}0[0-9]"',
           limit=1000, s=e - 30 * DAY_MS, e=e),
        _t("l_count_7d", lg, None,
           q=f'sum by (log_level) (count_over_time({{resource_service_name="{SVC}"}}[1h]))',
           s=e - 7 * DAY_MS, e=e),
        _t("s_trace_30d", "/api/v1/spans/trace", None, id=manifest["trace"]["trace_id"],
           s=e - 30 * DAY_MS, e=e),
    ]


def build(workload, manifest):
    if workload == "dash_recent":
        return {"templates": dash_templates(), "rollup_tiers": [60_000],
                "load": {"clients": DASH_CLIENTS}}
    return {"templates": history_templates(manifest), "rollup_tiers": [HOUR_MS],
            "load": {"clients": 1}}
