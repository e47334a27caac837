"""Independent expected results for every request template.

Row sets come from DuckDB over the same segment files the engine served
(metric and log aggregates, raw rows, tag values) or from the generator's
ground truth (needle lines, a trace's span ids, the latency samples behind
the sketch quantiles). Window semantics follow the engine's documented
PromQL/LogQL rules: a row exists at each
grid point ``t`` whose own step bucket holds data, it aggregates the
buckets ``[t - range + step, t]``, it is NaN unless the window's first
bucket holds data, and a ``sum`` is NaN when any of its series is.
"""
import json
import math
import re

import duckdb

DDS_GAMMA = (1.0 + 0.01) / (1.0 - 0.01)


def step_for(span_ms):
    """the engine's StepPolicy.stepMsFor"""
    if span_ms <= 65 * 60_000:
        return 10_000
    if span_ms <= 12 * 3_600_000:
        return 60_000
    if span_ms <= 24 * 3_600_000:
        return 300_000
    if span_ms <= 3 * 86_400_000:
        return 1_200_000
    return 3_600_000


def tier_for(step):
    return max(t for t in (10_000, 60_000, 300_000, 1_200_000, 3_600_000)
               if t <= step and step % t == 0)


def _grid(s, e, step):
    return range(s - s % step, e, step)


def windowed(buckets, s, e, step, range_ms, per_s=False):
    """buckets: {series: {bucket_ts: value}} → {series: {t: window value}}"""
    back = range_ms - step
    out = {}
    for key, bs in buckets.items():
        pts = {}
        for t in _grid(s, e, step):
            if t not in bs:
                continue
            vals = [bs[b] for b in range(t - back, t + 1, step) if b in bs]
            v = sum(vals) / (range_ms / 1000.0 if per_s else 1.0)
            pts[t] = v if (t - back) in bs else math.nan
        out[key] = pts
    return out


def sum_by(series_pts, group_of):
    acc = {}
    for key, pts in series_pts.items():
        g = group_of(key)
        for t, v in pts.items():
            acc[(t, g)] = acc.get((t, g), 0.0) + v
    return acc


class Store:
    def __init__(self, root, org):
        self.con = duckdb.connect()
        self.org = org
        for name in ("logs", "metrics", "spans"):
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                f"'{root}/{name}/**/*.parquet', hive_partitioning=true, union_by_name=true)")

    def q(self, sql, *params):
        return self.con.execute(sql, list(params)).fetchall()

    def metric_buckets(self, s, e, step, range_ms, where, key_cols):
        tier = tier_for(step)
        a0 = s - s % step
        rows = self.q(
            f"SELECT {', '.join(key_cols)}, chq_timestamp - chq_timestamp % {step} AS b, "
            f"sum(chq_rollup_sum) FROM metrics WHERE org = ? AND freq = {tier} "
            f"AND metric_name = 'http_requests' AND {where} "
            f"AND chq_timestamp >= {a0 - range_ms} AND chq_timestamp < {e} GROUP BY ALL",
            self.org)
        out = {}
        for r in rows:
            out.setdefault(tuple(r[:-2]), {})[r[-2]] = r[-1]
        return out

    def log_buckets(self, s, e, step, range_ms, where, group_col):
        a0 = s - s % step
        g = group_col or "'all'"
        rows = self.q(
            f"SELECT {g}, chq_timestamp - chq_timestamp % {step} AS b, count(*)::DOUBLE "
            f"FROM logs WHERE org = ? AND {where} AND chq_timestamp >= {a0 - range_ms} "
            f"AND chq_timestamp < {e} GROUP BY ALL", self.org)
        out = {}
        for grp, b, n in rows:
            out.setdefault(grp, {})[b] = n
        return out


def _prom_rate(store, s, e, range_ms, where, by, fn):
    step = step_for(e - s)
    key_cols = ["chq_tid", by]
    b = store.metric_buckets(s, e, step, range_ms, where, key_cols)
    pts = windowed(b, s, e, step, range_ms, per_s=(fn == "rate"))
    return {(t, g): v for (t, g), v in sum_by(pts, lambda k: k[1]).items()}


def _range_ms(q):
    return {"1m": 60_000, "1h": 3_600_000, "5m": 300_000}[re.search(r"\[(\w+)\]", q).group(1)]


def expect_metric(store, t):
    p = dict(t["params"])
    s, e = int(p["s"]), int(p["e"])
    panels = [p["q"]] + [p[f"q{i}"] for i in range(2, 10) if f"q{i}" in p]

    def one(expr):
        by = re.search(r"sum by \((\w+)\)", expr).group(1)
        fn = "rate" if "rate(" in expr else "increase"
        where = "attr_status = '500'" if 'attr_status="500"' in expr else "TRUE"
        return by, _prom_rate(store, s, e, _range_ms(expr), where, by, fn)
    if p.get("tagged") == "true":
        rows = []
        for i, expr in enumerate(panels):
            alias = "value" if i == 0 else f"value{i + 1}"
            by, vals = one(expr)
            rows += [{"alias": alias, "ts": ts, "series": {by: g}, "value": v}
                     for (ts, g), v in vals.items()]
        return rows
    cols = [one(x) for x in panels]
    by = cols[0][0]
    rows = []
    for (ts, g), v in cols[0][1].items():
        r = {"ts": ts, by: g, "value": v}
        for i, (_, vals) in enumerate(cols[1:]):
            r[f"value{i + 2}"] = vals[(ts, g)]
        rows.append(r)
    return rows


def expect_quantile(manifest, t):
    """DDSketch read-out replayed from the raw samples: log-bucket index
    ceil(ln v / ln gamma), lower rank floor(q (n - 1)) + 1, bucket midpoint
    2 gamma^i / (gamma + 1) clamped to [min, max]"""
    p = dict(t["params"])
    s, e = int(p["s"]), int(p["e"])
    qv = float(re.search(r"histogram_quantile\(([0-9.]+)", p["q"]).group(1))
    eps = re.search(r'attr_endpoint=~"([^"]+)"', p["q"]).group(1).split("|")
    step = step_for(e - s)
    a0 = s - s % step
    groups = {}
    for ts, ep, v in manifest["latency"]:
        if ep in eps and a0 <= ts < e:
            groups.setdefault((ts - ts % step, ep), []).append(v)
    rows = []
    for (b, ep), vs in groups.items():
        n = len(vs)
        rank = math.floor(qv * (n - 1)) + 1
        idx = sorted(math.ceil(math.log(v) / math.log(DDS_GAMMA)) for v in vs)
        qi = idx[rank - 1]
        val = min(max(2 * DDS_GAMMA ** qi / (DDS_GAMMA + 1), min(vs)), max(vs))
        rows.append({"ts": b, "attr_endpoint": ep, "attr_service": "svc-01",
                     "attr_status": "200", "value": val})
    return rows


def _log_where(sel):
    m = re.match(r'\{(\w+)="([^"]+)"\}', sel)
    return f"{m.group(1)} = '{m.group(2)}'"


def expect_log_count(store, expr, s, e):
    by = re.search(r"sum by \((\w+)\)", expr)
    sel = re.search(r"count_over_time\((\{[^}]*\})", expr).group(1)
    step = step_for(e - s)
    range_ms = _range_ms(expr)
    b = store.log_buckets(s, e, step, range_ms, _log_where(sel), by.group(1) if by else None)
    pts = windowed(b, s, e, step, range_ms)
    rows = []
    for g, vals in pts.items():
        for ts, v in vals.items():
            rows.append({"ts": ts, by.group(1): g, "value": v} if by else {"ts": ts, "value": v})
    return rows


def expect_log_raw(store, expr, s, e, limit):
    sel, needle = re.match(r'(\{[^}]*\}) \|= "([^"]+)"', expr).groups()
    rows = store.q(f"SELECT chq_timestamp, log_message FROM logs WHERE org = ? AND "
                   f"{_log_where(sel)} AND contains(log_message, ?) AND chq_timestamp >= ? "
                   f"AND chq_timestamp < ? ORDER BY chq_timestamp DESC LIMIT {limit}",
                   store.org, needle, s, e)
    return [{"chq_timestamp": a, "log_message": b} for a, b in rows]


def project(rows, keys):
    return [{k: r.get(k) for k in keys} for r in rows]


def expect(store, manifest, t):
    p = dict(t["params"])
    name, route = t["name"], t["route"]
    s, e = int(p["s"]), int(p["e"])
    if name == "m_quantile_1h":
        return None, expect_quantile(manifest, t)
    if route == "/api/v1/metrics/query":
        return None, expect_metric(store, t)
    if name in ("l_needle_30d", "l_regex_needle_30d"):
        return ["chq_timestamp", "log_message"], [
            {"chq_timestamp": a, "log_message": b} for a, b in manifest["needle"]["lines"]]
    if name == "s_trace_30d":
        return ["span_id"], [{"span_id": x} for x in manifest["trace"]["span_ids"]]
    if name == "tags_1d":
        rows = store.q("SELECT resource_service_name, count(*) FROM logs WHERE org = ? AND "
                       "chq_timestamp >= ? AND chq_timestamp < ? GROUP BY 1",
                       store.org, s, e)
        return None, [{"tag_value": a, "n": n} for a, n in rows]
    if route == "/api/v1/spans/query":
        rows = store.q("SELECT chq_timestamp, span_id FROM spans WHERE org = ? AND "
                       "span_status_code = 'STATUS_CODE_ERROR' AND chq_timestamp >= ? AND "
                       "chq_timestamp < ? ORDER BY chq_timestamp DESC LIMIT ?",
                       store.org, s, e, int(p["limit"]))
        return ["chq_timestamp", "span_id"], [{"chq_timestamp": a, "span_id": b}
                                              for a, b in rows]
    if name in ("l_count_1h", "l_count_7d"):
        return None, expect_log_count(store, p["q"], s, e)
    if name == "l_raw_1h":
        return ["chq_timestamp", "log_message"], expect_log_raw(store, p["q"], s, e,
                                                                int(p["limit"]))
    if name == "l_mixed_1h":
        raw = expect_log_raw(store, p["q"], s, e, int(p["limit"]))
        cnt = expect_log_count(store, p["q2"], s, e)
        by = re.search(r"sum by \((\w+)\)", p["q2"]).group(1)
        return "mixed", ([dict(r, alias="value") for r in raw],
                         [{"alias": "value2", "ts": r["ts"], "series": {by: r[by]},
                           "value": r["value"]} for r in cnt])
    raise ValueError(f"no oracle for template {name}")


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def same(got, want):
    """multiset equality with a relative float tolerance"""
    def key(r):
        return json.dumps({k: (None if isinstance(v, float) else _norm(v))
                           for k, v in sorted(r.items())}, sort_keys=True)
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    gs = sorted(got, key=key)
    ws = sorted(want, key=key)
    for g, w in zip(gs, ws):
        if set(g) != set(w):
            return f"columns {sorted(g)} != {sorted(w)}"
        for k in w:
            a, b = _norm(g[k]), _norm(w[k])
            if isinstance(a, float) or isinstance(b, float):
                if a == "NaN" or b == "NaN":
                    ok = a == b
                else:
                    ok = math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
            else:
                ok = a == b
            if not ok:
                return f"row {key(w)}: {k}={g[k]!r}, expected {w[k]!r}"
    return None


def _parse(rows):
    out = []
    for r in rows:
        d = json.loads(r)
        if isinstance(d.get("series"), str):
            d["series"] = json.loads(d["series"])
        out.append(d)
    return out


def verify_template(store, manifest, t, rows):
    keys, want = expect(store, manifest, t)
    got = _parse(rows)
    if keys == "mixed":
        raw_w, met_w = want
        raw_g = [r for r in got if "series" not in r]
        met_g = [r for r in got if "series" in r]
        return same(project(raw_g, ["alias", "chq_timestamp", "log_message"]), raw_w) or \
            same(met_g, met_w)
    if keys:
        got = project(got, keys)
    return same(got, want)


def check(workload, manifest, spec, res, store_dir):
    errors = []
    bad = set()
    store = Store(store_dir, manifest["org"])
    for t in spec["templates"]:
        rows = res["references"].get(t["name"])
        err = "no reference response" if rows is None else \
            verify_template(store, manifest, t, rows)
        if err:
            bad.add(t["name"])
            errors.append(f"{t['name']}: {err}")
    st = res["structural"]
    for t in spec["templates"]:
        want = t["expect_sliced"]
        if want is not None and st["sliced"].get(t["name"]) != want:
            errors.append(f"{t['name']}: sliced={st['sliced'].get(t['name'])}, expected {want}")
    names = {t["name"] for t in spec["templates"]}
    if "l_needle_30d" in names and not (
            0 < st["needle_files_read"] < st["needle_files_listed"]):
        errors.append(f"l_needle_30d read {st['needle_files_read']} of "
                      f"{st['needle_files_listed']} files: the index pruned nothing")
    if "m_rate_30d" in names:
        # the 1 h tier up to its freshness watermark, the 10 s base tier
        # only for the tail after it, on the corpus's last day
        tiers = {f for f, _ in st["rate_30d_files"]}
        base_days = {d for f, d in st["rate_30d_files"] if f == "10000"}
        if "3600000" not in tiers or len(base_days) > 1 or not tiers <= {"10000", "3600000"}:
            errors.append(f"m_rate_30d read (tier, day) {st['rate_30d_files']}: expected "
                          f"the 1 h tier, and the base tier on one day at most")

    def sample_ok(s):
        return s["status"] == 200 and s["done_ok"] and s["tpl"] not in bad
    return {"errors": errors, "sample_ok": sample_ok}
