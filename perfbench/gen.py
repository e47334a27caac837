"""Seeded telemetry corpus generator for the end-to-end benchmark.

Writes raw NDJSON.gz files (logs, metrics, spans) plus ``manifest.json``
with the ground truth the checker needs: needle lines, a trace's span ids
and the raw latency samples. The same seed and
workload always give byte-identical files (gzip mtime is pinned).

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import gzip
import json
import os
import random
import sys

DAY_MS = 86_400_000
HOUR_MS = 3_600_000
# corpus end: 2026-10-01T00:00:00Z; every workload's "now"
T_END = 1_790_812_800_000
ORGS = ["acme", "globex"]
QUERY_ORG = "acme"
API_KEYS = {"k-acme": "acme", "k-globex": "globex"}
SERVICES = [f"svc-{i:02d}" for i in range(16)]
ENDPOINTS = ["/api/items", "/api/cart", "/api/user", "/api/search",
             "/api/login", "/api/pay", "/api/feed", "/api/admin"]

# Per-workload corpus sizes: `log_per_day` lines per day over `days`,
# `recent_*` the dense tail the dashboard reads, `metric_*` the
# http_requests series grid (services x endpoints x 2 statuses), points
# every 10 s over the recent minutes and hourly over `metric_days`.
PROFILES = {
    "dash_recent": dict(days=2, log_per_day=500, recent_logs=2000,
                        recent_minutes=75, metric_days=0, metric_services=8,
                        metric_endpoints=8, recent_metric_minutes=65,
                        latency_endpoints=2, latency_per_10s=2,
                        span_per_day=20, recent_traces=200),
    "history_scan": dict(days=30, log_per_day=100, recent_logs=0,
                         recent_minutes=0, metric_days=14, metric_services=8,
                         metric_endpoints=4, recent_metric_minutes=0,
                         latency_endpoints=0, latency_per_10s=0,
                         span_per_day=20, recent_traces=0),
}

LEVELS = [("INFO", 70), ("DEBUG", 15), ("WARN", 10), ("ERROR", 5)]
TEMPLATES = {
    "INFO": ["GET {ep} 200 {ms}ms user={uid}",
             "served {ep} in {ms}ms cache=hit shard={shard}",
             "user {uid} session renewed token={hex}"],
    "DEBUG": ["cache lookup key={hex} shard={shard} took {ms}ms",
              "pool stats active={shard} idle={ms}"],
    "WARN": ["slow request {ep} {ms}ms retries={shard}",
             "queue depth {ms} above threshold on shard={shard}"],
    "ERROR": ["error connecting to db-{shard}: timeout after {ms}ms",
              "error handling {ep}: upstream status 503 req={hex}"],
}


def _weighted(rng, pairs):
    x = rng.randrange(sum(w for _, w in pairs))
    for v, w in pairs:
        if x < w:
            return v
        x -= w
    return pairs[-1][0]


def _message(rng, level):
    t = rng.choice(TEMPLATES[level])
    return t.format(ep=rng.choice(ENDPOINTS), ms=rng.randrange(1, 2000),
                    uid=rng.randrange(100000), shard=rng.randrange(16),
                    hex=f"{rng.getrandbits(48):012x}")


def _unique_ts(rng, lo, hi, n, taken):
    """n distinct ms timestamps in [lo, hi) not in `taken` (per org), so
    newest-first raw queries have one right answer"""
    out = []
    while len(out) < n:
        t = rng.randrange(lo, hi)
        if t not in taken:
            taken.add(t)
            out.append(t)
    return out


def _log(org, ts, level, svc, msg):
    return {"org": org, "chq_timestamp": ts, "log_level": level,
            "resource_service_name": svc, "log_message": msg}


def _write(path, rows):
    """NDJSON.gz with a pinned gzip header; returns uncompressed bytes"""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = "".join(json.dumps(r, separators=(",", ":"), sort_keys=True) + "\n"
                   for r in rows).encode()
    with open(path, "wb") as f:
        with gzip.GzipFile(fileobj=f, mode="wb", mtime=0, filename="") as g:
            g.write(data)
    return len(data)


def gen_logs(rng, p, taken):
    days = p["days"]
    rows = []
    for org in ORGS:
        # the other tenant only has recent days: it exists to be pruned
        # away by the org key, not to multiply the partition count
        odays = days if org == QUERY_ORG else min(days, 2)
        n_old = int(p["log_per_day"] * odays * (1.0 if org == QUERY_ORG else 0.5))
        for ts in _unique_ts(rng, T_END - odays * DAY_MS, T_END, n_old, taken[org]):
            lvl = _weighted(rng, LEVELS)
            rows.append(_log(org, ts, lvl, rng.choice(SERVICES),
                             _message(rng, lvl)))
        n_recent = int(p["recent_logs"] * (1.0 if org == QUERY_ORG else 0.5))
        rlo = T_END - p["recent_minutes"] * 60_000
        for ts in _unique_ts(rng, rlo, T_END, n_recent, taken[org]):
            lvl = _weighted(rng, LEVELS)
            rows.append(_log(org, ts, lvl, rng.choice(SERVICES),
                             _message(rng, lvl)))
    return rows


def plant_needles(rng, p, taken):
    """a unique request token in a few acme lines spread over the range:
    the needle the fingerprint index must prune for"""
    token = f"req-{rng.getrandbits(40):010x}"
    lo = T_END - p["days"] * DAY_MS
    rows = []
    for i, ts in enumerate(sorted(_unique_ts(rng, lo, T_END, 4, taken[QUERY_ORG]))):
        rows.append(_log(QUERY_ORG, ts, "ERROR", SERVICES[i % len(SERVICES)],
                         f"payment declined id={token}{i:02d} code=E{rng.randrange(100, 999)}"))
    return token, rows


def gen_metrics(rng, p):
    """http_requests: integer request counts per (service, endpoint,
    status) series; latency_ms: a few raw samples per 10 s for svc-01
    (the quantile panel). Recent points every 10 s; history points hourly."""
    rows = []
    eps = ENDPOINTS[:p["metric_endpoints"]]
    for org in ORGS:
        svcs = SERVICES[:p["metric_services"] if org == QUERY_ORG else 1]
        series = [(s, e, st) for s in svcs for e in eps for st in ("200", "500")]
        base = {x: rng.randrange(5, 60) for x in series}

        def point(ts, s, e, st):
            v = base[(s, e, st)] // (8 if st == "500" else 1) + rng.randrange(0, 5)
            return {"org": org, "ts": ts, "metric": "http_requests",
                    "value": float(v), "attr_service": s, "attr_endpoint": e,
                    "attr_status": st}
        if p["metric_days"]:
            mdays = p["metric_days"] if org == QUERY_ORG else min(p["metric_days"], 2)
            lo = T_END - mdays * DAY_MS
            for h in range(mdays * 24):
                for (s, e, st) in series:
                    rows.append(point(lo + h * HOUR_MS + rng.randrange(0, 10_000), s, e, st))
        if p["recent_metric_minutes"]:
            lo = T_END - p["recent_metric_minutes"] * 60_000
            for t in range(lo, T_END, 10_000):
                for (s, e, st) in series:
                    rows.append(point(t + rng.randrange(0, 10_000), s, e, st))
    lat = []
    lo = T_END - p["recent_metric_minutes"] * 60_000
    for t in range(lo, T_END, 10_000) if p["latency_per_10s"] else ():
        for e in ENDPOINTS[:p["latency_endpoints"]]:
            for _ in range(p["latency_per_10s"]):
                lat.append({"org": QUERY_ORG, "ts": t + rng.randrange(0, 10_000),
                            "metric": "latency_ms",
                            "value": round(rng.lognormvariate(3.5, 0.8), 2),
                            "attr_service": "svc-01", "attr_endpoint": e,
                            "attr_status": "200"})
    return rows, lat


def gen_spans(rng, p):
    """traces of 3-6 spans; one acme trace is the lookup target"""
    rows = []
    rlo = T_END - HOUR_MS
    target = None
    for org in ORGS:
        odays = p["days"] if org == QUERY_ORG else min(p["days"], 2)
        scale = 1.0 if org == QUERY_ORG else 0.5
        # a trace's spans start up to 0.25 s after it: start traces 1 s
        # before the corpus end so that every span lies inside the corpus
        starts = [rng.randrange(T_END - odays * DAY_MS, T_END - 1000)
                  for _ in range(int(p["span_per_day"] * odays * scale))]
        starts += [rng.randrange(rlo, T_END - 1000)
                   for _ in range(int(p["recent_traces"] * scale))]
        for ts0 in starts:
            tid = f"{rng.getrandbits(128):032x}"
            svc = rng.choice(SERVICES)
            err = rng.randrange(10) == 0
            parent = ""
            ids = []
            for k in range(rng.randrange(3, 7)):
                sid = f"{rng.getrandbits(64):016x}"
                ts = ts0 + k * rng.randrange(1, 50)
                dur = rng.randrange(1, 500)
                status = "STATUS_CODE_ERROR" if err and k == 0 else "STATUS_CODE_OK"
                rows.append({"org": org, "chq_timestamp": ts, "span_trace_id": tid,
                             "span_id": sid, "span_parent_span_id": parent,
                             "span_name": f"{rng.choice(ENDPOINTS)} op{k}",
                             "span_kind": "SPAN_KIND_SERVER" if k == 0 else "SPAN_KIND_CLIENT",
                             "span_status_code": status, "span_duration": dur,
                             "span_end_timestamp": ts + dur,
                             "resource_service_name": svc})
                ids.append(sid)
                parent = sid
            if org == QUERY_ORG and target is None and ts0 < T_END - 20 * DAY_MS:
                target = {"trace_id": tid, "span_ids": sorted(ids)}
    return rows, target


def generate(workload, seed, out):
    p = PROFILES[workload]
    rng = random.Random(f"{workload}:{seed}")
    taken = {o: set() for o in ORGS}
    raw_bytes = 0
    logs = gen_logs(rng, p, taken)
    token, needles = plant_needles(rng, p, taken)
    logs += needles
    rng.shuffle(logs)
    raw_bytes += _write(f"{out}/raw/logs/part-000.json.gz", logs)
    metrics, lat = gen_metrics(rng, p)
    raw_bytes += _write(f"{out}/raw/metrics/part-000.json.gz", metrics + lat)
    spans, target = gen_spans(rng, p)
    raw_bytes += _write(f"{out}/raw/spans/part-000.json.gz", spans)
    manifest = {
        "workload": workload, "seed": seed, "t_end": T_END,
        "org": QUERY_ORG, "api_keys": API_KEYS,
        "corpus": {"logs": len(logs), "metric_points": len(metrics) + len(lat),
                   "spans": len(spans), "raw_bytes": raw_bytes},
        "needle": {"token": token,
                   "lines": [[r["chq_timestamp"], r["log_message"]] for r in needles]},
        "trace": target,
        "latency": [[r["ts"], r["attr_endpoint"], r["value"]] for r in lat],
    }
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in PROFILES:
        sys.exit(f"usage: gen.py {{{','.join(PROFILES)}}} <seed> <out_dir>")
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps(m["corpus"]))
