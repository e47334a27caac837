#!/usr/bin/env python3
"""End-to-end benchmark: ingest a seeded telemetry corpus through the
engine's public ingest functions, serve it with ``api.HttpApi`` on
loopback, drive one workload, verify every response against an
independent oracle, and print one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload {dash_recent,history_scan}
      --seed N --seconds S --trace {0,1}

The engine (``src/main/scala``) and the harness (``perfbench/src``) are
compiled together on first use into ``$CARGO_TARGET_DIR/perfbench`` (default
``.bench_build``); later runs reuse the classes while the sources are
unchanged. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced replay. Side records (environment, seed,
samples) go to ``<build>/perfbench/results``.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing beside the sources

import gen  # noqa: E402
import oracle  # noqa: E402
import spec as specs  # noqa: E402

WORKLOADS = ["dash_recent", "history_scan"]
HEAP = "2g"
HARNESS_TIMEOUT = 165
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory the repository's own
    build.sbt compiles against (its `unmanagedBase`)"""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        d = m.group(1) if m else ""
    jars = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar")) \
        if os.path.isdir(d) else []
    if not jars:
        die(f"no Spark jars under '{d}' (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, jars):
    """compile engine + harness with the Scala compiler shipped among the
    Spark jars; skipped when the source hash matches the last build"""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, root).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", ":".join(jars), "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.0f} s",
          file=sys.stderr)
    return classes


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_harness(classes, jars, work, args, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # only a heap ceiling: the collector sizes the heap to what the run
    # uses, so the resident peak follows the program's memory
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", *opens, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", ":".join([classes] + jars), "perfbench.Harness",
           "--spec", os.path.join(work, "requests.json"),
           "--manifest", os.path.join(work, "input", "manifest.json"),
           "--raw", os.path.join(work, "input", "raw"),
           "--store", os.path.join(work, "store"), "--out", os.path.join(work, "result.json"),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores)]
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=HARNESS_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    with open(os.path.join(work, "harness.log")) as f:
        log = f.read()
    if rc != 0:
        sys.stderr.write(log[-4000:])
        die(f"harness exited with {rc}")
    sys.stderr.writelines(ln + "\n" for ln in log.splitlines() if ln.startswith("[perfbench"))
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def pct(xs, q):
    """q-quantile by linear interpolation (q in [0, 1])"""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(manifest, res, measured, attempted, failed):
    setup = res["setup"]
    lat = [s["latency_s"] for s in measured]
    fb = [s["first_byte_s"] for s in measured]
    corpus = manifest["corpus"]
    n = len(measured)
    m = {
        "setup_s": (setup["setup_s"], "s"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
        "query_success_pct": (100.0 * (attempted - failed) / attempted, "%"),
        "query_p50_s": (pct(lat, 0.5), "s"),
        "query_p90_s": (pct(lat, 0.9), "s"),
        "first_byte_p50_s": (pct(fb, 0.5), "s"),
        "query_rps": (n / res["wall_s"], "1/s"),
        "bytes_stored_per_raw_byte": (res["stored_bytes"] / corpus["raw_bytes"], "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(manifest, res):
    tr = res["trace"]

    def m(key):
        return med([t[key] for t in tr])
    by_tpl = {}
    for t in tr:
        by_tpl.setdefault(t["tpl"], []).append(t)
    overhead = med([med([x["http_s"] for x in xs]) - med([x["inproc_s"] for x in xs])
                    for xs in by_tpl.values()])
    spans = res["spans"]

    def span_total(name, req):
        """summed wall of the spans `name` of request `req` (they overlap
        where set-up runs writers concurrently)"""
        return sum(s["end_s"] - s["start_s"] for s in spans
                   if s["name"] == name and s["req"] == req)
    st = res["setup"]
    mt = res["maintenance"]
    lat_in, lat_out = [], []
    a, b = mt["window"]
    for s in res["samples"]:
        if s["phase"] == "maint":
            (lat_in if a <= s["sent_s"] <= b else lat_out).append(s["latency_s"])
    vals = {
        "parse.s": m("parse_s"), "door.build_s": m("door_build_s"),
        "door.build_jobs": m("door_build_jobs"), "scan.listings_per_req": m("listings"),
        "tier.meta_reads_per_req": m("meta_reads"), "plan.analyze_s": m("analyze_s"),
        "plan.optimize_s": m("optimize_s"), "plan.physical_s": m("physical_s"),
        "exec.s": m("exec_s"), "exec.task_cpu_s": m("task_cpu_s"),
        "exec.shuffle_write_mb": m("shuffle_write_mb"), "exec.spill_mb": m("spill_mb"),
        "prune.files_listed": m("files_listed"), "prune.files_read": m("files_read"),
        "exec.jobs": m("jobs"), "exec.stages": m("stages"), "exec.tasks": m("tasks"),
        "exec.sched_wait_s": m("sched_wait_s"), "exec.task_run_s": m("task_run_s"),
        "driver.cpu_s": m("driver_cpu_s"), "http.overhead_s": overhead,
        "sse.bytes": m("sse_bytes"), "sse.result_events": m("sse_result_events"),
        "ingest.read_s": span_total("ingest.read", "setup"),
        "ingest.write_logs_s": span_total("ingest.write_logs", "setup"),
        "ingest.write_metrics_s": span_total("ingest.write_metrics", "setup"),
        "ingest.index_s": span_total("ingest.index", "setup"),
        "ingest.events_per_s": sum(manifest["corpus"][k] for k in ("logs", "metric_points",
                                                                  "spans")) / st["ingest_wall_s"],
        "ingest.task_cpu_s": st["ingest_task_cpu_s"],
        "ingest.files_written": res["data_files"],
        "ingest.bytes_written_mb": st["ingest_bytes"] / 1048576.0,
        "maintain.rollup_s": span_total("maintain.rollup", "setup"),
        "maintain.compact_s": span_total("maintain.compact", "maint"),
        "maintain.index_compact_s": span_total("maintain.index_compact", "maint"),
        "maintain.write_amp": (st["rollup_rows"] + mt["rows_written"])
        / max(st["ingest_rows"], 1),
        "maintain.fg_stall_s": med(lat_in) - med(lat_out),
        "maintain.rows_per_s": st["rollup_rows"] / st["rollup_s"],
        "query.cold_first_s": res["cold_first_s"],
        "jvm.gc_s": m("gc_s"), "trace.http_p50_s": m("http_s"),
    }
    units = {"door.build_jobs": "count", "scan.listings_per_req": "count",
             "tier.meta_reads_per_req": "count", "exec.shuffle_write_mb": "MB",
             "exec.spill_mb": "MB", "prune.files_listed": "count",
             "prune.files_read": "count", "exec.jobs": "count", "exec.stages": "count",
             "exec.tasks": "count", "sse.bytes": "bytes", "sse.result_events": "count",
             "ingest.files_written": "count", "ingest.bytes_written_mb": "MB",
             "maintain.write_amp": "ratio", "maintain.rows_per_s": "1/s",
             "ingest.events_per_s": "1/s"}
    return {k: {"value": float(v), "unit": units.get(k, "s")} for k, v in vals.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "api",
                                       "HttpApi.scala")):
        die("engine sources (src/main/scala) not found; run from the repository root")
    jars = spark_jars(root)
    build_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    build_dir = os.path.abspath(build_dir)
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir, jars)
    cores = os.cpu_count() or 4

    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        manifest = gen.generate(args.workload, args.seed, os.path.join(work, "input"))
        spec = specs.build(args.workload, manifest)
        with open(os.path.join(work, "requests.json"), "w") as f:
            json.dump(spec, f)
        t0 = time.time()
        res = run_harness(classes, jars, work, args, cores)
        t1 = time.time()
        verdict = oracle.check(args.workload, manifest, spec, res, os.path.join(work, "store"))
        print(f"perfbench: harness {t1 - t0:.1f} s, oracle {time.time() - t1:.1f} s",
              file=sys.stderr)
    finally:
        shutil.rmtree(os.path.join(work, "store"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    measured = [s for s in res["samples"] if s["phase"] == "measure"]
    # every response is checked: the warm-up ones are the references, the
    # traced run's replays and maintenance-window requests count too
    checked = [s for s in res["samples"] if s["phase"] != "warm"]
    failed = sum(1 for s in checked if not verdict["sample_ok"](s))
    attempted = max(len(checked), 1)
    e2e = end_to_end(manifest, res, measured, attempted, failed)
    metrics = per_layer(manifest, res) if args.trace else e2e
    correct = failed == 0 and not verdict["errors"] and len(measured) > 0
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": cores, "commit": git_commit(root),
              "env": res["env"], "corpus": manifest["corpus"], "correct": correct,
              "errors": verdict["errors"], "structural": res["structural"],
              "task_cpu_share": res["measure_task_cpu_s"] / max(res["wall_s"], 1e-9),
              "end_to_end": e2e, "metrics": metrics}
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    with open(os.path.join(build_dir, "results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(dict(record, samples=res["samples"], trace_rows=res["trace"],
                       spans=res["spans"]), f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for e in verdict["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
