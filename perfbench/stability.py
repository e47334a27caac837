#!/usr/bin/env python3
"""Run the benchmark on several seeds, untraced and for BENCHMARK.json's
``run_seconds``, exactly as the end-to-end bounds are set, and report per
metric the median and the quartile spread (Q3 - Q1) / median of the
values, with ``statistics.quantiles(values, n=4)``. With ``--against``, also
report each median's change from an earlier set's, as a share of it,
against the metric's bound.

Usage (from the repository root):
  python3 perfbench/stability.py --workload dash_recent --seeds 1-10
      [--out perfbench/results/stability_dash_recent_b.json]
      [--against perfbench/results/stability_dash_recent.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--against")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = str(bench["run_seconds"])
    bounds = {m["name"]: (m["bound"], m["better"]) for m in bench["end_to_end"]}
    lo, hi = map(int, args.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            args.workload, "--seed", str(seed), "--seconds", seconds,
                            "--trace", "0"], capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **res})
        print(f"seed {seed}: {wall:.0f} s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    summary = {}
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in runs]
        summary[k] = {"median": statistics.median(vals), "spread": spread(vals),
                      "unit": runs[0]["metrics"][k]["unit"]}
        print(f"{k:28s} median {summary[k]['median']:.4g} spread {summary[k]['spread']:.3f}"
              f" bound {bounds[k][0]}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    against = None
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)["summary"]
        against = {"file": os.path.basename(args.against), "change": {}}
        for k, s in summary.items():
            m0 = earlier[k]["median"]
            change = (s["median"] - m0) / m0 if m0 else 0.0
            worse = -change if bounds[k][1] == "higher" else change
            against["change"][k] = change
            print(f"{k:28s} median {m0:.4g} -> {s['median']:.4g}: {change:+.3f}"
                  f" ({'within' if worse <= bounds[k][0] else 'OVER'} bound {bounds[k][0]})")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds, "summary": summary,
                       "against": against, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
