#!/usr/bin/env python3
"""Run every workload repeatedly and report each metric's spread.

    python3 perfbench/steady.py [--runs 10] [--seed0 1] [--log FILE]

Run from the repository root. Each round runs every workload of
BENCHMARK.json once, untraced, with a fresh seed, and the workload order
alternates between rounds (forward, then reversed), so slow drift of the
host does not favour one workload.
For each (workload, metric) it prints the median, the quartiles
(statistics.quantiles(n=4)), min and max, and the quartile spread as a
share of the median — the figure the bounds in BENCHMARK.json are set
from. Every result line is appended to --log as JSON, so two sets of runs
can be compared afterwards.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    wall = time.time() - t0
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    detail = next((json.loads(l.split(": ", 1)[1]) for l in lines
                   if l.startswith("perfbench detail: ")), {})
    return json.loads(lines[-1]), detail, wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--log", default="")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    vals = {}
    for i in range(args.runs):
        order = names if i % 2 == 0 else list(reversed(names))
        for w in order:
            seed = args.seed0 + i
            res, detail, wall = run(w, seed, spec["run_seconds"])
            rec = {"workload": w, "seed": seed,
                   "wall_s": round(wall, 1), "result": res, "detail": detail}
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
            print(f"{w} seed={seed} wall={wall:.1f}s correct={res['correct']}"
                  f" attempted={res['attempted']} failed={res['failed']}",
                  flush=True)
            for m, v in res["metrics"].items():
                vals.setdefault((w, m), []).append(v["value"])
            vals.setdefault((w, "failed_share"), []).append(
                res["failed"] / res["attempted"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"{'workload':14} {'metric':36} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'min':>12} {'max':>12} {'iqr/med':>8} {'bound':>6}")
    for (w, m), xs in sorted(vals.items()):
        med = statistics.median(xs)
        q1, _, q3 = (statistics.quantiles(xs, n=4) if len(xs) > 1
                     else (xs[0], xs[0], xs[0]))
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(m)
        print(f"{w:14} {m:36} {med:12.6g} {q1:12.6g} {q3:12.6g} "
              f"{min(xs):12.6g} {max(xs):12.6g} {spread:8.3f} "
              f"{'' if b is None else b:>6}")


if __name__ == "__main__":
    main()
