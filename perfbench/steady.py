#!/usr/bin/env python3
"""Steadiness helper: run one workload n times and report each metric's spread.

Usage (from the root of a checkout):
  python3 perfbench/steady.py --workload olap_mix [--runs 10] [--first-seed 1]
      [--trace 0|1] [--out file.json]

Each run uses the next seed. For every metric the helper prints the median,
the first and third quartiles (statistics.quantiles, n=4) and the spread,
(q3 - q1) / median, next to the metric's bound in BENCHMARK.json and a
third of it, the target a steady metric should stay under. With --trace 1
it also prints the traced runs' own end-to-end medians, whose difference
from an untraced set is the tracing overhead. --out keeps every run's
values for a later comparison.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"seed {seed}: run failed ({r.returncode})")
    e2e = next((json.loads(x[4:]) for x in lines if x.startswith("e2e ")), None)
    return json.loads(lines[-1]), e2e


def table(title, runs, bounds):
    print(title)
    print(f"  {'metric':32s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}"
          f" {'bound':>6s} {'bound/3':>7s}")
    for name in runs[0]:
        vals = [r[name]["value"] for r in runs]
        med, q1, q3, sp = stats.spread(vals)
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if sp < b / 3 else ("  wide" if sp <= b else "  OVER"))
        bs = "" if b is None else f"{b:6.3f} {b / 3:7.3f}"
        print(f"  {name:32s} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.4f} {bs}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results, e2es, failed = [], [], 0
    for i in range(a.runs):
        seed = a.first_seed + i
        res, e2e = run_once(a.workload, seed, spec["run_seconds"], a.trace)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']}"
              f" failed={res['failed']}", flush=True)
        failed += res["failed"]
        results.append(res["metrics"])
        if e2e:
            e2es.append(e2e)
    if a.runs >= 2:
        table(f"{a.workload}, {a.runs} runs, trace {a.trace}, {failed} failed ops",
              results, bounds if not a.trace else {})
        if e2es:
            table("traced runs' own end-to-end figures", e2es, bounds)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "trace": a.trace, "metrics": results,
                       "e2e": e2es}, fh, indent=1)


if __name__ == "__main__":
    main()
