#!/usr/bin/env python3
"""Per-key cost of `count()` against the full result, as a markdown table.

Usage (from the root of a checkout):
  python3 perfbench/count_vs_full.py

Runs every olap_mix key on the benchmark's input (perfbench/fixture) with the
workload's standing artifacts, and prints the warm median of three runs of
each action. This is the table in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main():
    argparse.ArgumentParser(description=__doc__.splitlines()[0]).parse_args()
    out_root = build.build_dir()
    classpath = build.build(out_root)
    work = os.path.join(out_root, "run", f"count_vs_full-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = {"workload": "olap_mix", "keys": workloads.OLAP_KEYS, "passes": [],
            "cpus": min(len(os.sched_getaffinity(0)), run.MAX_CPUS),
            "trace": False, "work_dir": work, "count_vs_full": True,
            "data_dirs": [run.copy_input(os.path.join(work, "data"))]}
    plan_path, out_path = os.path.join(work, "plan.json"), os.path.join(work, "out.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    run.run_jvm(classpath, plan_path, out_path, work, run.RUN_LIMIT_S)
    with open(out_path) as fh:
        rows = json.load(fh)["count_vs_full"]
    shutil.rmtree(work, ignore_errors=True)
    print("| key | rows | `count()` ms | full result ms | ratio |")
    print("|---|---:|---:|---:|---:|")
    for r in rows:
        print(f"| `{r['key']}` | {r['rows']} | {r['count_ms']:.0f} | {r['full_ms']:.0f} |"
              f" {r['full_ms'] / r['count_ms']:.1f}x |")
    c, f = sum(r["count_ms"] for r in rows), sum(r["full_ms"] for r in rows)
    print(f"| all {len(rows)} keys | | {c:.0f} | {f:.0f} | {f / c:.1f}x |")


if __name__ == "__main__":
    main()
