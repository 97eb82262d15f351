#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <olap_mix|ingest_pipelines>
      --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness if their sources changed, copies the
input tables (perfbench/fixture, a sample of the engine's sf0.01 fixtures),
takes the op orders and SQL key slices from the seed, runs the workload in a Spark JVM for the given number
of seconds (a fixed number of whole passes sized to take about that long on
a 4-core host), checks every distinct op's result against the
DuckDB oracle, and prints one JSON object as the last line of stdout: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A record of the run (host, versions, inputs, per-op timings, checks) is
written under `<build dir>/records/`; a traced run also writes its spans.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
SETUP_REPEATS = 3
MAX_CPUS = 4
JVM_HEAP = "2g"
RUN_LIMIT_S = 165
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def other_spark_jvms():
    """Pids of other running JVMs with Spark on their command line."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ")
        except OSError:
            continue
        if int(pid) != os.getpid() and b"java" in cmd and b"spark" in cmd.lower():
            found.append(int(pid))
    return found


def git_commit():
    """HEAD of the checkout when it is itself a git work tree, else None."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2:
        return None
    return out[1] if os.path.realpath(out[0]) == os.path.realpath(os.getcwd()) else None


def copy_input(dst):
    """A private copy of the input tables: set-up writes layouts beside them."""
    os.makedirs(dst)
    for f in sorted(os.listdir(FIXTURE)):
        shutil.copyfile(os.path.join(FIXTURE, f), os.path.join(dst, f))
    return dst


def run_jvm(classpath, plan_path, out_path, work, limit_s):
    log_path = os.path.join(work, "jvm.log")
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-cp", classpath, "perfbench.Main", plan_path, out_path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
        # scratch files inside the run's work dir
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                env=env)
        try:
            proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"run exceeded {limit_s:.0f} s; see {log_path}")
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    out_root = build.build_dir()
    os.makedirs(out_root, exist_ok=True)
    classpath = build.build(out_root)

    t_run = time.monotonic()
    nproc = len(os.sched_getaffinity(0))
    cpus = min(nproc, MAX_CPUS)
    host = {"nproc": nproc, "master": f"local[{cpus}]", "loadavg_start": loadavg(),
            "other_spark_jvms": other_spark_jvms()}
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out_root, "run", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    # set-up, repeated: one copy of the input per set-up; the JVM stamps
    # each copy and builds the workload's standing artifacts on it
    t0 = time.perf_counter()
    dirs = [copy_input(os.path.join(work, f"data{i}")) for i in range(SETUP_REPEATS)]
    copy_s = time.perf_counter() - t0

    plan = dict(workloads.plan(a.workload, a.seed, a.seconds), workload=a.workload,
                cpus=cpus, trace=bool(a.trace),
                data_dirs=dirs, work_dir=work)
    plan_path = os.path.join(work, "plan.json")
    out_path = os.path.join(work, "out.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    run_jvm(classpath, plan_path, out_path, work,
            RUN_LIMIT_S - (time.monotonic() - t_run))
    with open(out_path) as fh:
        rec = json.load(fh)

    ddl = plan.get("ddl") or {}
    verdict, why, rows = oracle.check_all(rec["checks"], ddl.get("replay"), ddl.get("final"))
    attempted, failed = stats.count_failures(rec["ops"], verdict)
    setup_s = statistics.median(rec["setup_ms"]) / 1000.0
    e2e, tail_info = report.end_to_end(rec, setup_s)
    correct = failed == 0 and all(v is not False for v in verdict.values())

    host["loadavg_end"] = loadavg()
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": host, "spark_version": rec["spark_version"],
        "java_version": rec["java_version"], "git_commit": git_commit(),
        "source_digest": open(os.path.join(out_root, "classes.stamp")).read(),
        "inputs": {os.path.relpath(os.path.join(FIXTURE, f), os.getcwd()):
                   os.path.getsize(os.path.join(FIXTURE, f))
                   for f in sorted(os.listdir(FIXTURE))},
        "setup": {"copy_s": copy_s, "jvm_setup_ms": rec["setup_ms"]},
        "e2e": {k: v for k, (v, _) in e2e.items()}, **tail_info,
        "attempted": attempted, "failed": failed, "fail_frac": failed / attempted,
        "block_mem_mb": rec["block_mem_mb"], "rounds": rec["rounds"],
        "checks": {k: {"ok": v, "why": why.get(k), "rows": rows.get(k)}
                   for k, v in verdict.items()},
        "ops": [{k: o.get(k) for k in ("name", "client", "pass", "start",
                                       "build_end", "end", "error")}
                for o in rec["ops"]],
    }
    if a.trace:
        layers = report.per_layer(rec, rows)
        record["per_layer"] = layers
        spans = report.spans(rec)
        record["self_ms_by_kind"] = report.self_time_by_kind(spans)
    rec_dir = os.path.join(out_root, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if a.trace:
        with open(os.path.join(rec_dir, f"{tag}.spans.json"), "w") as fh:
            json.dump(spans, fh)
    shutil.rmtree(work, ignore_errors=True)

    for k, v in sorted(why.items()):
        print(f"check {k}: {v}", file=sys.stderr)
    print(f"{tag}: {attempted} ops, {failed} failed, tail p{tail_info['tail_percentile']:g}"
          f" of {tail_info['n_ops']}, window {tail_info['window_s']:.1f} s", file=sys.stderr)
    e2e_json = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if a.trace:
        # the traced run's own end-to-end figures, for the tracing overhead
        print("e2e " + json.dumps(e2e_json))
        metrics = {k: {"value": v, "unit": report.unit(k)} for k, v in layers.items()}
    else:
        metrics = e2e_json
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
