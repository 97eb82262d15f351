"""Turn the JVM's raw observations of one run into metrics and spans."""
import statistics

import stats

STREAM_PREFIX = "stream_"
SQL_KINDS = ("create", "insert", "delete", "update", "select")


def _lat(op):
    return op["end"] - op["start"]


def end_to_end(rec, setup_s):
    """The end-to-end metrics of one run (the same with tracing on or off)."""
    ops = rec["ops"]
    lat = [_lat(o) for o in ops]
    window_s = (rec["window"]["end"] - rec["window"]["start"]) / 1000.0
    tail_v, tail_p, n = stats.tail(lat)
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / window_s, "ops/s"),
        "op_p50_ms": (stats.percentile(lat, 50), "ms"),
        "op_tail_ms": (tail_v, "ms"),
        "heap_mb": (rec["heap_mb"], "MB"),
    }, {"tail_percentile": tail_p, "n_ops": n, "window_s": window_s}


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _owner(t, ops):
    """The op whose interval holds wall-clock time `t` (first match)."""
    for o in ops:
        if o["start"] <= t <= o["end"]:
            return o
    return None


def spans(rec):
    """The span tree of a traced run: run -> pass -> op -> build/exec, with
    planning phases, stream triggers, Spark jobs and stages under the op
    part they happened in. Times are wall-clock epoch ms."""
    tr = rec["trace"]
    ops = sorted(rec["ops"], key=lambda o: o["start"])
    out = [{"id": "run", "parent": None, "kind": "run",
            "start": rec["window"]["start"], "end": rec["window"]["end"]}]
    passes = {}
    for o in ops:
        key = f"pass:{o['client']}:{o['pass']}"
        p = passes.setdefault(key, {"id": key, "parent": "run", "kind": "pass",
                                    "start": o["start"], "end": o["end"]})
        p["start"], p["end"] = min(p["start"], o["start"]), max(p["end"], o["end"])
    out += passes.values()
    by_id = {}
    for o in ops:
        oid = o["id"]
        by_id[oid] = o
        out += [
            {"id": oid, "parent": f"pass:{o['client']}:{o['pass']}", "kind": "op",
             "name": o["name"], "start": o["start"], "end": o["end"]},
            {"id": oid + ":build", "parent": oid, "kind": "build",
             "start": o["start"], "end": o["build_end"]},
            {"id": oid + ":exec", "parent": oid, "kind": "exec",
             "start": o["build_end"], "end": o["end"]}]

    def part(o, t):
        return o["id"] + (":build" if t < o["build_end"] else ":exec")

    trig_of_op = {}
    for i, t in enumerate(tr.get("triggers", [])):
        o = _owner(t["start"], ops)
        if o is None:
            continue
        s = {"id": f"trigger:{i}", "parent": o["id"] + ":build", "kind": "trigger",
             "start": t["start"], "end": t["start"] + t["trigger_ms"]}
        trig_of_op.setdefault(o["id"], []).append(s)
        out.append(s)
    for i, q in enumerate(tr.get("phases", [])):
        for name, ph in q["phases"].items():
            o = _owner(ph["start"], ops)
            if o is not None and ph["end"] >= ph["start"]:
                out.append({"id": f"phase:{i}:{name}", "parent": part(o, ph["start"]),
                            "kind": "plan", "name": name,
                            "start": ph["start"], "end": ph["end"]})
    stage_job = {}
    for j in tr.get("jobs", []):
        o = by_id.get(j["op"])
        if o is None:
            continue
        parent = part(o, j["start"])
        for t in trig_of_op.get(o["id"], []):
            if t["start"] <= j["start"] <= t["end"]:
                parent = t["id"]
        jid = f"job:{j['job']}"
        out.append({"id": jid, "parent": parent, "kind": "job",
                    "start": j["start"], "end": j["end"]})
        for st in j["stages"]:
            stage_job[st] = jid
    for st in tr.get("stages", []):
        if st["stage"] in stage_job:
            out.append({"id": f"stage:{st['stage']}", "parent": stage_job[st["stage"]],
                        "kind": "stage", "start": st["start"], "end": st["end"]})
    return out


def self_time_by_kind(span_list):
    """{kind: total self ms} over a span tree."""
    st = stats.self_times(span_list)
    out = {}
    for s in span_list:
        out[s["kind"]] = out.get(s["kind"], 0.0) + st[s["id"]]
    return out


def per_layer(rec, result_rows):
    """Per-layer metrics of a traced run, mostly as means per op.

    `result_rows` maps a key to the row count of its checked result, for
    the scan-amplification ratio."""
    ops = rec["ops"]
    n = max(len(ops), 1)
    tr = rec["trace"]
    c = [o.get("counters") or {} for o in ops]
    g0, g1 = rec["globals"]["before"], rec["globals"]["after"]
    window_ms = rec["window"]["end"] - rec["window"]["start"]
    cpus = int(rec["master"].strip("local[]") or 1)

    def csum(k):
        return sum(x.get(k, 0) for x in c)

    phase_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    files_written = 0
    for q in tr.get("phases", []):
        files_written += q.get("files_written", 0)
        for name, ph in q["phases"].items():
            if name in phase_ms:
                phase_ms[name] += ph["end"] - ph["start"]

    jobs_in_build = 0
    by_id = {o["id"]: o for o in ops}
    for j in tr.get("jobs", []):
        o = by_id.get(j["op"])
        if o is not None and j["start"] < o["build_end"]:
            jobs_in_build += 1

    hits = g1.get("cache_hits", 0) - g0.get("cache_hits", 0)
    misses = g1.get("cache_misses", 0) - g0.get("cache_misses", 0)
    compiles = g1.get("codegen_compiles", 0) - g0.get("codegen_compiles", 0)

    sql_ops = [o for o in ops if o["client"] in ("writer", "reader")]
    sel_ops = [o for o in sql_ops if o["kind"] == "select"]
    files_read_sel = 0
    for q in tr.get("phases", []):
        ph = q["phases"].get("planning") or next(iter(q["phases"].values()), None)
        o = _owner(ph["start"], sel_ops) if ph else None
        if o is not None:
            files_read_sel += q.get("files_read", 0)
    ins = [o for o in sql_ops if o["kind"] == "insert"]
    ins_rows = sum((o.get("counters") or {}).get("rows_written", 0) for o in ins)
    reads = [_lat(o) for o in sql_ops if o["client"] == "reader"]

    stream_ops = [o for o in ops if o["name"].startswith(STREAM_PREFIX)]
    trig = tr.get("triggers", [])
    trig_ms_by_op = {}
    for t in trig:
        o = _owner(t["start"], stream_ops)
        if o is not None:
            trig_ms_by_op[o["id"]] = trig_ms_by_op.get(o["id"], 0.0) + t["trigger_ms"]
    stream_s = sum(_lat(o) for o in stream_ops) / 1000.0

    rows_out = sum(result_rows.get(o["name"], 0) for o in ops)
    scan_rows_keyed = sum((o.get("counters") or {}).get("scan_rows", 0)
                          for o in ops if o["name"] in result_rows)
    skews = [x.get("task_skew", 0.0) for x in c if x.get("task_skew", 0.0) > 0]
    self_ms = self_time_by_kind(spans(rec))

    m = {
        "operators.build_ms": _mean(o["build_end"] - o["start"] for o in ops),
        "operators.build_jobs": jobs_in_build / n,
        "catalyst.analysis_ms": phase_ms["analysis"] / n,
        "catalyst.optimization_ms": phase_ms["optimization"] / n,
        "catalyst.planning_ms": phase_ms["planning"] / n,
        "codegen.compiles": compiles / n,
        "codegen.compile_ms": compiles * g1.get("codegen_mean_ms", 0.0) / n,
        "plans.rule_ms": rec["rules"].get("plans_rule_ms", 0.0) / n,
        "plans.rewrites": rec["rules"].get("plans_rewrites", 0.0) / n,
        "plans.result_cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "sql.rewrite_ms": _mean(o.get("rewrite_ms", 0.0) for o in sql_ops),
        "sql.jobs_per_stmt": _mean((o.get("counters") or {}).get("jobs", 0) for o in sql_ops),
        "sql.files_written": files_written / n if sql_ops else 0.0,
        "sql.select_files_read": files_read_sel / len(sel_ops) if sel_ops else 0.0,
        "sql.load_rows_per_s": ins_rows / (sum(_lat(o) for o in ins) / 1000.0) if ins else 0.0,
        "sql.read_p50_ms": stats.percentile(reads, 50) if reads else 0.0,
        "sql.read_tail_ms": stats.tail(reads)[0] if reads else 0.0,
        "sched.jobs": csum("jobs") / n,
        "sched.stages": csum("stages") / n,
        "sched.tasks": csum("tasks") / n,
        "sched.delay_ms": csum("sched_delay_ms") / n,
        "sched.task_skew": statistics.median(skews) if skews else 0.0,
        "exec.run_s": csum("run_ms") / 1000.0 / n,
        "exec.cpu_s": csum("cpu_ms") / 1000.0 / n,
        "exec.gc_ms": csum("gc_ms") / n,
        "exec.busy_frac": csum("run_ms") / (window_ms * cpus) if window_ms else 0.0,
        "shuffle.read_bytes": csum("shuffle_read") / n,
        "shuffle.write_bytes": csum("shuffle_write") / n,
        "shuffle.fetch_wait_ms": csum("fetch_wait_ms") / n,
        "spill.bytes": csum("spill") / n,
        "scan.bytes": csum("scan_bytes") / n,
        "scan.rows_per_result_row": scan_rows_keyed / rows_out if rows_out else 0.0,
        "streaming.triggers": len(trig) / len(stream_ops) if stream_ops else 0.0,
        "streaming.trigger_ms": _mean(t["trigger_ms"] for t in trig),
        "streaming.addbatch_ms": _mean(t["addbatch_ms"] for t in trig),
        "streaming.planning_ms": _mean(t["planning_ms"] for t in trig),
        "streaming.lifecycle_ms": _mean(_lat(o) - trig_ms_by_op.get(o["id"], 0.0)
                                        for o in stream_ops),
        "streaming.state_rows": _mean(t["state_rows"] for t in trig),
        "streaming.state_mem_mb": max((t["state_bytes"] for t in trig), default=0) / 1048576.0,
        "streaming.rows_per_s": sum(t["input_rows"] for t in trig) / stream_s if stream_s else 0.0,
        "artifacts.resident_rdds": rec["resident_rdds"],
        "artifacts.resident_mb": rec["block_mem_mb"],
        "jvm.gc_ms": (g1.get("jvm_gc_ms", 0) - g0.get("jvm_gc_ms", 0)) / n,
        "jvm.heap_mb": rec["heap_mb"],
    }
    for kind in ("build", "exec", "plan", "job", "stage", "trigger"):
        m[f"self.{kind}_ms"] = self_ms.get(kind, 0.0) / n
    for kind in SQL_KINDS:
        m[f"sql.{kind}_ms"] = _mean(_lat(o) for o in sql_ops if o["kind"] == kind)
    return m


UNITS = {
    "operators.build_jobs": "count", "codegen.compiles": "count",
    "plans.rewrites": "count", "plans.result_cache_hit_ratio": "ratio",
    "sql.jobs_per_stmt": "count", "sql.files_written": "count",
    "sql.select_files_read": "count", "sql.load_rows_per_s": "rows/s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_skew": "ratio", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.busy_frac": "ratio", "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "spill.bytes": "bytes", "scan.bytes": "bytes",
    "scan.rows_per_result_row": "ratio", "streaming.triggers": "count",
    "streaming.state_rows": "count", "streaming.state_mem_mb": "MB",
    "streaming.rows_per_s": "rows/s", "artifacts.resident_rdds": "count",
    "artifacts.resident_mb": "MB", "jvm.heap_mb": "MB",
}


def unit(name):
    return UNITS.get(name, "ms")
