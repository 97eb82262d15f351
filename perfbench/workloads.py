"""Workload definitions: which ops each workload runs, in which seeded order.

Both workloads are closed loops. olap_mix has one client thread;
ingest_pipelines has a writer and a reader. An op is one query key, one
statement, one stream key run or one pipeline key.
"""
import random

import stats

# Batch operator keys, trimmed so a warm pass fits the run length. The four
# keys whose full result costs most (agg_quantile_state, win_range_frame,
# agg_percentile, fn_math) stay, with fn_variant and join_flagship_q18; the
# rollup, MV, result-cache, bucketed and DPP keys exercise the standing
# artifacts and plan rewrites; sql_dialect_agg the Doris dialect front end.
# Short keys are dominated by the front end, Catalyst and codegen, heavy
# keys by executor kernels and skew.
OLAP_KEYS = [
    "agg_quantile_state", "agg_percentile", "agg_hash",
    "win_range_frame", "fn_math", "fn_variant",
    "join_flagship_q18", "join_dpp", "join_bucketed",
    "rollup_rewrite_choice", "mv_join_rewrite", "cache_result",
    "sql_dialect_agg", "sort_topk",
]

# A stream key (micro-batch lifecycle, state store) and an LLM corpus key
# (executor CPU, shuffle, a checkpointed term-statistics artifact) run by
# the writer after each round's SQL, over a fresh copy of the input.
PIPELINE_KEYS = ["stream_agg", "llm_bm25"]

WORKLOADS = ("olap_mix", "ingest_pipelines")

# A run measures a fixed amount of work: as many passes (olap_mix) or
# writer rounds (ingest_pipelines) as take about the requested seconds on a
# 4-core host (medians of 36 and 38 windows: a pass takes 6.6 s, a writer
# round 8.4 s; both vary by up to half with the host's load).
# Fixing the count, rather than stopping at a deadline, keeps the op count,
# the tail percentile and the retained state the same from run to run,
# whatever the host's speed; the window's length is measured.
PASS_SECONDS = {"olap_mix": 6.6, "ingest_pipelines": 8.4}


def n_passes(workload, seconds):
    return max(1, round(seconds / PASS_SECONDS[workload]))


def plan(workload, seed, seconds):
    """The seeded part of a run's plan: op lists and their orders."""
    if workload == "olap_mix":
        keys, extra = OLAP_KEYS, {}
    elif workload == "ingest_pipelines":
        keys, extra = PIPELINE_KEYS, {"ddl": ddl_script(seed)}
    else:
        raise ValueError(f"unknown workload {workload}")
    passes = stats.seeded_passes(keys, seed, workload, n_passes(workload, seconds))
    return dict(keys=keys, passes=passes, **extra)


# --------------------------------------------------------- SQL round

# order keys of the input (sample_fixture.ORDER_CUT); about four lines each
N_ORDERS = 7500


def _slices(rng, n):
    """`n` overlapping [lo, hi) slices of the order key space."""
    out = []
    for _ in range(n):
        lo = rng.randrange(0, N_ORDERS - 1500)
        out.append((lo, lo + rng.randrange(1250, 3000)))
    return out


def ddl_script(seed):
    """A seeded Doris-SQL round plus its plain-SQL replay.

    Three tables, one per key model, are created and loaded from seeded
    key slices of orders and lineitem, then mutated with DELETE and UPDATE
    and read back by final SELECTs. `{r}` stands for the round number, so
    every round writes its own tables. `replay` holds the same round as
    plain SQL (PRIMARY KEY upserts, an aggregate view, ordinary DELETE and
    UPDATE) that any SQL engine can run to get the expected final state.
    """
    rng = random.Random(f"ingest_pipelines:{seed}")
    slices = _slices(rng, 1)
    late = _slices(rng, 1)[0]
    max_qty = rng.randrange(40, 50)
    cust_mod = rng.randrange(7, 14)
    cents_cut = rng.randrange(10_000_000, 40_000_000)

    def o_rows(lo, hi, ver):
        return (f"SELECT o_orderkey, o_custkey, o_orderstatus, "
                f"CAST(round(o_totalprice * 100) AS BIGINT), {ver} "
                f"FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {hi}")

    def l_agg_rows(lo, hi):
        return ("SELECT l_returnflag, l_linestatus, l_suppkey, l_quantity, "
                "CAST(round(l_extendedprice * 100) AS BIGINT), l_quantity, 1 "
                f"FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi}")

    def l_dup_rows(lo, hi):
        return ("SELECT l_orderkey, l_partkey, l_quantity, "
                "CAST(round(l_extendedprice * 100) AS BIGINT) "
                f"FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi}")

    create = [
        "CREATE TABLE ord_u_{r} (o_orderkey BIGINT, o_custkey BIGINT, "
        "status VARCHAR(4), price_cents BIGINT, ver INT) ENGINE=OLAP "
        "UNIQUE KEY(o_orderkey) DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4",
        "CREATE TABLE li_agg_{r} (l_returnflag VARCHAR(1), l_linestatus VARCHAR(1), "
        "l_suppkey BIGINT, qty DOUBLE SUM, cents BIGINT SUM, max_qty DOUBLE MAX, "
        "n BIGINT SUM) ENGINE=OLAP AGGREGATE KEY(l_returnflag, l_linestatus, l_suppkey) "
        "DISTRIBUTED BY HASH(l_suppkey) BUCKETS 4",
        "CREATE TABLE li_dup_{r} (l_orderkey BIGINT, l_partkey BIGINT, "
        "l_quantity DOUBLE, cents BIGINT) ENGINE=OLAP DUPLICATE KEY(l_orderkey) "
        "DISTRIBUTED BY HASH(l_orderkey) BUCKETS 4",
    ]
    load, replay = [], [
        "CREATE TABLE ord_u_{r} (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, "
        "status VARCHAR, price_cents BIGINT, ver INT)",
        "CREATE TABLE li_agg_raw_{r} (l_returnflag VARCHAR, l_linestatus VARCHAR, "
        "l_suppkey BIGINT, qty DOUBLE, cents BIGINT, max_qty DOUBLE, n BIGINT)",
        "CREATE TABLE li_dup_{r} (l_orderkey BIGINT, l_partkey BIGINT, "
        "l_quantity DOUBLE, cents BIGINT)",
    ]
    for i, (lo, hi) in enumerate(slices, start=1):
        load += [f"INSERT INTO ord_u_{{r}} {o_rows(lo, hi, i)}",
                 f"INSERT INTO li_agg_{{r}} {l_agg_rows(lo, hi)}",
                 f"INSERT INTO li_dup_{{r}} {l_dup_rows(lo, hi)}"]
        replay += [f"INSERT OR REPLACE INTO ord_u_{{r}} {o_rows(lo, hi, i)}",
                   f"INSERT INTO li_agg_raw_{{r}} {l_agg_rows(lo, hi)}",
                   f"INSERT INTO li_dup_{{r}} {l_dup_rows(lo, hi)}"]
    mutate = [
        f"DELETE FROM li_dup_{{r}} WHERE l_quantity > {max_qty}",
        f"DELETE FROM ord_u_{{r}} WHERE o_custkey % {cust_mod} = 0",
        f"UPDATE ord_u_{{r}} SET status = 'X' "
        f"WHERE price_cents > {cents_cut} AND o_orderkey % 2 = 0",
    ]
    # loaded after the delete, so these rows must survive it
    load += mutate + [f"INSERT INTO ord_u_{{r}} {o_rows(late[0], late[1], 9)}"]
    replay += mutate + [
        f"INSERT OR REPLACE INTO ord_u_{{r}} {o_rows(late[0], late[1], 9)}",
        "CREATE VIEW li_agg_{r} AS SELECT l_returnflag, l_linestatus, l_suppkey, "
        "sum(qty) AS qty, CAST(sum(cents) AS BIGINT) AS cents, max(max_qty) AS max_qty, "
        "CAST(sum(n) AS BIGINT) AS n FROM li_agg_raw_{r} GROUP BY 1, 2, 3",
    ]
    final = [
        {"name": "ord_u", "sql":
            "SELECT status, count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS cents, "
            "CAST(sum(ver) AS BIGINT) AS vers FROM ord_u_{r} GROUP BY status ORDER BY status"},
        {"name": "li_agg", "sql":
            "SELECT l_returnflag, l_linestatus, count(*) AS n_keys, sum(qty) AS qty, "
            "CAST(sum(cents) AS BIGINT) AS cents, max(max_qty) AS max_qty, "
            "CAST(sum(n) AS BIGINT) AS n FROM li_agg_{r} "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"},
        {"name": "li_dup", "sql":
            "SELECT l_partkey % 10 AS b, count(*) AS n, sum(l_quantity) AS qty, "
            "CAST(sum(cents) AS BIGINT) AS cents FROM li_dup_{r} "
            "GROUP BY l_partkey % 10 ORDER BY b"},
    ]
    reader = [
        "SELECT status, count(*) AS n, sum(price_cents) AS cents FROM ord_u_{r} "
        "GROUP BY status ORDER BY status",
        "SELECT o_custkey % 20 AS b, count(*) AS n FROM ord_u_{r} "
        "WHERE price_cents > 10000000 GROUP BY o_custkey % 20 ORDER BY b",
        "SELECT l_returnflag, sum(qty) AS qty, sum(n) AS n FROM li_agg_{r} "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
        "SELECT l_partkey % 10 AS b, count(*) AS n, sum(cents) AS cents "
        "FROM li_dup_{r} GROUP BY l_partkey % 10 ORDER BY b",
        "SELECT o.status, count(*) AS n FROM li_dup_{r} d JOIN ord_u_{r} o "
        "ON d.l_orderkey = o.o_orderkey GROUP BY o.status ORDER BY o.status",
        "SELECT c.segment, count(*) AS n, sum(o.price_cents) AS cents FROM ord_u_{r} o "
        "JOIN {dim} c ON o.o_custkey = c.c_custkey GROUP BY c.segment ORDER BY c.segment",
    ]
    rng.shuffle(reader)
    return {"create": create, "load": load, "final": final, "reader": reader,
            "replay": replay, "standing": STANDING}


# The workload's standing table, created and first loaded in set-up; set-up
# `i` names it `cust_dim_{i}`, and `{dim}` in the reader's SELECTs is the
# copy of the last set-up, which the run uses.
STANDING = [
    "CREATE TABLE cust_dim_{i} (c_custkey BIGINT, segment VARCHAR(16), nation INT, "
    "bal_cents BIGINT) ENGINE=OLAP UNIQUE KEY(c_custkey) "
    "DISTRIBUTED BY HASH(c_custkey) BUCKETS 4",
    "INSERT INTO cust_dim_{i} SELECT c_custkey, c_mktsegment, c_nationkey, "
    "CAST(round(c_acctbal * 100) AS BIGINT) FROM customer",
]
