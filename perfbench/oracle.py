"""Correctness of a run's results against the DuckDB oracle.

Each checked op's result was dumped by the JVM as parquet; the expected
result is the op's oracle SQL (SparkEntry.oracleSql) run by DuckDB over the
same input tables, or, for the SQL rounds of ingest_pipelines, the round's
plain-SQL replay. The two are compared with the normalisation rule of
scripts/oracle_check.py:
columns sorted by name, rows sorted, floats at 12 significant digits and
integer columns exact.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
try:
    import oracle_check  # the repo's own oracle normalisation
except ImportError:
    raise SystemExit("scripts/oracle_check.py not found: run from the root of a checkout")


def _con(data_dir):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in oracle_check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _rows(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when equal under the oracle normalisation, else a reason."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"{len(got_rows)} rows != {len(exp_rows)}"
    flags = oracle_check.int_col_flags(got_rows, got_cols)
    g = oracle_check.table_key(got_rows, got_cols, flags)
    e = oracle_check.table_key(exp_rows, exp_cols, flags)
    if g != e:
        bad = next(i for i, (a, b) in enumerate(zip(g, e)) if a != b)
        return f"row {bad}: {g[bad]} != {e[bad]}"
    return None


def check_all(checks, replay=None, finals=None):
    """Judge every check the JVM dumped.

    Returns ({name: True | False | None}, {name: reason}, {name: rows}):
    True is a match, False a wrong result or an error, None an op without
    an oracle. `replay` and `finals` are the SQL round's replay script and
    final SELECTs, used for checks that carry a `ref`."""
    verdict, why, rows = {}, {}, {}
    cons, expected = {}, {}
    for c in checks:
        name = c["name"]
        if c["error"]:
            verdict[name], why[name] = False, c["error"]
            continue
        d = c["data_dir"]
        if d not in cons:
            cons[d] = _con(d)
        con = cons[d]
        got_cols, got_rows = _rows(con, f"SELECT * FROM read_parquet('{c['path']}/*.parquet')")
        rows[name] = len(got_rows)
        if c["ref"]:
            if not expected:
                for stmt in replay:
                    con.execute(stmt.replace("{r}", "0"))
                for f in finals:
                    expected[f["name"]] = _rows(con, f["sql"].replace("{r}", "0"))
            exp = expected[c["ref"]]
        elif c["oracle"]:
            exp = _rows(con, c["oracle"])
        else:
            verdict[name] = None
            continue
        reason = compare(got_cols, got_rows, *exp)
        verdict[name] = reason is None
        if reason:
            why[name] = reason
    for con in cons.values():
        con.close()
    return verdict, why, rows
