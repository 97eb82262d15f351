#!/usr/bin/env python3
"""Derive the benchmark's input from the engine's sf0.01 fixture tables.

Usage: python3 perfbench/sample_fixture.py <sf0.01 fixture dir> [out dir]
       (default out dir: perfbench/fixture)

The benchmark runs on the fixtures themselves, not on synthetic data. To fit
its run budget it keeps the first half of the order key space: the orders
with `o_orderkey < ORDER_CUT` and every lineitem row of those orders. Every
other table is copied unchanged. Rows keep their fixture order, so the
sample is a deterministic function of the fixture. The script prints the
sample's shape, which perfbench/README.md records.
"""
import os
import shutil
import sys

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

ORDER_CUT = 7500
FILTERED = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
TABLES = ("customer", "documents", "embeddings", "events", "lineitem", "nation",
          "orders", "part", "region", "supplier")


def sample(src, dst):
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        s, d = os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        if t in FILTERED:
            tab = pq.read_table(s)
            pq.write_table(tab.filter(pc.less(tab[FILTERED[t]], ORDER_CUT)), d)
        else:
            shutil.copyfile(s, d)
    return duckdb.connect()


def shape(con, d):
    """One line per table: rows, plus the figures the keys' costs depend on."""
    def q(sql):
        return con.execute(sql).fetchone()
    p = lambda t: f"read_parquet('{os.path.join(d, t + '.parquet')}')"  # noqa: E731
    out = [f"{t}: {q(f'SELECT count(*) FROM {p(t)}')[0]} rows" for t in TABLES]
    out.append("lines per order: %.2f" % q(
        f"SELECT count(*) / count(DISTINCT l_orderkey) FROM {p('lineitem')}"))
    out.append("orders with sum(l_quantity) > 300: %d" % q(
        f"SELECT count(*) FROM (SELECT l_orderkey FROM {p('lineitem')} "
        "GROUP BY 1 HAVING sum(l_quantity) > 300)"))
    out.append("tokens per document: %.1f" % q(
        f"SELECT avg(len(string_split(text, ' '))) FROM {p('documents')}"))
    out.append("distinct event users: %d" % q(
        f"SELECT count(DISTINCT user_id) FROM {p('events')}"))
    return out


def main():
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    dst = sys.argv[2] if len(sys.argv) > 2 else os.path.join("perfbench", "fixture")
    con = sample(sys.argv[1], dst)
    print("\n".join(shape(con, dst)))


if __name__ == "__main__":
    main()
