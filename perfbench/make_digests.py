#!/usr/bin/env python3
"""Produces perfbench/expected_digests.json, the query-output checks.

    python3 perfbench/make_digests.py

Runs the runner's --make-digests mode (every checked query digested the
way a benchmark run digests it, and its result dumped to parquet), then
cross-checks each dump against the query's DuckDB oracle SQL
(`SparkEntry.oracleSql`) cell by cell over the same parquet tables.
A query whose dump disagrees with its oracle is not written; the tool
exits non-zero instead. Queries without an oracle are recorded as such.
"""
import json
import os
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
OUT = os.path.join(run.HERE, "expected_digests.json")


def canon(df):
    import numpy as np

    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or v is np.ma.masked:
            return "<null>"
        if isinstance(v, (list, tuple, np.ndarray, np.ma.MaskedArray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if v != v:
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    return df.map(cell)


def oracle_diff(con, sql, dump):
    """None when the dump equals the oracle result, else a reason."""
    want = canon(con.sql(sql).df())
    got = canon(con.sql(f"SELECT * FROM read_parquet('{dump}/*.parquet')").df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if (got.values != want.values).any():
        return "cell values differ"
    return None


def main():
    cp = run.build()
    raw = os.path.join(run.BUILD, "digests.json")
    subprocess.run(run.java_cmd(cp, ["--make-digests", raw]), cwd=run.ROOT, check=True,
                   stdin=subprocess.DEVNULL)
    with open(raw) as f:
        produced = json.load(f)
    out, bad = {}, 0
    for wl, spec in produced.items():
        data = spec["data"]
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        queries = {}
        for name, q in sorted(spec["queries"].items()):
            status = "none"
            if q["oracle"]:
                dump = os.path.join(run.BUILD, "digests", "dump", wl, name)
                why = oracle_diff(con, q["oracle"], dump)
                if why:
                    print(f"FAIL {wl}/{name}: {why}")
                    bad += 1
                    continue
                status = "match"
            print(f"ok   {wl}/{name} {q['digest']} oracle={status}")
            queries[name] = {"digest": q["digest"], "oracle": status}
        out[wl] = {"data": os.path.basename(data), "queries": queries}
    if bad:
        print(f"{bad} queries disagree with their oracle; {OUT} not written")
        return 1
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
