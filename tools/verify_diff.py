#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps query by query: are the Spark
parquet rows equal, and is each query's oracle SQL equal once
whitespace is normalised?

Usage: verify_diff.py <parentDir> <changeDir> [--sql-diff]

Rows are compared in the canonical string form `oracle_check.canon`
gives them (all columns, in order). `--sql-diff` prints, for each
query whose SQL differs, the differing token runs. Exits 1 if any
query's rows differ or a query is missing from one side.
"""
import difflib
import json
import sys

import duckdb

from oracle_check import canon


def rows(con, out_dir, name):
    return canon(con.sql(
        f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df())


def main(parent, change, sql_diff=False):
    con = duckdb.connect()
    sql_p = json.load(open(f"{parent}/oracle_sql.json"))
    sql_c = json.load(open(f"{change}/oracle_sql.json"))
    bad = 0
    for name in sorted(set(sql_p) | set(sql_c)):
        if name not in sql_p or name not in sql_c:
            print(f"MISSING {name}: only in {'parent' if name in sql_p else 'change'}")
            bad += 1
            continue
        tp, tc = sql_p[name].split(), sql_c[name].split()
        same_sql = tp == tc
        try:
            p, c = rows(con, parent, name), rows(con, change, name)
            same_rows = (list(p.columns) == list(c.columns)
                         and p.values.tolist() == c.values.tolist())
        except Exception as e:  # a side without parquet output
            print(f"MISSING {name}: {str(e)[:120]}")
            bad += 1
            continue
        bad += not same_rows
        print(f"{name}: rows {'equal' if same_rows else 'DIFFER'}, "
              f"sql {'equal' if same_sql else 'differs'}")
        if sql_diff and not same_sql:
            sm = difflib.SequenceMatcher(a=tp, b=tc, autojunk=False)
            for op, a0, a1, b0, b1 in sm.get_opcodes():
                if op != "equal":
                    print(f"    {op}: {' '.join(tp[a0:a1])!r} -> "
                          f"{' '.join(tc[b0:b1])!r}")
    print(f"{bad} of {len(set(sql_p) | set(sql_c))} queries differ in rows")
    return 1 if bad else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--sql-diff"]
    if len(args) != 2:
        sys.exit(__doc__)
    sys.exit(main(args[0], args[1], "--sql-diff" in sys.argv[1:]))
