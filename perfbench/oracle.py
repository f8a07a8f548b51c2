#!/usr/bin/env python3
"""DuckDB oracle for the ``query_mix`` workload.

For each query result the harness wrote (one Parquet directory per
query under the results directory, plus ``oracle_sql.json``), run the
query's oracle SQL in DuckDB over the same seeded tables and compare
schema, row count and values, columns sorted by name, the same way as
``tools/check_oracle.py`` (repeated here so the benchmark does not depend
on a tool outside its directory). Returns (results checked, mismatches).
"""
import glob
import json
import os
import sys

import duckdb


def compare(got, want):
    g = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
    w = want.reindex(sorted(want.columns), axis=1).reset_index(drop=True)
    if list(g.columns) != list(w.columns):
        return f"columns differ: {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"row count {len(g)} vs {len(w)}"
    if [str(t) for t in g.dtypes] != [str(t) for t in w.dtypes]:
        return f"dtypes differ: {list(zip(g.columns, g.dtypes, w.dtypes))}"
    neq = g.astype(str) != w.astype(str)
    if neq.any().any():
        i = neq.any(axis=1).idxmax()
        return (f"values differ in {[c for c in g.columns if neq[c].any()]}; "
                f"row {i}: got {g.iloc[i].to_dict()} want {w.iloc[i].to_dict()}")
    return None


def check(data_dir, results_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    checked = bad = 0
    for name, sql in sorted(oracles.items()):
        checked += 1
        d = os.path.join(results_dir, name)
        if not os.path.isdir(d):
            msg = "no result written"
        else:
            msg = compare(con.sql(f"SELECT * FROM '{d}/*.parquet'").df(),
                          con.sql(sql).df())
        if msg:
            bad += 1
            sys.stderr.write(f"[oracle] {name}: {msg}\n")
    return checked, bad


if __name__ == "__main__":
    n, bad = check(sys.argv[1], sys.argv[2])
    print(f"{n - bad}/{n} match")
    sys.exit(1 if bad else 0)
