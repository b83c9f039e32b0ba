#!/usr/bin/env python3
"""Recompute `expected.json`: the digest of every benchmark gate's expected
result, from the gate's `SparkEntry.oracleSql` run in DuckDB over the
benchmark fixture.

Usage (from the repository root):  python3 perfbench/oracle.py

Builds the harness if needed, dumps the oracle SQL of every gate named in
`workloads.json`, and rewrites `perfbench/expected.json`. Run it only when a
gate list, the fixture generator or a gate's oracle SQL changes.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import canon  # noqa: E402
import run  # noqa: E402


def main():
    fixture = run.ensure_fixture()
    classpath = run.ensure_build()
    gates = sorted({g["name"] for w in run.WORKLOADS.values() for g in w.get("gates", [])})
    sql_file = os.path.join(run.BUILD_DIR, "oracle_sql.json")
    run.jvm(classpath, ["dump-oracle", sql_file, ",".join(gates)], run.BUILD_DIR,
            os.path.join(run.BUILD_DIR, "oracle_dump.log")).check_returncode()
    oracle = json.load(open(sql_file))
    con = duckdb.connect()
    for p in sorted(os.listdir(fixture)):
        if p.endswith(".parquet"):
            con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM read_parquet('{fixture}/{p}')")
    out = {"duckdb": duckdb.__version__, "fixture_sha256": run.gen.fixture_digest(fixture),
           "gates": {}}
    for g in gates:
        if g not in oracle:
            sys.exit(f"{g}: no oracle SQL")
        out["gates"][g] = canon.digest(con.execute(oracle[g]).df())
        print(g, out["gates"][g]["rows"], file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
