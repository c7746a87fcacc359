#!/usr/bin/env python3
"""Compute the committed curation digests from the DuckDB oracle.

Usage (from the root of a checkout, with python duckdb installed):
    python3 perfbench/make_digests.py

Builds the benchmark (as run.py does), writes each stage's oracle SQL
(`SparkEntry.oracleSql`) with graftbench.EmitOracleSql, runs every
oracle query in DuckDB over the committed perfbench/data tables, and
writes the order-insensitive digest of each result — canonicalized by
tools/compare.py's `table_hash` — to
perfbench/expected/curation_digests.json. A run only permutes the
documents' rows, so the digests do not depend on its seed.
"""
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import run  # noqa: E402
from compare import table_hash  # noqa: E402


def main():
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = run.spark_jars()
    classes = run.build(build_dir, jars)
    sql_file = os.path.join(build_dir, "oracle_sql.json")
    cmd = ["java", "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "graftbench.EmitOracleSql", sql_file]
    subprocess.run(cmd, cwd=ROOT, check=True)
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(HERE, 'data', t)}.parquet')")
    oracle = json.load(open(sql_file))
    digests = {}
    for name, sql in sorted(oracle.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        digests[name] = table_hash(rows, cols)
        print(f"{name}: {len(rows)} rows {digests[name]}", file=sys.stderr)
    out = os.path.join(HERE, "expected", "curation_digests.json")
    with open(out, "w") as f:
        json.dump({"duckdb_version": duckdb.__version__, "digests": digests}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
