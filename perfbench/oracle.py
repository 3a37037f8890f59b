#!/usr/bin/env python3
"""Regenerate perfbench/expected_counts.json.

From the repository root:

    python3 perfbench/oracle.py

Builds the benchmark, asks it for the DuckDB query of every workload key
(`SparkEntry.oracleSql`) and of every `optional_star` template (paired
SQL over `Triples.sqlCte`), and records each query's row count on every
dataset under perfbench/data. The datasets are fixed, so the counts stay
valid until a key's semantics change. Needs the duckdb Python module.
"""
import json
import os
import shutil
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def emit_oracles():
    """{"keys": {key: sql}, "templates": {id: sql}} from the benchmark itself."""
    cp, _ = run.classpath(time.time() + run.BUILD_LIMIT_S, run.stamp())
    work = os.path.join(run.BUILD, "oracle")
    os.makedirs(work, exist_ok=True)
    try:
        sql_file = os.path.join(work, "oracles.json")
        code, _ = run.run_group(run.java_cmd(cp, ["--emit-oracles", sql_file], work),
                                run.RUN_LIMIT_S, cwd=work)
        if code != 0:
            run.fail("could not emit the oracle queries")
        with open(sql_file) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    oracles = emit_oracles()
    out = {"command": "python3 perfbench/oracle.py"}
    data_root = os.path.join(run.HERE, "data")
    for name in sorted(os.listdir(data_root)):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_root, name, t)}.parquet')")
        counts = {}
        for group in ("keys", "templates"):
            counts[group] = {}
            for k, sql in oracles[group].items():
                t0 = time.time()
                n = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                counts[group][k] = n
                print(f"{name} {k} {n} rows ({time.time() - t0:.1f} s)", file=sys.stderr)
        out[name] = counts
    with open(os.path.join(run.HERE, "expected_counts.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
