#!/usr/bin/env python3
"""Derives `expected.json`, the output check's reference results.

Usage (from the repository root):  python3 perfbench/derive_expected.py

For every workload query it runs the query's DuckDB oracle SQL
(`SparkEntry.oracleSql`) over the workload's tables and stores the
result's fingerprint (see oracle.py) under the workload's scale factor.
Run it once when a workload's query list or data changes; the benchmark
itself only reads the stored fingerprints.
"""
import json
import os
import subprocess

import duckdb

import oracle
import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    with open(os.path.join(run.HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    classpath, _ = run.build()
    dump = os.path.join(run.WORK, "oracle_sql.json")
    subprocess.run(run.java_cmd(classpath, spec["heap"]) + ["dump-oracles", dump], check=True)
    with open(dump) as fh:
        oracles = json.load(fh)

    expected = {}
    for w in spec["workloads"].values():
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(run.HERE, w['data'], t)}.parquet'")
        for q in w["queries"]:
            expected.setdefault(w["sf"], {})[q] = oracle.fingerprint(con.sql(oracles[q]).df())
        con.close()
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump({sf: dict(sorted(qs.items())) for sf, qs in sorted(expected.items())}, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
