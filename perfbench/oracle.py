#!/usr/bin/env python3
"""Derives perfbench/expected/<workload>.json from the DuckDB oracle twins.

    python3 perfbench/oracle.py rental_analytics corpus_x10 rental_reference

For each query of the workload, the harness writes its SparkEntry.oracleSql
text; DuckDB runs it over the workload's own tables (a table directory, as
AmplifyFixture writes, is read as <t>.parquet/*.parquet). The expected row
count and result digest are stored for run.py to check every execution
against. Run it only when a workload's queries or data change.
"""
import json
import os
import shutil
import sys
import time

import duckdb

import run


def main():
    cp, _ = run.build()
    wls = run.workloads()
    for name in sys.argv[1:]:
        wl = wls[name]
        run_dir = os.path.join(run.WORK, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        sql_file = os.path.join(run_dir, "oracle_sql.json")
        with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
            data = run.data_dir(wl["data"], cp, logf, time.time() + 850)[0]
            run.java(cp, "perfbench.Harness", ["--queries", ",".join(wl["queries"]),
                                                "--oracle-out", sql_file],
                     "1g", {}, logf, 300)
        with open(sql_file) as f:
            sql = json.load(f)
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in run.TABLES:
            p = os.path.join(data, f"{t}.parquet")
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        expected = {}
        for q in wl["queries"]:
            df = con.execute(sql[q]).fetchdf()
            expected[q] = {"rows": len(df), "digest": run.frame_digest(df)}
            run.log(f"{name} {q}: {len(df)} rows")
        os.makedirs(os.path.join(run.HERE, "expected"), exist_ok=True)
        with open(os.path.join(run.HERE, "expected", f"{name}.json"), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
