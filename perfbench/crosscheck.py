#!/usr/bin/env python3
"""Cross-check train_pipeline against graft's DuckDB oracle and record
the expected fingerprints in expected.json.

Runs the harness's untimed check pass of train_pipeline, fingerprints
each query's Spark output and the result of SparkEntry.oracleSql for that
query in DuckDB over the same generated tables, and writes expected.json
only when every pair agrees. Run after changing the generator or the query
list:  python3 perfbench/crosscheck.py
"""
import json
import os
import shutil
import subprocess
import sys

import build
import fingerprint
import run


def main():
    classpath = build.build()
    data = run.batch_inputs()
    queries = ",".join(run.TRAIN)
    oracle = json.loads(subprocess.run(
        ["java", "-cp", classpath, "graftbench.OracleSql", queries],
        check=True, stdout=subprocess.PIPE, text=True).stdout.strip().splitlines()[-1])
    con = fingerprint.connect(data)
    expected, bad = {}, []
    work = os.path.join(build.BUILD_DIR, "runs", "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rc = run.run_jvm(classpath, {"workload": "train_pipeline", "seed": 0, "seconds": 0,
                                 "trace": 0, "cpus": run.CPUS, "work": work,
                                 "data": data, "queries": queries, "warm-passes": 0}, work, 600)
    if rc != 0:
        sys.exit(f"harness exited with {rc}; see {work}/jvm.log")
    for q in run.TRAIN:
        spark = fingerprint.of_parquet(con, os.path.join(work, "check", q))
        duck = fingerprint.of_sql(con, oracle[q])
        print(f"{q}: spark {spark} duckdb {duck}")
        if spark != duck:
            bad.append(q)
        elif spark["rows"] == 0:
            bad.append(f"{q} (empty result)")
        expected[q] = spark
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit(f"disagree with the oracle: {bad}")
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    print(f"expected.json: {len(expected)} queries agree with the DuckDB oracle")


if __name__ == "__main__":
    main()
