#!/usr/bin/env python3
"""Benchmark test: no timed batch query may be a cache hit.

Runs the train_pipeline queries in a fresh harness JVM (the untimed first
pass, then at least three timed passes) and fails when any query's later
pass takes under a tenth of its first-pass time, the signature of a result
reused from an earlier execution. As a positive control it runs the rows the
workload leaves out because they read graft's cross-query cluster-label
cache (EXCLUDED) and expects the test to flag at least one of them, which
shows the check can see a cache hit.

Usage: python3 perfbench/test_cache_hits.py
"""
import json
import os
import shutil
import sys

import build
import run

EXCLUDED = ["dedup_clusters", "dedup_apply", "dedup_cluster_stats", "docs_softdedup_neardup"]
RATIO = 0.1


def later_pass_ratios(queries):
    classpath = build.build()
    work = os.path.join(build.BUILD_DIR, "runs", "cachetest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rc = run.run_jvm(classpath, {"workload": "train_pipeline", "seed": 1, "seconds": 0, "trace": 0,
                                 "cpus": run.CPUS, "work": work, "data": run.batch_inputs(),
                                 "queries": ",".join(queries), "warm-passes": 0},
                work, 900)
    if rc != 0:
        sys.exit(f"harness exited with {rc}; see {work}/jvm.log")
    with open(os.path.join(work, "result.json")) as f:
        times = json.load(f)["query_times_s"]
    shutil.rmtree(work, ignore_errors=True)
    return {q: min(t[1:]) / t[0] for q, t in times.items()}


def main():
    failures = []
    for q, r in sorted(later_pass_ratios(run.TRAIN).items()):
        flag = "CACHE HIT" if r < RATIO else "ok"
        print(f"{'train_pipeline':16s} {q:28s} later/first = {r:6.3f}  {flag}")
        if r < RATIO:
            failures.append(q)
    control = later_pass_ratios(EXCLUDED)
    for q, r in sorted(control.items()):
        print(f"{'control':16s} {q:28s} later/first = {r:6.3f}")
    if min(control.values()) >= RATIO:
        failures.append("control: no excluded row was flagged")
    if failures:
        sys.exit(f"FAIL: {failures}")
    print("PASS")


if __name__ == "__main__":
    main()
