#!/usr/bin/env python3
"""Summarise a traced run: self time per layer, and the tracing overhead.

Usage: python3 perfbench/summarise.py --workload W --seed N

Reads .bench_build/results/<W>-s<N>-t1.spans.jsonl (written by a
`run.py --trace 1` run). Wall time is split among spans by a sweep: at each
instant it belongs to the deepest span then active (the latest started one
among equals), so a span's share is its duration minus the part its
children cover, and parallel Spark stages are not counted twice. Layers
are the spans' `layer` field (harness, operators, exec, sse, stream,
state). The overhead is the traced run's end-to-end figures minus those of
the untraced run with the same workload and seed (`run.py --trace 0`), when
that run exists.
"""
import argparse
import collections
import json
import os

import build

RESULTS = os.path.join(build.BUILD_DIR, "results")


def split(root, kids):
    """{layer: ms} of the wall time under `root`."""
    depth, spans, todo = {root["id"]: 0}, [], [root]
    while todo:
        s = todo.pop()
        spans.append(s)
        for c in kids[s["id"]]:
            depth[c["id"]] = depth[s["id"]] + 1
            todo.append(c)
    lo, hi = root["start"], root["end"]
    cuts = sorted({min(max(t, lo), hi) for s in spans for t in (s["start"], s["end"])})
    acc = collections.Counter()
    for a, b in zip(cuts, cuts[1:]):
        live = [s for s in spans if s["start"] <= a and s["end"] >= b]
        if live:
            top = max(live, key=lambda s: (depth[s["id"]], s["start"]))
            acc[top["layer"]] += b - a
    return acc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    base = os.path.join(RESULTS, f"{a.workload}-s{a.seed}")
    with open(base + "-t1.spans.jsonl") as f:
        spans = [json.loads(line) for line in f]
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    tops = sorted((s for s in spans if s["name"].startswith(("pass:", "stream:"))),
                  key=lambda s: s["start"])
    total = collections.Counter()
    for s in tops:
        acc = split(s, kids)
        total.update(acc)
        dur = s["end"] - s["start"]
        print(f"{s['name']}: {dur / 1000:.3f} s = " +
              ", ".join(f"{k} {v / dur:.1%}" for k, v in acc.most_common()))
    print(f"self time per layer, {a.workload} seed {a.seed}, timed phase:")
    for layer, ms in total.most_common():
        print(f"  {layer:10s} {ms / 1000:9.3f} s")
    per_query = collections.defaultdict(collections.Counter)
    for s in spans:
        if s["name"].startswith("query:"):
            per_query[s["name"][6:]].update(split(s, kids))
    for q, acc in sorted(per_query.items(), key=lambda kv: -sum(kv[1].values())):
        print(f"  {q:28s} " + "  ".join(f"{k} {v / 1000:7.3f}s" for k, v in sorted(acc.items())))

    untraced, traced = base + "-t0.json", base + "-t1.json"
    if os.path.exists(untraced) and os.path.exists(traced):
        with open(untraced) as f:
            u = json.load(f)["e2e"]
        with open(traced) as f:
            t = json.load(f)["e2e"]
        print("tracing overhead (traced - untraced):")
        for k in u:
            if k in t and u[k]:
                print(f"  {k:18s} {t[k] - u[k]:+10.4f}  ({(t[k] - u[k]) / u[k]:+.1%})")
    else:
        print(f"no untraced run of {a.workload} seed {a.seed}: run with --trace 0 for the overhead")


if __name__ == "__main__":
    main()
