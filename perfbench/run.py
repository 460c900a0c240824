#!/usr/bin/env python3
"""graft benchmark: one workload per run, end-to-end or traced.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the harness from source (perfbench/build.py), generates the
run's inputs from the seed (perfbench/gen.py), runs the harness JVM on
local[nproc], checks the outputs and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list (a
layer the workload does not exercise reads 0). Exits 1 when an output is
wrong, 2 when the run could not be made.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

DATA_DIR = os.path.join(build.BUILD_DIR, "data")
RESULTS_DIR = os.path.join(build.BUILD_DIR, "results")
CPUS = len(os.sched_getaffinity(0))
JVM_BUDGET_S = 170

# Build-phase-heavy rows: the eager jobs (collect, localCheckpoint) that
# run while SparkEntry.queries builds the DataFrame dominate their time.
TRAIN = ["text_wordpiece_apply", "ann_hybrid_rrf_eval"]
TRAIN_WARM_PASSES = 3

REPLAY_EVENTS_PER_LOG = 10000
REPLAY_BATCHES = 16


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def cached(path, make):
    """Run make(path) once per path; a finished output carries a marker."""
    if not os.path.exists(path + ".ok"):
        shutil.rmtree(path, ignore_errors=True)
        make(path)
        open(path + ".ok", "w").close()
    return path


def replay_inputs(seed):
    n_logs = CPUS

    def make(path):
        exp = gen.sse_logs(os.path.join(path, "logs"), seed, n_logs,
                           n_logs * REPLAY_EVENTS_PER_LOG)
        with open(os.path.join(path, "expected.json"), "w") as f:
            json.dump({f"{k[0]}\t{k[1]}": v for k, v in exp.items()}, f)

    path = cached(os.path.join(DATA_DIR, f"replay-{seed}-{n_logs}x{REPLAY_EVENTS_PER_LOG}"),
                  make)
    return {"logs": os.path.join(path, "logs"), "events": str(n_logs * REPLAY_EVENTS_PER_LOG),
            "max-events": str(REPLAY_EVENTS_PER_LOG // REPLAY_BATCHES)}, path


def batch_inputs():
    return cached(os.path.join(DATA_DIR, f"batch-sf{gen.BATCH_SF}-{gen.DATA_SEED}"),
                  gen.batch_tables)


def run_jvm(classpath, args, work, timeout):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             env=dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
                                      SPARK_LOCAL_DIRS=os.path.join(work, "tmp")),
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc


def harness(classpath, args, work, t_start):
    """Run one harness JVM in `work` and return its result.json."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    rc = run_jvm(classpath, args, work, JVM_BUDGET_S - (time.time() - t_start))
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(result_path) as f:
        return json.load(f)


def check_batch(work, queries):
    """Fingerprint every check-pass output against expected.json."""
    import fingerprint
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    con = fingerprint.connect()
    bad = []
    for q in queries:
        d = os.path.join(work, "check", q)
        got = fingerprint.of_parquet(con, d) if os.path.isdir(d) else None
        if got != expected.get(q):
            bad.append(f"{q}: got {got}, expected {expected.get(q)}")
    return bad


def check_replay(work, path, replays):
    """Each replay's sink must equal the windowed counts computed from the
    generated events; returns the number of events missing, duplicated or
    miscounted."""
    with open(os.path.join(path, "expected.json")) as f:
        exp = {k: tuple(v) for k, v in json.load(f).items()}
    errors = 0
    for k in range(1, replays + 1):
        got = {}
        with open(os.path.join(work, f"replay-{k}.tsv")) as f:
            for line in f:
                w, t, n, s = line.rstrip("\n").split("\t")
                got[f"{w}\t{t}"] = (int(n), float(s))
        for key in exp.keys() | got.keys():
            en, es = exp.get(key, (0, 0))
            gn, gs = got.get(key, (0, 0.0))
            errors += abs(en - gn) if en != gn else int(es != gs)
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        classpath = build.build()
    except (OSError, RuntimeError, ValueError) as e:
        fail(f"cannot build: {e}")
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names}")

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build.BUILD_DIR, "runs", f"{run_id}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cpus": CPUS, "work": work}
    if a.workload == "train_pipeline":
        args.update({"data": batch_inputs(), "queries": ",".join(TRAIN),
                     "warm-passes": TRAIN_WARM_PASSES})
    else:
        opts, replay_path = replay_inputs(a.seed)
        args.update(opts)

    # setup_s is the median (so the mean) of two cold set-ups: that of a
    # set-up-only JVM and the measured run's own
    setup = os.path.join(work, "setup")
    cold = harness(classpath, dict(args, work=setup, **{"setup-only": 1}), setup, t_start)
    res = harness(classpath, args, work, t_start)
    setups = [cold["e2e"]["setup_s"], res["e2e"]["setup_s"]]
    res["e2e"]["setup_s"] = statistics.median(setups)
    res["setup_runs_s"] = setups

    failed, notes = res["failed"], list(res["notes"])
    if a.workload == "train_pipeline":
        bad = check_batch(work, TRAIN)
        failed += len(bad)
        notes += bad
    else:
        n = check_replay(work, replay_path, res.get("replays", 0))
        failed += n
        if n:
            notes.append(f"replay sink differs from the generated logs by {n} events")

    section = "per_layer" if a.trace else "end_to_end"
    source = res["layer"] if a.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[section]}
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in res["e2e"]]
    correct = failed == 0 and not missing
    for n in notes + [f"missing metric {m}" for m in missing]:
        sys.stderr.write(f"perfbench: {n}\n")

    os.makedirs(RESULTS_DIR, exist_ok=True)
    with open(os.path.join(RESULTS_DIR, f"{run_id}.json"), "w") as f:
        json.dump(dict(res, failed=failed, notes=notes), f)
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(RESULTS_DIR, f"{run_id}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
