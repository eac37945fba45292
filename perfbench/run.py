#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run in a checkout compiles the
program and the harness (`build.py`) and pre-builds the model registry
from the committed fixture (`fixture/`); later runs reuse both. Each run
then makes its request inputs from `--seed`, starts one JVM that sets up
and measures the workload for `--seconds` (`perfbench.Main`), checks every
result, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics (see README.md). `--plant` swaps in wrong expected results (the
oracle's result a row short, a zero digest) to show that the checks fail
the run.
"""
import argparse
import fcntl
import glob
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import inputs  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170          # a run must exit within 180 s
HEAP = "4g"

ANALYZE = ["q_count", "q_ratio", "q_cond_means", "q_groupby_avg",
           "q_histogram", "q_scan_project", "q_filter_eq", "q_topk"]
PIPELINE = ["q_kcore", "q_stream_dedup", "q_bpe_encode", "q_ann_lsh"]
PREDICT_POOL = 2            # distinct single customers per run, all checked in warm-up
PREDICTS_PER_ROUND = 2
UPLOAD_ROWS = 30_000        # customers in the bulk-upload batch
ROUNDS = 64                 # rounds generated per run; the JVM cycles through them
MIN_ROUNDS = 3

# (scale of the shared fixture, fit-or-load registries the ops read)
WORKLOADS = {
    "dashboard": (0.1, []),
    "pipeline": (0.01, ["bpe"]),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fixture_dir(sf):
    """The committed copy of the harness tables at scale `sf`."""
    return os.path.join(HERE, "fixture", f"sf{sf}")


def fixture_stamps():
    """{fixture dir: hash of its tables}, for every fixture a workload reads."""
    dirs = sorted({fixture_dir(sf) for sf, _ in WORKLOADS.values()})
    return {d: build.stamp(sorted(glob.glob(os.path.join(d, "*.parquet")))) for d in dirs}


def prepare(stamps):
    """Build and model registry, once per checkout (under a lock)."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classes = build.ensure(ROOT, os.path.join(BUILD, "classes"), log)
        # The declared registry state: every artifact the workloads read is
        # fitted here, once, and every measured run loads it from disk.
        reg_stamp = build.stamp([os.path.join(classes, "STAMP")]) + \
            json.dumps([stamps, WORKLOADS], sort_keys=True)
        cwd = os.path.join(BUILD, "cwd")
        if check.read_text(os.path.join(cwd, "REGISTRY_STAMP")) != reg_stamp:
            log("pre-building the model registry")
            shutil.rmtree(cwd, ignore_errors=True)
            os.makedirs(cwd)
            for name, (sf, artifacts) in WORKLOADS.items():
                if artifacts:
                    plan = {"warmup": [], "rounds": [[]], "seconds": 0, "min_rounds": 0,
                            "trace": False, "artifacts": artifacts, "fixture": fixture_dir(sf)}
                    work = os.path.join(BUILD, "runs", f"registry-{name}")
                    res = run_jvm(classes, cwd, plan, work, f"registry-{name}", time.time() + 600)
                    shutil.rmtree(work, ignore_errors=True)
                    if res is None:
                        sys.exit(f"registry pre-build for {name} failed")
            _write(os.path.join(cwd, "REGISTRY_STAMP"), reg_stamp)
        return classes, cwd


def _write(path, text):
    with open(path, "w") as f:
        f.write(text)


def make_plan(workload, seed, seconds, trace, work):
    """The seeded request stream: warm-up requests and timed rounds."""
    sf, artifacts = WORKLOADS[workload]
    fx = fixture_dir(sf)
    rng = random.Random(seed)
    plan = {"fixture": fx, "artifacts": artifacts}

    def req(op, cls, d=fx):
        return {"op": op, "cls": cls, "dir": d}

    if workload == "dashboard":
        pool = []
        for i in range(PREDICT_POOL):
            d = os.path.join(work, "customers", f"c{i}")
            inputs.write_customers(os.path.join(d, "customer.parquet"), 1, seed, i + 1)
            pool.append(d)
        upload = os.path.join(work, "upload")
        inputs.write_customers(os.path.join(upload, "customer.parquet"), UPLOAD_ROWS, seed, 0)
        plan["probe_dir"] = upload
        first = [req(op, "analyze") for op in ANALYZE] + \
            [req("q_score_exact", "predict1", d) for d in pool] + \
            [req("q_score_exact", "upload", upload)]

        def one_round():
            rnd = [req(op, "analyze") for op in ANALYZE] + \
                [req("q_score_exact", "predict1", d) for d in rng.sample(pool, PREDICTS_PER_ROUND)] + \
                [req("q_score_exact", "upload", upload)]
            rng.shuffle(rnd)
            return rnd
    else:
        first = [req(op, "pipeline") for op in PIPELINE]

        def one_round():
            rnd = first[:]
            rng.shuffle(rnd)
            return rnd
    # Warm-up: every op once (first touch: staging, artifact loads, class
    # loading, codegen, and the oracle dumps). The first timed
    # round still runs 20-30% slower while the JIT catches up, so the
    # timed region has at least MIN_ROUNDS rounds and per-op medians.
    plan["warmup"] = first
    plan["min_rounds"] = MIN_ROUNDS
    rounds = [one_round() for _ in range(ROUNDS)]
    plan.update(rounds=rounds, seconds=seconds, trace=bool(trace))
    return plan


def run_jvm(classes, cwd, plan, work, name, deadline):
    """Run perfbench.Main on `plan` in `work`; return its output dict, or None on failure."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    plan.update(cores=build.cores(), local_dir=tmp,
                results_dir=os.path.join(work, "results"),
                out=os.path.join(work, "out.json"),
                spans=os.path.join(BUILD, "traces", f"{name}.json"))
    os.makedirs(os.path.dirname(plan["spans"]), exist_ok=True)
    plan_path = os.path.join(work, "plan.json")
    _write(plan_path, json.dumps(plan))
    cmd = build.java_command(classes, HEAP, tmp) + ["perfbench.Main", plan_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"{name}: JVM exceeded the time limit")
            return None
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        log(f"{name}: JVM exited {code}; log tail:\n{tail}")
        return None
    with open(plan["out"]) as f:
        return json.load(f)


def percentile_report(values):
    """Median and the highest whole percentile with >= 10 samples beyond it."""
    n = len(values)
    s = sorted(values)
    out = f"n={n} p50={statistics.median(s):.1f}"
    if n >= 20:
        q = int(100 * (1 - 10 / n))
        out += f" p{q}={s[min(n - 1, int(n * q / 100))]:.1f}"
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", action="store_true",
                    help="expect wrong results (a row short, a zero digest): the checks must fail")
    a = ap.parse_args()
    t_start = time.time()
    stamps = fixture_stamps()
    classes, cwd = prepare(stamps)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        plan = make_plan(a.workload, a.seed, a.seconds, a.trace, work)
        deadline = time.time() + RUN_LIMIT_S - 25  # leave time for the checks
        out = run_jvm(classes, cwd, plan, work, name, deadline)
        if out is None:
            sys.exit(3)
        log(f"JVM done at {time.time() - t_start:.1f} s")
        expected = check.load_expected(os.path.join(HERE, "expected.json"), a.workload)
        failures = check.verify(out, expected, os.path.join(BUILD, "oracle"), stamps,
                                os.path.join(work, "duckdb"), plant=a.plant, log=log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # every request is checked, warm-up included (it holds the first
    # results the oracle comparison sees); run-level problems sit under -1
    attempted = len(out["records"])
    failed = len(failures - {-1})
    correct = not failures
    if a.trace:
        metrics = check.layer_metrics(out, plan)
    else:
        metrics = check.end_to_end_metrics(out, plan)
    by_cls = {}
    for r in out["records"]:
        if r["timed"]:
            by_cls.setdefault(r["cls"], []).append(r["total_ms"])
    for cls, v in sorted(by_cls.items()):
        print(f"{cls} latency ms: {percentile_report(v)}")
    rows = {}
    for r in out["records"]:
        rows.setdefault(f"{r['op']} ({r['cls']})", set()).add(r["rows"])
    print("result rows: " + ", ".join(f"{k} {'/'.join(map(str, sorted(v)))}"
                                      for k, v in sorted(rows.items())))
    if by_cls.get("upload"):
        print(f"upload rows/s: {UPLOAD_ROWS / (statistics.median(by_cls['upload']) / 1000):.0f} "
              f"({UPLOAD_ROWS} rows per batch)")
    print(f"setup: session {out['session_s']:.1f} s, artifacts {out['artifacts_build_ms']:.0f} ms, "
          f"warm-up {out['warmup_s']:.1f} s ({out['staged_in_setup']} inputs staged; "
          f"its output checks, {out['warmup_check_s']:.1f} s, are not in setup_s)")
    print(f"rss_peak_mb = {out['rss_peak_mb']:.0f} MB")
    print(f"fail_ratio = {failed}/{attempted}")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    log(f"wall {time.time() - t_start:.1f} s")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
