"""Output checks and metric reduction for one benchmark run.

`verify` checks every request of a run (warm-up included):
  - the request raised no error;
  - every op: each result's canonical digest equals that of the op's first
    result on the same input (the warm-up's, which the checks below see);
  - oracled ops: the first results on all inputs together equal the DuckDB
    oracle (`SparkEntry.oracleSql`) run on the union of those inputs (one
    oracle run per op: the scoring oracle is row-wise), compared as the
    repository's oracle check compares them (same columns, same row count,
    equal values, equal float sign bits), as row multisets;
  - no-oracle ops: that first digest equals the one recorded in
    `expected.json`.
`end_to_end_metrics` and `layer_metrics` reduce the JVM's records to the
metrics named in BENCHMARK.json.
"""
import collections
import hashlib
import json
import os
import statistics

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duckdb(tmp):
    """An in-memory DuckDB that spills, if ever, under `tmp`."""
    os.makedirs(tmp, exist_ok=True)
    return duckdb.connect(config={"temp_directory": tmp})


def load_expected(path, workload):
    with open(path) as f:
        return json.load(f).get(workload, {})


def _sorted_frame(df):
    df = df[sorted(df.columns)]
    try:
        return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    except TypeError:  # unorderable cells (lists): keep the engine's ORDER BY
        return df.reset_index(drop=True)


def compare_frames(odf, sdf):
    """Differences between oracle and engine frames, [] when equal."""
    odf, sdf = _sorted_frame(odf), _sorted_frame(sdf)
    if list(odf.columns) != list(sdf.columns):
        return [f"columns oracle={list(odf.columns)} engine={list(sdf.columns)}"]
    if len(odf) != len(sdf):
        return [f"rows oracle={len(odf)} engine={len(sdf)}"]
    diffs = []
    for c in odf.columns:
        a, b = odf[c], sdf[c]
        if a.dtype != b.dtype:
            diffs.append(f"{c} dtype {a.dtype} vs {b.dtype}")
        if not a.equals(b.astype(a.dtype, errors="ignore") if a.dtype != b.dtype else b):
            bad = a.astype(str) != b.astype(str)
            if bad.any():
                i = bad.idxmax()
                diffs.append(f"{c} differs at row {i}: oracle={a[i]!r} engine={b[i]!r}")
        if np.issubdtype(a.dtype, np.floating) and np.issubdtype(b.dtype, np.floating):
            sb = np.signbit(a.to_numpy()) != np.signbit(b.to_numpy())
            sb &= ~(pd.isna(a).to_numpy() & pd.isna(b).to_numpy())
            if sb.any():
                diffs.append(f"{c} sign bit differs at row {int(np.argmax(sb))}")
    return diffs


def oracle_frame(sql, dirs, stamps, cache_dir, tmp):
    """The oracle's result on `dirs`. Oracles over the committed fixture
    (the dirs in `stamps`, which maps each to a hash of its tables) are
    cached in `cache_dir`, since they depend only on the SQL and those
    tables (some take seconds in DuckDB)."""
    con = _duckdb(tmp)
    cached = None
    if all(d in stamps for d in dirs):
        key = hashlib.sha256("\0".join([sql] + [stamps[d] for d in dirs]).encode()).hexdigest()
        cached = os.path.join(cache_dir, f"{key}.parquet")
        if os.path.exists(cached):
            return con.execute(f"SELECT * FROM read_parquet('{cached}')").fetchdf()
    for t in TABLES:
        files = [f"{d}/{t}.parquet" for d in dirs]
        if all(os.path.exists(f) for f in files):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
    if cached is None:
        return con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{cached}.tmp' (FORMAT PARQUET)")
    os.replace(f"{cached}.tmp", cached)
    return con.execute(f"SELECT * FROM read_parquet('{cached}')").fetchdf()


def read_text(path):
    """The file's text, or None when it cannot be read."""
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def verify(out, expected, oracle_cache, stamps, tmp, plant=False, log=print):
    """Indices of failed records, plus run-level problems under key -1."""
    recs = out["records"]
    failed = set()
    first = {}
    for i, r in enumerate(recs):
        if r["error"]:
            log(f"{r['op']} ({r['cls']}) failed: {r['error']}")
            failed.add(i)
            continue
        key = (r["op"], r["dir"])
        if first.setdefault(key, r["digest"]) != r["digest"]:
            log(f"{r['op']} ({r['cls']}) gave a different result on a repetition")
            failed.add(i)
    bad_ops = set()
    for g in out["groups"]:
        if g["oracle_sql"]:
            odf = oracle_frame(g["oracle_sql"], g["dirs"], stamps, oracle_cache, tmp)
            if plant:
                odf = odf.iloc[1:] if len(odf) > 1 else odf.iloc[0:0]
            parts = [f"{p}/*.parquet" for p in g["paths"]]
            sdf = _duckdb(tmp).execute(f"SELECT * FROM read_parquet({parts!r})").fetchdf()
            diffs = compare_frames(odf, sdf)
            if diffs:
                log(f"{g['op']} differs from its oracle: {diffs[:3]}")
                bad_ops.add(g["op"])
        else:
            want = "0" * 64 if plant else expected.get(g["op"])
            got = {first.get((g["op"], d)) for d in g["dirs"]}
            if want is None or got != {want}:
                log(f"{g['op']} digest {sorted(got)} != recorded {want}")
                bad_ops.add(g["op"])
    failed |= {i for i, r in enumerate(recs) if r["op"] in bad_ops}
    staged = sorted({r["op"] for r in recs if r["timed"] and r["staged"]})
    if staged:
        log(f"staging writes ran inside timed requests of {staged}")
        failed.add(-1)
    if "jobs_seen" in out:
        unattributed = _unattributed_jobs(out)
        if unattributed or out["jobs_untagged"]:
            log(f"traced jobs not attributed to a phase: {unattributed} "
                f"(untagged {out['jobs_untagged']})")
            failed.add(-1)
    return failed


def _unattributed_jobs(out):
    phased = sum(r["layers"]["construct_jobs"] + r["layers"]["execute_jobs"]
                 for r in out["records"] if r["traced"])
    return out["jobs_seen"] - phased - out["jobs_check"]


def _mix(plan):
    return collections.Counter((r["op"], r["cls"]) for r in plan["rounds"][0])


def _per_key(records, value):
    by = collections.defaultdict(list)
    for r in records:
        by[(r["op"], r["cls"])].append(value(r))
    return by


def _pass_total(plan, by, stat):
    """One round's worth of `stat` over each (op, class) sample list."""
    return sum(n * stat(by[k]) for k, n in _mix(plan).items() if by.get(k))


def end_to_end_metrics(out, plan):
    timed = [r for r in out["records"] if r["timed"] and not r["traced"]]
    by = _per_key(timed, lambda r: r["total_ms"])
    return {
        "setup_s": {"value": out["setup_s"], "unit": "s"},
        "pass_s": {"value": _pass_total(plan, by, statistics.median) / 1000.0, "unit": "s"},
    }


# per-layer metric -> (record field, unit); values are per pass of the workload
LAYER_FIELDS = {
    "sources.scan_tasks": ("scan_tasks", "count/pass"),
    "sources.bytes_read": ("bytes_read", "B/pass"),
    "sources.records_read": ("records_read", "rows/pass"),
    "ops.construct_jobs": ("construct_jobs", "count/pass"),
    "plan.analysis_ms": ("analysis_ms", "ms/pass"),
    "plan.optimize_ms": ("optimize_ms", "ms/pass"),
    "plan.physical_ms": ("physical_ms", "ms/pass"),
    "codegen.compiles": ("codegen_compiles", "count/pass"),
    "codegen.compile_ms": ("codegen_ms", "ms/pass"),
    "sched.jobs": ("jobs", "count/pass"),
    "sched.stages": ("stages", "count/pass"),
    "sched.tasks": ("tasks", "count/pass"),
    "sched.task_delay_ms": ("task_delay_ms", "ms/pass"),
    "sched.driver_only_ms": ("driver_only_ms", "ms/pass"),
    "exec.run_ms": ("run_ms", "ms/pass"),
    "exec.cpu_ms": ("cpu_ms", "ms/pass"),
    "exec.gc_ms": ("gc_ms", "ms/pass"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "B/pass"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "B/pass"),
    "spill.disk_bytes": ("spill_disk_bytes", "B/pass"),
    "streaming.batches": ("stream_batches", "count/pass"),
    "streaming.batch_ms": ("stream_batch_ms", "ms/pass"),
    "streaming.commit_ms": ("stream_commit_ms", "ms/pass"),
    "streaming.state_rows": ("stream_state_rows", "rows/pass"),
}


def layer_metrics(out, plan):
    timed = [r for r in out["records"] if r["timed"]]
    traced = [r for r in timed if r["traced"]]
    m = {}
    for name, (field, unit) in LAYER_FIELDS.items():
        by = _per_key(traced, lambda r: r["layers"][field])
        m[name] = {"value": float(_pass_total(plan, by, statistics.mean)), "unit": unit}
    by_construct = _per_key(traced, lambda r: r["construct_ms"])
    by_execute = _per_key(traced, lambda r: r["execute_ms"])
    m["ops.construct_ms"] = {"value": _pass_total(plan, by_construct, statistics.mean), "unit": "ms/pass"}
    m["ops.execute_ms"] = {"value": _pass_total(plan, by_execute, statistics.mean), "unit": "ms/pass"}
    wall = sum(r["total_ms"] for r in traced)
    run_ms = sum(r["layers"]["run_ms"] for r in traced)
    m["exec.busy_frac"] = {"value": run_ms / (wall * plan["cores"]) if wall else 0.0, "unit": "ratio"}
    probes = out.get("probes", {})
    m["functions.xgb_margin_ms"] = {"value": probes.get("xgb_margin_ms", 0.0), "unit": "ms/pass"}
    m["scoring.preprocess_ms"] = {"value": probes.get("preprocess_ms", 0.0), "unit": "ms/pass"}
    m["memo.staged_in_timed"] = {"value": float(out["staged_in_timed"]), "unit": "count"}
    m["cache.peak_bytes"] = {"value": float(max((r["layers"]["cache_peak_bytes"] for r in traced),
                                                default=0)), "unit": "B"}
    m["artifacts.build_ms"] = {"value": out["artifacts_build_ms"], "unit": "ms"}
    m["trace.overhead_frac"] = {"value": _overhead(plan, timed), "unit": "ratio"}
    m["trace.unattributed_jobs"] = {"value": float(_unattributed_jobs(out)), "unit": "count"}
    return m


def _overhead(plan, timed):
    """Traced against bare wall time over one pass, from the ops timed both ways.

    Ops run traced on their 1st, 3rd, ... timed occurrence and bare on the
    others. The 1st occurrence is also the least warmed, so it is left out
    when enough later occurrences exist; otherwise the estimate includes it
    and reads high by the warm-up drift."""
    for first in (1, 0):
        recs = [r for r in timed if r["occurrence"] >= first]
        bare = _per_key([r for r in recs if not r["traced"]], lambda r: r["total_ms"])
        traced = _per_key([r for r in recs if r["traced"]], lambda r: r["total_ms"])
        both = {k: n for k, n in _mix(plan).items() if bare.get(k) and traced.get(k)}
        if both:
            t_bare = sum(n * statistics.median(bare[k]) for k, n in both.items())
            t_traced = sum(n * statistics.median(traced[k]) for k, n in both.items())
            return t_traced / t_bare - 1.0
    return 0.0
