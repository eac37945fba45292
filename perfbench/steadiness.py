#!/usr/bin/env python3
"""Measure how steady the end-to-end metrics are, and record it.

    python3 perfbench/steadiness.py

Runs every workload ten times, with seeds 101-110, for the BENCHMARK.json
run length, and writes to `perfbench/steadiness.json` per metric the ten
values, their median, their quartiles (`statistics.quantiles(values, n=4)`)
and the spread (Q3 - Q1) / median, which is what each metric's bound is
held against. Run from the repository root.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
FIRST_SEED = 101
OUT = os.path.join(HERE, "steadiness.json")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    report = {"runs": RUNS, "run_seconds": bench["run_seconds"], "cores": len(os.sched_getaffinity(0)),
              "workloads": {}}
    for w in bench["workloads"]:
        values, walls = {}, []
        for seed in range(FIRST_SEED, FIRST_SEED + RUNS):
            t = time.time()
            done = subprocess.run(
                bench["command"] + ["--workload", w["name"], "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t)
            res = json.loads(done.stdout.strip().splitlines()[-1])
            if done.returncode or not res["correct"]:
                sys.exit(f"{w['name']} seed {seed} failed:\n{done.stderr[-2000:]}")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(w["name"], seed, f"{walls[-1]:.1f} s",
                  {k: round(m["value"], 4) for k, m in res["metrics"].items()}, flush=True)
        summary = {}
        for k, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            summary[k] = {"median": statistics.median(v), "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / statistics.median(v), "values": v}
        summary["run_wall_s"] = {"median": statistics.median(walls), "max": max(walls)}
        report["workloads"][w["name"]] = summary
    with open(OUT, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    for name, summary in report["workloads"].items():
        for k, s in summary.items():
            if "spread" in s:
                print(f"{name} {k}: median {s['median']:.4g}, spread {s['spread']:.3f}")


if __name__ == "__main__":
    main()
