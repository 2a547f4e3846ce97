#!/usr/bin/env python3
"""Run each workload on several seeds and record the spread of every metric.

Usage, from the root of the repository:

    python3 perfbench/steadiness.py --runs 10 --out perfbench/baseline/steadiness.json

For each workload in BENCHMARK.json, runs `perfbench/run.py` once per seed
1..runs (untraced, for BENCHMARK.json's run_seconds), then
reports per metric the ten values, their median, quartiles (Python's
statistics.quantiles(values, n=4)) and the interquartile range as a share
of the median: the figure BENCHMARK.json's bounds are checked against.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    t = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    env = next((ln for ln in lines if ln.startswith("# perfbench")), "")
    return env, json.loads(lines[-1]), time.monotonic() - t


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    report = {"runs": a.runs, "seconds": seconds, "workloads": {}}
    for w in (w["name"] for w in bench["workloads"]):
        values, envs, audits = {}, set(), []
        for seed in range(1, a.runs + 1):
            env, r, elapsed = run(w, seed, seconds)
            envs.add(" ".join(t for t in env.split() if not t.startswith("seed=")))
            audits.append({"seed": seed, "correct": r["correct"], "attempted": r["attempted"],
                           "failed": r["failed"], "elapsed_s": round(elapsed, 1)})
            for k, m in r["metrics"].items():
                values.setdefault(k, {"unit": m["unit"], "values": []})["values"].append(m["value"])
            print(f"{w} seed {seed}: correct={r['correct']} failed={r['failed']} " +
                  " ".join(f"{k}={m['value']:.4g}" for k, m in r["metrics"].items()), flush=True)
        for k, m in values.items():
            q1, med, q3 = statistics.quantiles(m["values"], n=4)
            m.update(median=statistics.median(m["values"]), q1=q1, q3=q3,
                     iqr_share=(q3 - q1) / statistics.median(m["values"]))
            print(f"  {k:16s} median {m['median']:12.5g} iqr/median {m['iqr_share']:.3f}", flush=True)
        report["workloads"][w] = {"env": sorted(envs), "runs": audits, "metrics": values}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
