#!/usr/bin/env python3
"""Steadiness check: repeat each workload with distinct seeds and print,
per workload and end-to-end metric, the median, the quartiles and the
spread (interquartile distance over the median) against the metric's
bound in BENCHMARK.json. Also prints the failed share per workload.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workloads kg_serve,...]

With --trace-twice SEED it instead runs two traced runs of every
workload with that seed and prints every per-op-type count (`jobs`,
`shuffle_kb`) that differs between them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    sentinel = next((json.loads(line[21:]) for line in lines
                     if line.startswith("[perfbench] sentinel ")), {})
    print(f"  {workload} seed {seed}: "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
          + f" | steal {sentinel.get('steal_pct')}% calib {sentinel.get('calibration_s', 0):.3f}s"
          f" load {sentinel.get('load_start')}->{sentinel.get('load_end')}", flush=True)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace-twice", type=int, default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]

    if a.trace_twice is not None:
        differ = 0
        for w in workloads:
            r1, r2 = (run(w, a.trace_twice, seconds, 1)["metrics"] for _ in range(2))
            for name in sorted(r1):
                if name.endswith((".jobs", ".shuffle_kb")) and r1[name]["value"] != r2[name]["value"]:
                    differ += 1
                    print(f"{w} {name}: {r1[name]['value']} vs {r2[name]['value']}")
        print(f"counts that differ between two traced runs: {differ}")
        sys.exit(1 if differ else 0)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in workloads:
        res = [run(w, a.first_seed + i, seconds, 0) for i in range(a.runs)]
        shares = sorted({r["failed"] / r["attempted"] for r in res})
        print(f"{w}: correct {all(r['correct'] for r in res)}, failed share {shares}")
        for name, bound in bounds.items():
            xs = [r["metrics"][name]["value"] for r in res]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < bound / 3 else ("within bound" if spread <= bound else "OVER BOUND")
            print(f"  {name:14s} median {med:10.3f}  q1 {q1:10.3f}  q3 {q3:10.3f}  "
                  f"spread {spread:6.3f}  bound {bound:.2f}  {flag}", flush=True)


if __name__ == "__main__":
    main()
