#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage: python3 perfbench/spread.py [--runs 10] [--first-seed 1] [workload ...]

Runs the benchmark once per seed for each workload (untraced, one after
another), then prints each metric's median and its spread: the distance
between the first and third quartiles (`statistics.quantiles(n=4)`) as a
share of the median, next to the metric's bound from BENCHMARK.json. A
steady benchmark keeps every spread but setup_s below a third of its bound.
Raw results go to perfbench/out/spread-<workload>.jsonl.
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    for w in workloads:
        log = os.path.join(HERE, "out", f"spread-{w}.jsonl")
        rows = []
        with open(log, "w") as fh:
            for seed in range(a.first_seed, a.first_seed + a.runs):
                t0 = time.time()
                r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                    "--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                                   cwd=ROOT, capture_output=True, text=True)
                if r.returncode != 0:
                    print(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
                    continue
                res = json.loads(r.stdout.strip().splitlines()[-1])
                res["seed"] = seed
                res["wall_s"] = time.time() - t0
                fh.write(json.dumps(res) + "\n")
                fh.flush()
                rows.append(res)
                print(f"{w} seed {seed}: wall={res['wall_s']:.0f}s correct={res['correct']} " + " ".join(
                    f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        if len(rows) < 2:
            continue
        print(f"\n{w}: {len(rows)} runs, all correct: {all(r['correct'] for r in rows)}, "
              f"median wall {statistics.median(r['wall_s'] for r in rows):.0f}s")
        for k, bound in bounds.items():
            vals = [r["metrics"][k]["value"] for r in rows if k in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < bound / 3 else ("WITHIN BOUND" if spread <= bound else "TOO WIDE")
            print(f"  {k:18s} median={med:10.4f} spread={spread:6.3f} bound={bound} {flag}")


if __name__ == "__main__":
    main()
