#!/usr/bin/env python3
"""Steadiness mode: repeat one workload over several seeds and report,
per metric, the median, the quartiles and their spread against the
metric's regression bound.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
                                [--trace 0] [--json out.json]

Each run measures for BENCHMARK.json's run_seconds, as the gated runs
do. The spread is (Q3 - Q1) / median, with the quartiles taken as
statistics.quantiles(values, n=4) gives them. A metric is flagged when
its spread exceeds a tenth, or a third of its bound in BENCHMARK.json.
Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    walls = next((l.strip() for l in lines if l.strip().startswith("pass walls")), "")
    return json.loads(lines[-1]), walls


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", default=None, help="also write the raw values here")
    a = ap.parse_args()
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values, units, incorrect = {}, {}, 0
    for i in range(a.runs):
        seed = a.first_seed + i
        out, walls = run_once(a.workload, seed, seconds, a.trace)
        incorrect += not out["correct"]
        for k, m in out["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
        print(f"seed {seed}: correct={out['correct']} failed={out['failed']}/{out['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in out["metrics"].items())
              + f"\n    {walls}", flush=True)

    print(f"\n{a.workload}: {a.runs} runs, {incorrect} incorrect")
    print(f"{'metric':28s} {'median':>10s} {'Q1':>10s} {'Q3':>10s} {'spread':>7s} {'bound':>6s}  flag")
    flagged = 0
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(k)
        limit = min(0.1, bound / 3) if bound else 0.1
        flag = spread > limit
        flagged += flag
        print(f"{k:28s} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} "
              f"{bound if bound is not None else '-':>6}  {'UNSTEADY' if flag else ''} {units[k]}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "values": values,
                       "units": units}, f, indent=1)
    return 1 if flagged or incorrect else 0


if __name__ == "__main__":
    sys.exit(main())
