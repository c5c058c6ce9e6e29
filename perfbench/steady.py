#!/usr/bin/env python3
"""Steadiness check: run one workload N times with different seeds and
report each end-to-end metric's spread against BENCHMARK.json's bound.

Spread is (Q3 - Q1) / median over the runs, with the quartiles of
`statistics.quantiles(values, n=4)`. A metric is steady when its spread
is below a third of its bound (setup_s is reported, not judged).

Usage (from the repository root):
  python3 perfbench/steady.py --workload triple --runs 10 [--first-seed 1]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    cmd = bench["command"]
    runs = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.monotonic()
        p = subprocess.run(cmd + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(a.trace)],
                           capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        wall = time.monotonic() - t0
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        steal = json.loads(lines[-2])["stamps"]["cpu_steal_share"]
        runs.append({"seed": seed, "wall_s": wall, "cpu_steal_share": steal, **res})
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} wall={wall:.0f}s steal={steal:.3f} {vals}", flush=True)
    report = {"workload": a.workload, "runs": runs, "metrics": {}}
    print(f"\n{'metric':28} {'median':>12} {'spread':>8} {'bound':>6}  verdict")
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        if bound is None or name == "setup_s":
            verdict = "reported"
        else:
            verdict = "steady" if spread < bound / 3 else (
                "within bound" if spread <= bound else "TOO NOISY")
        report["metrics"][name] = {"median": med, "spread": spread, "bound": bound,
                                   "verdict": verdict}
        print(f"{name:28} {med:12.4f} {spread:8.4f} {bound if bound else '-':>6}  {verdict}")
    ok = all(r["correct"] for r in runs)
    print(f"\nall runs correct: {ok}")
    out = Path(".bench_build") / f"steady-{a.workload}-t{a.trace}.json"
    out.write_text(json.dumps(report, indent=1))
    print(f"report: {out}")


if __name__ == "__main__":
    main()
