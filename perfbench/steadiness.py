#!/usr/bin/env python3
"""Run every workload of BENCHMARK.json on several seeds, one run at a
time, and report each end-to-end metric's median, quartiles and spread
(interquartile distance as a share of the median) beside its bound,
and the mean duration of one run with what the whole set of
4 + 22 x (workloads) runs would take at that pace.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1] [--workloads a b]

Run from the repository root. Prints a Markdown table and writes the raw
values, each run's detail line and its duration as JSON to
``.perfbench/steadiness.json``."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, dict[str, list[float]]] = {}
    durations: list[float] = []
    details: dict[str, list[dict]] = {}
    for w in workloads:
        values[w] = {m: [] for m in bounds}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [*bench["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            durations.append(time.perf_counter() - t0)
            result = json.loads(out.stdout.strip().splitlines()[-1])
            details.setdefault(w, []).append(json.loads(
                [line for line in out.stderr.splitlines() if line.startswith('{"workload"')][-1]))
            if not result["correct"]:
                failed = [line for line in out.stderr.splitlines() if line.startswith("FAILED")]
                print(f"{w} seed {seed}: incorrect output: {failed}", file=sys.stderr)
            for m in bounds:
                values[w][m].append(result["metrics"][m]["value"])
            print(f"{w} seed {seed} ({durations[-1]:.1f} s): " + ", ".join(f"{m}={v[-1]:.4g}" for m, v in values[w].items()),
                  file=sys.stderr, flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "steadiness.json"), "w") as f:
        json.dump({"values": values, "details": details, "run_s": durations}, f, indent=1)
    print("| workload | metric | median | Q1 | Q3 | spread | bound |")
    print("| --- | --- | --- | --- | --- | --- | --- |")
    for w, per_metric in values.items():
        for m, xs in per_metric.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"| {w} | {m} | {med:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} | {bounds[m]} |")
    pace = statistics.mean(durations)
    print(f"\nmean run {pace:.1f} s; {4 + 22 * len(bench['workloads'])} runs at that pace: "
          f"{pace * (4 + 22 * len(bench['workloads'])):.0f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
