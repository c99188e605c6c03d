#!/usr/bin/env python3
"""Steadiness check: two sets of N runs of one workload on the same commit.

    python3 perfbench/steady.py --workload stream_batches --runs 10

Each run gets its own seed (set one: 1 .. N, set two: N+1 .. 2N).
For every end-to-end metric it prints each set's median and quartiles, the
quartile spread as a share of the median, and the gap between the two set
medians as a share of the first, next to the metric's bound in
BENCHMARK.json. It also prints each set's share of failed ops, which must
be the same in both sets.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent


def one_run(workload, seed, seconds):
    t0 = time.monotonic()
    out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=REPO, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"run with seed {seed} failed ({out.returncode}):\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1]), time.monotonic() - t0


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    sets, walls = [], []
    for s in range(2):
        seeds = range(1 + s * args.runs, 1 + (s + 1) * args.runs)
        results = []
        for seed in seeds:
            r, wall = one_run(args.workload, seed, seconds)
            results.append(r)
            walls.append(wall)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"set {s + 1} seed {seed}: wall={wall:.1f}s attempted={r['attempted']} "
                  f"failed={r['failed']} {vals}", flush=True)
        sets.append(results)

    print(f"\n{args.workload}, {args.runs} runs per set, --seconds {seconds}, "
          f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for s, results in enumerate(sets):
        att = sum(r["attempted"] for r in results)
        bad = sum(r["failed"] for r in results)
        print(f"set {s + 1}: failed {bad}/{att} ops")
    for name in sets[0][0]["metrics"]:
        unit = sets[0][0]["metrics"][name]["unit"]
        rows = [summary([r["metrics"][name]["value"] for r in results]) for results in sets]
        line = f"{name} [{unit}]"
        for s, (med, q1, q3) in enumerate(rows):
            line += (f" | set {s + 1} median {med:.4g} q1 {q1:.4g} q3 {q3:.4g}"
                     f" spread {(q3 - q1) / med:.3f}")
        line += f" | gap {(rows[1][0] - rows[0][0]) / rows[0][0]:+.3f}"
        line += f" | bound {bounds[name]}"
        print(line)


if __name__ == "__main__":
    main()
