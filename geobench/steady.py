#!/usr/bin/env python3
"""Steadiness check: run one workload several times, one fresh process per
seed, and print each end-to-end metric's median, quartiles and spread
(inter-quartile range over median) against its bound in BENCHMARK.json.

    python3 geobench/steady.py --workload geo_serve_mixed --runs 10 --first-seed 1

A spread at or under a third of the bound is steady; over the bound is not.
Every metric, `setup_s` too, is judged against its own bound. Each run's
result line is also printed, prefixed with `run`, with the medians of the
first and second half of its timed calls, so two sets can be compared later
and a p50 still drifting with warm-up shows.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        context = json.loads(lines[-2][2:])
        res["seed"] = seed
        # host CPU steal, JIT and GC time during the timed phase, and the
        # medians of its two halves: what to look at in a slow run
        for key in ("timed_steal_s", "timed_jit_ms", "timed_gc_ms", "p50_halves_ms"):
            res[key] = context.get(key)
        print("run", json.dumps(res), flush=True)
        results.append(res)

    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"\n{args.workload}: {len(results)} runs, failed share {sorted(shares)}, "
          f"all correct: {all(r['correct'] for r in results)}")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  verdict")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med, q1, q3, sp = spread(vals)
        if sp <= m["bound"] / 3:
            verdict = "steady"
        elif sp <= m["bound"]:
            verdict = "within bound"
        else:
            verdict = "OVER BOUND"
        print(f"{m['name']:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{sp:>9.3f}{m['bound']:>7}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
