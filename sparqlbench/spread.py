#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 sparqlbench/spread.py --workload sparql_point --seeds 1-10

For every end-to-end metric (or per-layer metric with ``--trace 1``)
prints the median of the runs and the distance between their first and
third quartiles as a share of the median, the steadiness figure
BENCHMARK.json's bounds are set against. Runs go one after another; each
run's last stdout line is also appended to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default=None)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=False,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines() or ["{}"]
        result = json.loads(lines[-1])
        meta = json.loads(lines[-2]).get("meta", {}) if len(lines) > 1 else {}
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall,
                                    "exit": proc.returncode, **result, "meta": meta}) + "\n")
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f}s correct "
              f"{result.get('correct')} attempted {result.get('attempted')}", flush=True)
        for name, m in result.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{name:32} median {med:12.5g}  iqr/median {share:7.4f}  n={len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
