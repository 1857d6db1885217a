#!/usr/bin/env python
"""Isolate and time individual headline queries (guide §1: measure first).

Usage:
    python tools/bench_one.py q_sssp q_triangle_count [--runs 2] \
        [--explain-dir plans/r11 --explain-suffix before]

Same methodology as bench.py (noop sink, warm session, min-of-N), plus:
- one Spark job group per run; the job count comes from
  statusTracker().getJobIdsForGroup and belongs to the best (reported) run,
- optional .explain("formatted") dump per query (guide §7.2).
Timing output is one JSON line: {"queries": {...}, "jobs": {...}, "runs": N}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--explain-suffix", default="before")
    ap.add_argument("--no-time", action="store_true",
                    help="only dump plans, skip the timed runs")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from d_sparq_spark import registry
    from d_sparq_spark.session import build_session

    spark = build_session(app_name="d-sparq-bench-one")
    spark.sparkContext.setLogLevel("ERROR")
    all_q = registry.all_queries()

    # same global warm-up as bench.py so numbers are comparable
    all_q["q_flagship"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    from d_sparq_spark.sources.derived_rdf import (
        catalog_cached,
        derive_triples_cached,
        encoded_planning_stats_cached,
        encoded_store_cached,
        planning_stats_cached,
    )

    derive_triples_cached(spark, sf_dir).write.format("noop").mode("overwrite").save()
    catalog_cached(spark, sf_dir, "pt").ptable.count()
    for red, _ratio in catalog_cached(spark, sf_dir, "extvp")._extvp.values():
        red.count()
    enc, d = encoded_store_cached(spark, sf_dir)
    enc.count(), d.count()
    planning_stats_cached(spark, sf_dir)
    encoded_planning_stats_cached(spark, sf_dir)

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def group_jobs(group: str) -> int:
        """Jobs run under ``group`` (public statusTracker API). The status
        store is fed asynchronously, so wait for active jobs to drain."""
        deadline = time.monotonic() + 10.0
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)
        return len(tracker.getJobIdsForGroup(group))

    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    for name in args.names:
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            import io
            from contextlib import redirect_stdout

            df = all_q[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(
                    args.explain_dir, f"{name}_{args.explain_suffix}.txt"
                ),
                "w",
            ) as f:
                f.write(buf.getvalue())
        if args.no_time:
            continue
        best, best_group = float("inf"), None
        for i in range(args.runs):
            group = f"bench_one-{os.getpid()}-{name}-{i}"
            sc.setJobGroup(group, f"bench_one: {name}")
            t0 = time.perf_counter()
            all_q[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
            if dt < best:
                best, best_group = dt, group
        timings[name] = round(best, 4)
        # jobs of one full invocation: the same run as the reported time
        jobs[name] = group_jobs(best_group)

    print(json.dumps({"queries": timings, "jobs": jobs, "runs": args.runs}))
    spark.stop()


if __name__ == "__main__":
    main()
