#!/usr/bin/env python3
"""Closed-loop SPARQL benchmark for d_sparq_spark.

    python3 sparqlbench/run.py --workload sparql_point --seed 1 --seconds 15 --trace 0

One client sends the next request only after the previous reply is fully
serialized. Spark runs in ``local[2]`` with 4 shuffle partitions, both
passed through ``build_session``; two task threads on a 4-vCPU machine
leave room for the JVM's compiler and collector threads and the client. A
run:

1. starts the session, sets up the store (N-Triples dump -> bulk_load ->
   open_store) and sends the warm-up requests; ``setup_s`` is the time
   from session start until the first timed request can be sent;
2. runs a fixed number of whole rounds of the workload's request mix, as
   many as its nominal round time fits in ``--seconds`` (timed_rounds),
   checking every answer between requests and collecting Python and JVM
   garbage between rounds, outside the timed region;
3. prints a meta line, then one JSON line with ``correct``, ``attempted``,
   ``failed`` and the metrics: the end-to-end ones with ``--trace 0``,
   the per-layer ones with ``--trace 1``.

A traced run times every call into a layer and counts its Spark jobs
(spans.py); it traces every other occurrence of each request shape, so
the traced minus untraced median latency is the tracing overhead. Its
per-layer table goes to stderr and, with every span, to .sparqlbench_out/
in the checkout.

Everything the run writes stays under the checkout (.sparqlbench_work/,
removed at exit, and .sparqlbench_out/).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MASTER = "local[2]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "1g"

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["sparql_point", "sparql_scan", "store_churn"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_session(work: str):
    from d_sparq_spark.session import build_session

    spark = build_session(
        app_name="sparqlbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # fixed heap, parallel collector: peak RSS does not follow the
            # collector's heap-growth choices from run to run
            "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{DRIVER_MEMORY}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job's status for the traced run's accounting
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session started to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on end of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def release_dead_blocks(sc) -> None:
    gc.collect()
    sc._jvm.System.gc()


def timed_rounds(workload: str, seconds: float, trace: int) -> int:
    """Whole rounds the timed loop runs: ``seconds`` over the workload's
    nominal round time. Request latency falls by ~10 % a round over the
    first rounds as the JVM warms up, so a loop that stopped on elapsed
    time would measure fewer, slower rounds on a slower run and its median
    would jump with the round count; a fixed count measures every run at
    the same point of the warm-up. A traced run needs two rounds, so that
    every shape runs both traced and untraced."""
    import inputs

    n = max(1, round(seconds / inputs.ROUND_SECONDS[workload]))
    return max(n, 2) if trace else n


def layer_metrics(tracer, records, dir_files: int) -> tuple[dict, list[str]]:
    """Per-layer metrics of a traced run and its printable table. A
    layer's time, jobs and tasks are means per call over the same calls;
    the table also gives each layer's self time per traced request, which
    with bench.other_s adds up to the traced request latency."""
    spans = tracer.spans
    requests = [s for s in spans if s.layer == "bench.request"]
    req_ids = {s.request for s in requests}
    n_req = max(1, len(requests))
    layers = sorted({s.layer for s in spans})
    m: dict[str, float] = {}
    table = [f"{'layer':28} {'calls':>5} {'self_s/call':>11} {'jobs/call':>9} "
             f"{'stages/call':>11} {'tasks/call':>10} {'self_s/req':>10}"]
    per_req_sum = 0.0
    for layer in layers:
        calls = [s for s in spans if s.layer == layer]
        n = len(calls)
        self_s = sum(s.self_s for s in calls) / n
        jobs = sum(s.jobs for s in calls) / n
        stages = sum(s.stages for s in calls) / n
        tasks = sum(s.tasks for s in calls) / n
        in_req = sum(s.self_s for s in calls if s.request in req_ids) / n_req
        per_req_sum += in_req
        name = "bench.other" if layer == "bench.request" else layer
        m[f"{name}_s"] = self_s if layer != "bench.request" else in_req
        m[f"{name}_jobs"] = jobs
        m[f"{name}_tasks"] = tasks
        table.append(f"{name:28} {n:5d} {self_s:11.4f} {jobs:9.1f} {stages:11.1f} "
                     f"{tasks:10.1f} {in_req:10.4f}")
    m["bench.request_s"] = sum(s.dur for s in requests) / n_req
    pad = " " * 50
    table.append(f"{'sum of self_s/req':28}{pad}{per_req_sum:10.4f}")
    table.append(f"{'traced request latency':28}{pad}{m['bench.request_s']:10.4f}")
    traced = [r["latency_s"] for r in records if r["traced"]]
    untraced = [r["latency_s"] for r in records if not r["traced"]]
    m["bench.trace_overhead_s"] = (
        statistics.median(traced) - statistics.median(untraced) if traced and untraced else 0.0
    )
    rows = [r["rows"] for r in records if r["traced"] and r["rows"] is not None]
    m["results.rows"] = sum(rows) / len(rows) if rows else 0.0
    m["load_pipeline.store_files"] = dir_files
    table.append(f"trace overhead (traced - untraced latency p50): "
                 f"{m['bench.trace_overhead_s']:.4f} s")
    return m, table


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "d_sparq_spark")):
        print("sparqlbench: the d_sparq_spark package must sit next to the "
              "sparqlbench directory", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".sparqlbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tmp = os.path.join(work, "tmp")
    # keep every file the run writes inside the checkout: Python and JVM
    # temp files, JVM perf data, Spark scratch space (spark.local.dir)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    import inputs
    from oracle import Oracle, answer_rows, check
    from spans import Span, Tracer, cpu_ticks, loadavg_1m, percentile, rss_peak_mb
    from workloads import WORKLOADS, dir_stats

    load_start, ticks_start = loadavg_1m(), cpu_ticks()
    t_setup = time.perf_counter()
    spark = start_session(work)
    build_s = time.perf_counter() - t_setup
    sc = spark.sparkContext
    oracle = None
    try:
        tracer = Tracer(sc, bool(args.trace))
        if args.trace:
            import d_sparq_spark.encoded_engine as ee

            # the engine's own call to the parser becomes a plans.parse span
            parse = ee.parse_sparql
            ee.parse_sparql = lambda text: tracer.call("plans.parse", parse, text)
            # the session build ran before the tracer existed
            tracer.spans.append(Span(0, "session.build", None, None, t_setup,
                                     t_setup + build_s, group="-"))
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)

        t0 = time.perf_counter()
        wl.write_inputs()
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.setup()
        store_s = time.perf_counter() - t0
        warm = inputs.warmup(args.workload, args.seed)
        tracer.enabled = False  # warm-up calls would skew the per-call means
        t0 = time.perf_counter()
        warm_answers = [wl.serve(req) for req in warm]
        warm_s = time.perf_counter() - t0
        setup_s = build_s + inputs_s + store_s + warm_s

        oracle = Oracle(work, wl.oracle_views())
        warm_ok = wl.loaded_triples == wl.source_triples(oracle) and all(
            check(r, a, oracle) for r, a in zip(warm, warm_answers))
        release_dead_blocks(sc)

        records = []
        seen: dict[str, int] = {}  # shape -> timed requests so far
        n_rounds = timed_rounds(args.workload, args.seconds, args.trace)
        for rnd in range(1, n_rounds + 1):
            for req in inputs.requests(args.workload, args.seed, rnd):
                i = len(records)
                # every other occurrence of a shape is traced, staggered
                # across shapes so each round mixes traced and untraced
                k = seen.get(req.shape, 0)
                seen[req.shape] = k + 1
                traced = bool(args.trace) and (k + list(seen).index(req.shape)) % 2 == 0
                tracer.enabled, tracer.request = traced, i
                answer, err = None, None
                t0 = time.perf_counter()
                try:
                    answer = tracer.call("bench.request", wl.serve, req)
                except Exception as e:  # a failed request counts as incorrect
                    err = f"{type(e).__name__}: {e}"
                latency = time.perf_counter() - t0
                tracer.enabled = bool(args.trace)
                ok, rows = False, None
                if answer is not None:
                    rows = len(answer_rows(answer))
                    ok = check(req, answer, oracle)
                if not ok:
                    print(f"sparqlbench: request {i} ({req.shape}) "
                          f"{'failed: ' + err if err else 'returned a wrong answer'}",
                          file=sys.stderr)
                records.append({"shape": req.shape, "latency_s": latency, "ok": ok,
                                "traced": traced, "rows": rows})
            # a full JVM collection costs ~0.3 s, so once per round
            release_dead_blocks(sc)

        store_bytes, store_files = dir_stats(wl.store)
        rss = rss_peak_mb()
        tracer.resolve_jobs()
    finally:
        if oracle is not None:
            oracle.close()
        stop_session(spark)

    steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
    lat = [r["latency_s"] for r in records]
    n_ok = sum(r["ok"] for r in records)
    meta = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": MASTER, "shuffle_partitions": SHUFFLE_PARTITIONS,
        "loadavg_1m": [load_start, loadavg_1m()], "cpus": os.cpu_count(),
        "steal_frac": steal / total if total else 0.0,
        "triples": wl.n_triples, "terms": wl.n_terms, "requests": len(records),
        "rounds": n_rounds, "store_setup_s": store_s, "session_build_s": build_s,
        "warmup_s": warm_s, "load_and_warmup_correct": warm_ok,
        # informational: a run holds too few requests to bound a p90
        "latency_p90_s": percentile(lat, 90),
        "by_shape": {s: statistics.median(r["latency_s"] for r in records if r["shape"] == s)
                     for s in dict.fromkeys(r["shape"] for r in records)},
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.trace:
        layer, table = layer_metrics(tracer, records, store_files)
        # a layer the workload never calls reports 0
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in declared["per_layer"]}
        out = os.path.join(ROOT, ".sparqlbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"meta": meta, "metrics": metrics, "table": table, "requests": records,
                       "spans": [vars(s) for s in tracer.spans]}, f, indent=1)
        print("\n".join([f"per-layer trace, {args.workload} seed {args.seed}:", *table]),
              file=sys.stderr)
    else:
        values = {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(lat),
            "throughput_rps": n_ok / sum(lat),
            "store_bytes_per_triple": store_bytes / wl.n_triples,
            "ok_frac": n_ok / len(records),
            "rss_peak_mb": rss,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in declared["end_to_end"]}
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": warm_ok and n_ok == len(records),
        "attempted": len(records),
        "failed": len(records) - n_ok,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
