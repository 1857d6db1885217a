#!/usr/bin/env python
"""sf1-equivalent scale smoke for the five bench heavies (r7, VERDICT r6
#9): the bench bands are all sf0.1 — this lap runs the same operators at
10x volume to validate the extrapolation the docstrings claim, and
asserts the plan SHAPES are unchanged (fixpoints converge in the same
round counts, growth caps engage the same way, nothing degenerates to a
driver loop or cartesian).

Inputs are scaled without an sf1 parquet directory:
- closures: the synthetic chain/hub generators take the block count
  directly (sf0.1 = 300k blocks -> sf1 = 3M blocks, ~11.8M edges);
- triangle/sssp: ten disjoint node-id-shifted copies of the sf0.1
  co-purchase graph (identical degree structure, 10x volume);
- near-dup: ten doc_id-shifted copies of documents, EVERY token salted
  with the copy id (a bijection on each copy's vocabulary, so within-copy
  similarities are preserved exactly while cross-copy Jaccard is 0) —
  near-dup pairs stay within a copy and the pair count scales exactly
  10x, not clone-pair-quadratically (review r7: a single appended copy
  token left cross-copy Jaccard at n/(n+2) and the lap benchmarked a
  clone-dominated workload).

Prints one JSON line with seconds per heavy; record it in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    from d_sparq_spark.operators import dedup as D
    from d_sparq_spark.operators import graph as G
    from d_sparq_spark.operators.paths import seeded_closure, transitive_closure
    from d_sparq_spark.queries.graph_analytics import _copurchase_edges
    from d_sparq_spark.session import build_session
    from d_sparq_spark.sources.synth_graph import (
        BLOCKH,
        synth_chain_edges_int,
        synth_hub_edges_int,
    )
    from d_sparq_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.1"
    # ~66M closure pairs live in localCheckpoint storage at this scale —
    # the default 8g driver (which hosts the executors on local[*]) GC-
    # thrashes; a real cluster spreads this across executor memory.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    spark = build_session(app_name="d-sparq-sf1-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}

    # 1+2: unbound doubling closure + seeded frontier at 3M blocks
    n_blocks = 3 * spark.read.parquet(f"{sf_dir}/events.parquet").count() * 10
    edges = synth_chain_edges_int(spark, n_blocks).localCheckpoint()
    n_edges = edges.count()
    t0 = time.perf_counter()
    closure = transitive_closure(edges)
    n_closure = closure.count()
    out["closure_big_sf1"] = round(time.perf_counter() - t0, 2)
    assert n_closure > 5 * n_edges, (n_closure, n_edges)  # real closure, not edges

    seeds = edges.filter(F.col("src") % 2560 == 0).select(
        F.col("src").alias("n")
    )
    t0 = time.perf_counter()
    sc = seeded_closure(edges, seeds)
    n_seeded = sc.count()
    out["closure_seeded_sf1"] = round(time.perf_counter() - t0, 2)
    assert 0 < n_seeded < n_closure  # frontier-sized state, not the closure

    # 3: hub closure — the stride growth cap must STILL engage at 10x
    from d_sparq_spark.operators import paths as P

    hub = synth_hub_edges_int(spark, 160).select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    ).localCheckpoint()
    hub_seeds = spark.range(160).select(
        (F.col("id") * BLOCKH + 1).cast("string").alias("n")
    )
    engaged = []
    real_stride_hops = P._stride_hops

    def stride_hops(*a, **kw):
        hop, cap_engaged = real_stride_hops(*a, **kw)
        engaged.append(cap_engaged)
        return hop, cap_engaged

    P._stride_hops = stride_hops
    try:
        t0 = time.perf_counter()
        n_hub = seeded_closure(hub, hub_seeds).count()
        out["closure_hub_seeded_sf1"] = round(time.perf_counter() - t0, 2)
    finally:
        P._stride_hops = real_stride_hops
    assert n_hub > 0
    assert engaged == [True]  # same plan shape as sf0.1

    # 4+5: triangle + sssp on 10 disjoint shifted copies of the co-purchase graph
    base = _copurchase_edges(spark, sf_dir).localCheckpoint()
    shift = (base.agg(F.max(F.greatest("u", "v"))).first()[0] or 0) + 1
    copies = spark.range(10).select(F.col("id").alias("k"))
    big = (
        base.crossJoin(copies)
        .select(
            (F.col("u") + F.col("k") * shift).alias("u"),
            (F.col("v") + F.col("k") * shift).alias("v"),
        )
        .localCheckpoint()
    )
    t0 = time.perf_counter()
    n_tri = G.triangle_counts_per_node(big).count()
    out["triangle_sf1"] = round(time.perf_counter() - t0, 2)
    assert n_tri > 0

    w = ((F.col("u") * 7 + F.col("v") * 13) % 97 + 1).alias("w")
    ew = (
        big.select(F.col("u").alias("src"), F.col("v").alias("dst"), w)
        .unionByName(big.select(F.col("v").alias("src"), F.col("u").alias("dst"), w))
        .localCheckpoint()
    )
    seed = ew.agg(F.min(F.least("src", "dst"))).first()[0]
    t0 = time.perf_counter()
    n_sssp = G.sssp_bellman_ford(ew, seed).count()
    out["sssp_sf1"] = round(time.perf_counter() - t0, 2)
    assert n_sssp > 0

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d_shift = (docs.agg(F.max("doc_id")).first()[0] or 0) + 1
    big_docs = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("k") * d_shift).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.concat(t, F.lit("_"), F.col("k")),
                ),
            ).alias("text"),
        )
        .localCheckpoint()
    )
    n_base_pairs = D.minhash_near_dups(docs, threshold=0.5).count()
    t0 = time.perf_counter()
    pairs = D.minhash_near_dups(big_docs, threshold=0.5).localCheckpoint()
    n_near = pairs.count()
    out["dedup_near_sf1"] = round(time.perf_counter() - t0, 2)
    # token salting is a per-copy bijection, so every VERIFIED pair is
    # within one copy (cross-copy Jaccard is 0); the count is ~10x the
    # base, not exactly (MinHash candidate recall varies per salt)
    n_cross = pairs.filter(
        (F.col("a") - F.col("a") % d_shift) != (F.col("b") - F.col("b") % d_shift)
    ).count()
    assert n_cross == 0, n_cross
    assert 8 * n_base_pairs <= n_near <= 12 * n_base_pairs, (n_near, n_base_pairs)

    out["rows"] = {
        "closure": n_closure, "seeded": n_seeded, "hub": n_hub,
        "triangle": n_tri, "sssp": n_sssp, "near_dups": n_near,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
