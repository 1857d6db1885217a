"""kmeans_exact_int vs an independent NumPy reference with the same
integer rules (truncating means, (dist, cid) tie-break, empty cluster
keeps previous centroid)."""

import numpy as np

from d_sparq_spark.operators.similarity import kmeans_exact_int


def _ref_kmeans(vecs: dict[int, list[float]], k: int, n_iter: int, scale: int = 1_000_000):
    def quant(v):
        # the table stores float32: quantize the float32-truncated value,
        # rounding half away from zero (Spark/DuckDB round, not banker's)
        q = np.array(v, dtype=np.float32).astype(np.float64) * scale
        return np.where(q >= 0, np.floor(q + 0.5), np.ceil(q - 0.5)).astype(np.int64)

    pts = {i: quant(v) for i, v in vecs.items()}
    cents = {cid: pts[cid].copy() for cid in range(k)}

    def assign():
        out = {}
        for i, v in pts.items():
            best = min(
                (int(((v - c) ** 2).sum()), cid) for cid, c in cents.items()
            )
            out[i] = best  # (dist, cid)
        return out

    for _ in range(n_iter):
        a = assign()
        members = {}
        for i, (_, cid) in a.items():
            members.setdefault(cid, []).append(pts[i])
        for cid in range(k):
            if cid in members:
                s = np.sum(members[cid], axis=0, dtype=np.int64)
                n = len(members[cid])
                # truncating division toward zero (Spark div / DuckDB //)
                cents[cid] = (np.sign(s) * (np.abs(s) // n)).astype(np.int64)
    return {i: (cid, d) for i, (d, cid) in assign().items()}


def _run(spark, vecs, k, n_iter=3):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: (r.cluster, r.dist)
        for r in kmeans_exact_int(df, k=k, n_iter=n_iter).collect()
    }
    assert got == _ref_kmeans(vecs, k, n_iter)


def test_matches_reference_small(spark):
    rng = np.random.RandomState(7)
    vecs = {i: list(rng.uniform(-2, 2, size=8)) for i in range(40)}
    _run(spark, vecs, k=4)


def test_negative_coordinate_means(spark):
    # all-negative region exercises the truncating-division sign convention
    rng = np.random.RandomState(3)
    vecs = {i: list(rng.uniform(-5, -1, size=4)) for i in range(20)}
    _run(spark, vecs, k=3)


def test_empty_cluster_keeps_centroid(spark):
    # vec 1 and 2 coincide: the (dist, cid) tie-break drains cluster 2,
    # which must then keep its previous centroid without crashing
    vecs = {0: [0.0, 0.0], 1: [1.0, 1.0], 2: [1.0, 1.0], 3: [1.1, 1.0]}
    _run(spark, vecs, k=3, n_iter=2)


def test_nonzero_based_ids(spark):
    # ids starting at 1000: seeds must be the k lowest ids, not vec_id < k
    rng = np.random.RandomState(11)
    vecs = {1000 + i: list(rng.uniform(-2, 2, size=4)) for i in range(15)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = kmeans_exact_int(df, k=3, n_iter=2).collect()
    assert len(got) == 15
    assert {r.cluster for r in got} <= {1000, 1001, 1002}


# --- semantic_dedup scale-safe defaults (r5, VERDICT r4 #2) -----------------

from d_sparq_spark.operators.similarity import derive_k, semantic_dedup


def test_derive_k_scales_with_corpus():
    # small corpora hit the floor; big corpora keep |c| ~ target bounded
    assert derive_k(100) == 4
    assert derive_k(4096) == 4
    assert derive_k(1_000_000) == 977  # ceil(1e6/1024)
    assert derive_k(100_000_000, target_cluster_size=1024) == 97657
    # expected cluster size stays ~target regardless of n
    for n in (10_000_000, 1_000_000_000):
        k = derive_k(n)
        assert n / k <= 1024 + 1


def test_semantic_dedup_default_k_derived(spark):
    rng = np.random.RandomState(11)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.uniform(-1, 1, size=8)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    # n=30 -> derive_k floor 4; default path must equal explicit k=4
    # with the guard disabled (30 rows can't exceed 8*1024 anyway)
    got_default = {
        (r.vec_id, r.cluster, r.is_dup) for r in semantic_dedup(df).collect()
    }
    got_k4 = {
        (r.vec_id, r.cluster, r.is_dup) for r in semantic_dedup(df, k=4).collect()
    }
    assert got_default == got_k4 and len(got_default) == 30


def test_semantic_dedup_cluster_size_guard_raises(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    rng = np.random.RandomState(13)
    # 20 near-identical vectors -> k-means puts (almost) all in one cluster
    base = rng.uniform(-1, 1, size=8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in base + rng.uniform(-1e-3, 1e-3, size=8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="max_cluster_size"):
        semantic_dedup(df, k=2, max_cluster_size=5).collect()


def test_kmeans_driver_and_distributed_paths_agree(spark, monkeypatch):
    """r11: the gated driver fast path (vectorized int64 Lloyd's) must be
    bit-identical to the distributed rounds — assignments, dists, AND the
    with_centroids twin — including the empty-cluster keep-previous rule
    and SQL div's toward-zero truncation on negative sums."""
    import random

    from d_sparq_spark.operators import similarity as S

    random.seed(31)
    rows = [(i, [random.uniform(-1, 1) for _ in range(6)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        a, c = S.kmeans_exact_int(emb, k=5, n_iter=3, with_centroids=True)
        return (
            sorted(map(tuple, a.collect())),
            sorted((cid, list(v)) for cid, v in c.collect()),
        )

    fast_a, fast_c = run()
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    slow_a, slow_c = run()
    assert fast_a == slow_a
    assert fast_c == slow_c
