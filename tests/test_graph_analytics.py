"""Unit tests for degree-ordered triangle enumeration (operators/graph.py)
and the co-purchase graph queries' structure."""

from itertools import combinations

from pyspark.sql import functions as F

from d_sparq_spark.operators import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(min(u, v), max(u, v)) for u, v in pairs], "u long, v long"
    ).distinct()


def test_k4_has_four_triangles(spark):
    k4 = _edges(spark, combinations(range(4), 2))
    tri = G.triangles_degree_ordered(k4).collect()
    assert len(tri) == 4
    # each triangle exactly once, as a set of 3 distinct nodes
    tri_sets = {frozenset((r.a, r.b, r.c)) for r in tri}
    assert tri_sets == {frozenset(c) for c in combinations(range(4), 3)}


def test_star_graph_has_no_triangles(spark):
    # hub of degree 9: the naive wedge count at the hub is C(9,2) = 36,
    # the oriented one is 0 (all edges point AWAY from leaves into the hub,
    # hub out-degree 0) — and there are genuinely no triangles
    star = _edges(spark, [(0, i) for i in range(1, 10)])
    assert G.triangles_degree_ordered(star).count() == 0


def test_triangle_with_pendant(spark):
    g = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    per_node = {r.node: r.n_triangles for r in G.triangle_counts_per_node(g).collect()}
    assert per_node == {1: 1, 2: 1, 3: 1}  # node 4 on no triangle -> absent


def test_empty_edges(spark):
    e = _edges(spark, [])
    assert G.triangles_degree_ordered(e).count() == 0


def test_two_sharing_triangles(spark):
    # bowtie: two triangles sharing node 3
    g = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)])
    per_node = {r.node: r.n_triangles for r in G.triangle_counts_per_node(g).collect()}
    assert per_node == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1}


def test_sssp_hand_computed(spark):
    # path graph 1-2-3-4 with weights 5,1,9 plus shortcut 1-3 weight 2:
    # dist from 1: 2 is min(5, 2+1)=3 via the shortcut back-edge, 3 is 2,
    # 4 is 2+9=11
    ew = spark.createDataFrame(
        [(1, 2, 5), (2, 1, 5), (2, 3, 1), (3, 2, 1),
         (3, 4, 9), (4, 3, 9), (1, 3, 2), (3, 1, 2)],
        "src long, dst long, w long",
    )
    got = {r.node: r.dist for r in G.sssp_bellman_ford(ew, 1, n_rounds=4).collect()}
    assert got == {1: 0, 2: 3, 3: 2, 4: 11}


def test_sssp_unreached_filtered(spark):
    ew = spark.createDataFrame(
        [(1, 2, 7), (2, 1, 7), (8, 9, 1), (9, 8, 1)], "src long, dst long, w long"
    )
    got = {r.node: r.dist for r in G.sssp_bellman_ford(ew, 1, n_rounds=3).collect()}
    assert got == {1: 0, 2: 7}  # 8/9 unreached -> absent


def test_iterative_ops_invariant_under_repartitioning(spark):
    """The integer-exactness claim, tested directly: pagerank, sssp, and
    kmeans must produce BIT-identical results whatever the input's
    physical partitioning (1 partition vs many, different keys)."""
    import numpy as np

    from d_sparq_spark.operators.similarity import kmeans_exact_int

    rng = np.random.RandomState(5)
    ew = spark.createDataFrame(
        [(int(u), int(v), int(w)) for u, v, w in
         rng.randint(0, 40, size=(120, 3)) + [[0, 0, 1]]],
        "src long, dst long, w long",
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.uniform(-2, 2, 6)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    pr_edges = ew.select("src", "dst")

    def runs(df, fn):
        outs = []
        for parts in (1, 7):
            outs.append(sorted(map(tuple, fn(df.repartition(parts)).collect())))
        return outs

    a, b = runs(pr_edges, lambda d: G.pagerank(d, n_iter=4))
    assert a == b
    a, b = runs(ew, lambda d: G.sssp_bellman_ford(d, 1, n_rounds=4))
    assert a == b
    a, b = runs(emb, lambda d: kmeans_exact_int(d, k=3, n_iter=2))
    assert a == b


def test_sssp_invariant_cross_validates_exact_oracle(spark):
    """r10 (VERDICT r9 #7): the structural invariant that replaces the
    DuckDB-spilling unrolled SSSP oracle at sf0.1 must (a) ACCEPT the true
    answer at the scale where the exact oracle also passes, and (b)
    REJECT every perturbation class — a wrong label, a dropped reachable
    node, a ghost node, a duplicated label, and a broken seed."""
    import pandas as pd

    from d_sparq_spark import registry
    from d_sparq_spark.queries.graph_analytics import sssp_invariant_sql
    from tests.oracle import canon, run_invariant, run_oracle

    sf = "/root/testdata/sf0.01"
    q = registry.all_queries()["q_sssp"]
    sdf = q.fn(spark, sf).toPandas()

    # the exact oracle passes here (also covered by the parameterized
    # sweep) — so a 0-violation invariant on the SAME result carries
    # exact-oracle weight
    odf = run_oracle(q.oracle, sf)
    assert len(sdf) == len(odf) and canon(sdf).equals(canon(odf))
    sql = sssp_invariant_sql()
    assert len(run_invariant(sql, sf, {"spark_result": sdf})) == 0

    def viols(df):
        return sorted(run_invariant(sql, sf, {"spark_result": df}).iloc[:, 0])

    seed = sdf.loc[sdf["dist"].idxmin(), "part"]  # dist 0 row
    far = sdf.loc[sdf["dist"].idxmax(), "part"]

    # wrong label -> relax or tight
    bad = sdf.copy()
    bad.loc[bad["part"] == far, "dist"] += 1
    assert set(viols(bad)) & {"relax", "tight"}
    # dropped reachable node -> relax (labeled set not edge-closed)
    assert "relax" in viols(sdf[sdf["part"] != far])
    # ghost node -> ghost (and tight: nothing achieves it)
    ghost = pd.concat(
        [sdf, pd.DataFrame([{"part": 10**12, "dist": 1}])], ignore_index=True
    )
    assert "ghost" in viols(ghost)
    # duplicate label -> dup
    dup = pd.concat([sdf, sdf.head(1)], ignore_index=True)
    assert "dup" in viols(dup)
    # broken seed -> seed
    noseed = sdf.copy()
    noseed.loc[noseed["part"] == seed, "dist"] = 5
    assert "seed" in viols(noseed)


def test_sssp_driver_and_distributed_paths_agree(spark, monkeypatch):
    """r11: the gated driver fast path (vectorized numpy Bellman-Ford) and
    the distributed frontier loop must produce identical results — fixed
    rounds AND until_converged — on a random weighted graph."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(int(u), int(v), int(w) + 1) for u, v, w in
            rng.randint(0, 60, size=(300, 3))]
    ew = spark.createDataFrame(rows, "src long, dst long, w long")
    src = rows[0][0]

    def run(**kw):
        return sorted(
            map(tuple, G.sssp_bellman_ford(ew, src, **kw).collect())
        )

    driver_fixed = run(n_rounds=5)
    driver_conv = run(n_rounds=64, until_converged=True)
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    assert run(n_rounds=5) == driver_fixed
    assert run(n_rounds=64, until_converged=True) == driver_conv


def test_sssp_nulls_decline_to_distributed_loop(spark, monkeypatch):
    """A NULL src, dst or weight must not reach the driver kernel, whose
    int64 view reads it as -2^63 (a phantom node, or a huge negative
    distance): the default route equals the gates-off distributed loop."""
    rows = [(1, 2, 3), (2, 3, 4), (1, None, 1), (None, 3, 1), (2, 4, None),
            (3, 4, 2)]
    ew = spark.createDataFrame(rows, "src long, dst long, w long")

    def run(**kw):
        return sorted(map(tuple, G.sssp_bellman_ford(ew, 1, **kw).collect()))

    got = [run(n_rounds=4), run(n_rounds=16, until_converged=True)]
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    assert got == [run(n_rounds=4), run(n_rounds=16, until_converged=True)]
    assert got[1] == [(1, 0), (2, 3), (3, 7), (4, 9)]
    assert all(-(2**62) < v < 2**62 for r in got for t in r for v in t)


def test_cc_driver_and_distributed_paths_agree(spark, monkeypatch):
    """r11: the gated driver fast path (vectorized hash-min CC) and the
    distributed pointer-jumping loop must produce identical labelings —
    LONG and STRING ids, with isolated nodes and duplicate/symmetric
    edges."""
    import numpy as np

    rng = np.random.RandomState(13)
    edges_i = [(int(u), int(v)) for u, v in rng.randint(0, 80, size=(60, 2))
               if u != v]
    edges_i += edges_i[:5] + [(v, u) for u, v in edges_i[:3]]  # dups + sym
    nodes_i = [(i,) for i in range(100)]  # 80.. are isolated singletons

    def run(nodes, edges, ns, es):
        n = spark.createDataFrame(nodes, ns)
        e = spark.createDataFrame(edges, es)
        return sorted(map(tuple, G.connected_components(n, e).collect()))

    for nodes, edges, ns, es in [
        (nodes_i, edges_i, "node long", "u long, v long"),
        ([(f"d{i:03d}",) for i, in nodes_i],
         [(f"d{u:03d}", f"d{v:03d}") for u, v in edges_i],
         "node string", "u string, v string"),
    ]:
        fast = run(nodes, edges, ns, es)
        monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
        slow = run(nodes, edges, ns, es)
        monkeypatch.undo()
        assert fast == slow
        # representative is the component minimum and covers every node
        assert len(fast) == len(nodes)
        assert all(c <= n for n, c in fast)


def test_pagerank_driver_and_distributed_paths_agree(spark, monkeypatch):
    """r11: the gated driver fast path (vectorized int64 PageRank) must be
    bit-identical to the distributed rounds — including duplicate edges
    (which weight contributions) and dangling nodes."""
    import numpy as np

    rng = np.random.RandomState(17)
    edges = [(int(u), int(v)) for u, v in rng.randint(0, 50, size=(120, 2))]
    edges += edges[:7]  # duplicates

    def run(rows, es):
        e = spark.createDataFrame(rows, es)
        return sorted(map(tuple, G.pagerank(e, n_iter=10).collect()))

    for rows, es in [
        (edges, "src long, dst long"),
        ([(f"v{u:02d}", f"v{v:02d}") for u, v in edges],
         "src string, dst string"),
    ]:
        fast = run(rows, es)
        monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
        slow = run(rows, es)
        monkeypatch.undo()
        assert fast == slow
