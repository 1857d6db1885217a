"""Connected components over an undirected edge set — the missing piece of
a production dedup pipeline: pairwise near-dup detection (MinHash/SimHash/
Jaccard — operators/dedup.py) emits EDGES, but what the pipeline keeps or
drops is decided per duplicate CLUSTER (keep one representative per
component). No counterpart in the reference (batch BGP engine only [A]);
this is a driver-mandated extension op (SURVEY.md §2.C, dedup group).

Algorithm: hash-min label propagation with pointer jumping.

- label(v) starts as v; each round takes the min over the node's own label
  and its neighbors' labels (one shuffle: edges ⋈ labels, groupBy min),
  then pointer-jumps label(v) <- label(label(v)) (a second join), which
  short-circuits chains so convergence is O(log diameter) rounds rather
  than O(diameter) — the same doubling idea as operators/paths.py but over
  labels (O(V) state) instead of reachability pairs (O(V^2) worst case).
  That distinction is what makes this the 100 TB-safe formulation: state
  never exceeds one row per node, and each round is two equi-joins + one
  aggregation, all on the node-id key.
- convergence detected by the monotone invariant: labels only ever
  decrease, so sum(label) is strictly decreasing until fixpoint; one
  cheap agg per round replaces a subtract/anti-join probe.
- localCheckpoint per round truncates lineage (iterative-plan blowup
  guard, same rationale as transitive_closure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d_sparq_spark.gates import DRIVER_MAX_EDGES, INTEGRAL_TYPES, driver_route


def _driver_cc(nodes, edges):
    """Vectorized hash-min + pointer-jumping CC over the collected
    ``nodes`` (node) and ``edges`` (u, v), int or string ids. Returns
    columns node (the sorted node universe) and comp (each node's
    component minimum) — the same unique fixpoint the distributed loop
    converges to, so results are bit-identical."""
    import numpy as np

    u = edges.column("u").to_numpy()
    v = edges.column("v").to_numpy()
    vals = np.unique(np.concatenate([nodes.column("node").to_numpy(), u, v]))
    # np.unique sorts, so code order == value order and the min CODE per
    # component decodes to the min VALUE (for strings: numpy/python
    # compare by code point, which equals Spark's UTF-8 byte order)
    ui = np.searchsorted(vals, u)
    vi = np.searchsorted(vals, v)
    comp = np.arange(len(vals), dtype=np.int64)
    e1 = np.concatenate([ui, vi])
    e2 = np.concatenate([vi, ui])
    order = np.argsort(e1, kind="stable")
    e1s = e1[order]
    e2s = e2[order]
    tgt, starts = np.unique(e1s, return_index=True)
    while True:
        # full path compression (comp is monotone under comp[comp])
        while True:
            j = comp[comp]
            if np.array_equal(j, comp):
                break
            comp = j
        if len(tgt) == 0:
            return {"node": vals, "comp": vals[comp]}
        nm = np.minimum.reduceat(comp[e2s], starts)
        cur = comp[tgt]
        upd = np.minimum(cur, nm)
        if np.array_equal(upd, cur):
            return {"node": vals, "comp": vals[comp]}
        comp[tgt] = upd


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 48
) -> DataFrame:
    """nodes(node) ∪ edges(u, v) -> (node, component); component is the
    minimum node id in the component (deterministic representative).
    Isolated nodes (in ``nodes`` but no edge) form singleton components.
    Node/edge ids must be a totally ordered type (use LONG at scale)."""
    # localCheckpoint the deduped edges ONCE, before anything branches on
    # them: the upstream edge generator (e.g. the MinHash-LSH candidate
    # pipeline) would otherwise re-execute per consumer — the old sym
    # union even ran it twice inside ONE job (two union branches, no
    # exchange reuse). The count materializes the checkpoint and sizes
    # the driver route; the nodes side can be far bigger than the edge
    # set (every doc is a node, few are near-dups), so it is probed, not
    # counted.
    e = edges.select("u", "v").distinct().localCheckpoint(eager=False)
    dt = dict(e.dtypes)["u"]
    out = driver_route(
        DRIVER_MAX_EDGES,
        _driver_cc,
        nodes.select("node").distinct(),
        (e, e.count()),
        ids=("node", "u", "v"),
        schema=f"node {dt}, comp {dt}",
    )
    if out is not None:
        return out
    sym = (
        e.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionByName(e.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        nodes.select("node")
        .unionByName(sym.select("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )

    # convergence probe: labels only ever DECREASE, so an unchanged sum
    # means an unchanged labeling. The sum runs in decimal(38,0) — an
    # int64 sum of large LONG ids overflows (ANSI crash / wraparound
    # breaks the monotone invariant; review r4, reproduced at ids ~2^62).
    # Non-numeric ids fall back to an exact changed-row probe per round.
    numeric_ids = dict(labels.dtypes)["comp"] not in ("string", "binary", "boolean")

    def probe(df: DataFrame):
        return df.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0] or 0

    total = probe(labels) if numeric_ids else None
    for _ in range(max_iter):
        # hash-min: comp(v) <- min(comp(v), min over neighbors comp(u))
        nbr_min = (
            sym.join(labels.select(F.col("node").alias("nbr"), "comp"), "nbr")
            .groupBy("node")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr_min, "node", "left")
            .select("node", F.least("comp", "nbr_comp").alias("comp"))
        )
        # pointer jump: comp(v) <- comp(comp(v)) — halves label-tree depth
        jumped = (
            stepped.alias("l")
            .join(
                stepped.select(F.col("node").alias("comp"), F.col("comp").alias("jc")).alias("r"),
                "comp",
                "left",
            )
            .select(F.col("l.node").alias("node"), F.coalesce("jc", "comp").alias("comp"))
            .localCheckpoint()
        )
        if numeric_ids:
            t2 = probe(jumped)
            converged = t2 == total
        else:
            changed = (
                jumped.select("node", F.col("comp").alias("_nc"))
                .join(labels, "node")
                .filter(F.col("_nc") != F.col("comp"))
            )
            converged, t2 = not changed.take(1), None
        if converged:
            return labels.select("node", "comp")
        labels, total = jumped, t2
    raise RuntimeError(f"connected_components: no fixpoint within {max_iter} rounds")


def _driver_pagerank(edges, n_iter: int, damping_pct: int):
    """Vectorized integer PageRank over the collected ``edges`` (src,
    dst). Exactly the distributed loop's arithmetic: per round, every
    edge contributes r[src] div deg[src] to its dst (int64 floor division
    — operands are non-negative, so numpy // == SQL div), in-sums via one
    sorted add.reduceat, then r = base + in_sum * damping div 100 with
    absent in-edges as 0. Returns columns node (the sorted node set) and
    rank_ppt."""
    import numpy as np

    src = edges.column("src").to_numpy()
    dst = edges.column("dst").to_numpy()
    vals = np.unique(np.concatenate([src, dst]))
    n = len(vals)
    if n == 0:
        return {"node": vals, "rank_ppt": np.zeros(0, dtype=np.int64)}
    SCALE = 10**12
    base = SCALE * (100 - damping_pct) // 100 // n
    si = np.searchsorted(vals, src)
    di = np.searchsorted(vals, dst)
    degarr = np.zeros(n, dtype=np.int64)
    su, scounts = np.unique(si, return_counts=True)
    degarr[su] = scounts
    order = np.argsort(di, kind="stable")
    si_s = si[order]
    deg_s = degarr[si_s]
    ud, starts = np.unique(di[order], return_index=True)
    r = np.full(n, SCALE // n, dtype=np.int64)
    for _ in range(n_iter):
        c = r[si_s] // deg_s
        in_sum = np.add.reduceat(c, starts) if len(ud) else np.zeros(0, np.int64)
        nr = np.full(n, base, dtype=np.int64)
        nr[ud] += in_sum * damping_pct // 100
        r = nr
    return {"node": vals, "rank_ppt": r}


def pagerank(
    edges: DataFrame, n_iter: int = 10, damping_pct: int = 85, ckpt_every: int = 5
) -> DataFrame:
    """PageRank over edges(src, dst) -> (node, rank_ppt): ranks in
    parts-per-trillion as BIGINTs, every step integer arithmetic — so the
    result is deterministic across partitionings/engines (a double
    summation is not associative; an int64 sum is). Per iteration: one
    equi-join ranks⋈edges + one groupBy(dst) sum + one left join back —
    O(V) state; lineage is truncated every ``ckpt_every`` rounds (each
    eager localCheckpoint is a full job, so per-round truncation pays
    n_iter job launches for plans that only ever reach ckpt_every
    iterations of depth — measured 4.8 s -> 4.1 s at sf0.1 moving from 1
    to 5; plan depth stays bounded regardless of n_iter). Dangling-node
    mass is
    dropped (not redistributed), the common large-graph simplification;
    ranks then sum to <= SCALE. rank_ppt fits int64 for any graph
    (per-node rank <= SCALE = 1e12).

    On the driver route (gates.driver_route) the edge list is collected
    once and the n_iter rounds run as vectorized numpy (gather + sorted
    add.reduceat — identical int64 arithmetic, so results are
    bit-identical to the distributed rounds); the distributed path
    iterates over a checkpointed projection so the upstream edge
    generator executes once, not once per consumer."""
    SCALE = 10**12
    proj = edges.select("src", "dst").localCheckpoint(eager=False)
    dt = dict(proj.dtypes)["src"]
    out = driver_route(
        DRIVER_MAX_EDGES,
        lambda tbl: _driver_pagerank(tbl, n_iter, damping_pct),
        (proj, proj.count()),
        ids=("src", "dst"),
        schema=f"node {dt}, rank_ppt bigint",
    )
    if out is not None:
        return out
    edges = proj
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:  # empty edge set: no nodes, no ranks (not a ZeroDivision)
        return nodes.select("node", F.lit(0).cast("long").alias("rank_ppt"))
    base = SCALE * (100 - damping_pct) // 100 // n
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e = edges.join(deg, "src").localCheckpoint()
    ranks = nodes.select("node", F.lit(SCALE // n).cast("long").alias("r"))
    for i in range(n_iter):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"coalesce(in_sum, 0L) * {damping_pct} div 100")
            ).cast("long").alias("r"),
        )
        if (ckpt_every > 0 and (i + 1) % ckpt_every == 0) or i == n_iter - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("r").alias("rank_ppt"))


def dedup_clusters(
    docs: DataFrame, edges: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Assign every document to its duplicate cluster given near-dup edges
    (a, b). Returns (doc_id, component, cluster_size) — the keep/drop
    decision at scale is then a trivial filter (keep doc_id == component,
    i.e. the minimum-id representative)."""
    cc = connected_components(
        docs.select(F.col(id_col).alias("node")),
        edges.select(F.col("a").alias("u"), F.col("b").alias("v")),
    )
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "comp").select(
        F.col("node").alias(id_col),
        F.col("comp").alias("component"),
        "cluster_size",
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(n, d): undirected degree of every endpoint of edges(u, v)."""
    return (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _degree_oriented(edges: DataFrame) -> DataFrame:
    """Orient every canonical edge (u < v, distinct) toward its
    higher-(degree, id) endpoint -> (src, dst). The (degree, id) order is
    a strict total order on nodes, so the orientation is acyclic, and
    every node's OUT-degree is O(sqrt(|E|)) (Suri & Vassilvitskii,
    WWW'11) — the bound both triangle paths below build on."""
    deg = degrees(edges).localCheckpoint(eager=False)
    # the caller's edge set is typically checkpointed (no Catalyst stats),
    # so the O(V) degree side needs an explicit hint to avoid shuffling
    # the edges twice; the guard keeps billion-node graphs on shuffle plans.
    # The checkpoint pins the degree aggregation: du and dv are two
    # separate broadcast builds, each of which would otherwise re-run the
    # full degree groupBy over 2|E| rows (r11).
    if deg.count() <= 1_000_000:
        deg = F.broadcast(deg)
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    # orient toward the higher (degree, id) endpoint; id breaks degree ties
    return (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
            )
            .otherwise(F.struct(F.col("v").alias("src"), F.col("u").alias("dst")))
            .alias("e")
        )
        .select("e.src", "e.dst")
    )


def triangles_degree_ordered(edges: DataFrame) -> DataFrame:
    """Triangle enumeration over an undirected edge set, degree-ordered.

    ``edges(u, v)`` must be canonical (u < v, distinct). Returns one row
    (a, b, c) per triangle, each triangle exactly once.

    Scale shape (the point of the orientation): a naive three-way
    self-join generates a wedge per PAIR of edges at a node — quadratic
    in the max degree, and real co-occurrence graphs have power-law hubs.
    Orienting every edge toward the higher-(degree, id) endpoint
    (Suri & Vassilvitskii, WWW'11 MapReduce triangle counting) makes
    every node's OUT-degree O(sqrt(|E|)), so wedge generation is bounded
    by |E|^{3/2} total regardless of hub size, and each triangle is
    generated exactly once (from its lowest-degree corner). The wedge
    join and the closing join are both equi-joins — shuffle-partitioned,
    AQE-splittable, no broadcast assumption on the edge set.
    """
    oriented = _degree_oriented(edges)
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    # r11 (guide §3.1): below the gate, broadcast BOTH the wedge probe
    # side and the closing edge set. The former makes wedge generation a
    # streamed BHJ over o1; the latter is the big one — the closing join
    # otherwise SHUFFLES the |E|^1.5 wedge relation (measured 41 M rows /
    # ~1 GB at sf0.1, 9.4 s of an 11.3 s pipeline) to meet a 1.2 M-row
    # edge set that fits in a ~20 MB broadcast. The whole enumeration then
    # runs as ONE WholeStageCodegen span: scan oriented → probe
    # out-neighbors → probe closing edges → (caller) explode + partial
    # agg, with only the final tiny per-node aggregate shuffling. Above
    # the gate the shuffle plan is unchanged (a billion-edge closing side
    # must not broadcast).
    n_edges = edges.count()
    small_edges = n_edges <= 5_000_000
    if small_edges:
        # the streamed side inherits the caller checkpoint's (AQE-
        # coalesced) partitioning — measured 10 tasks carrying a 41 M-row
        # wedge fan-out on 32 cores. Re-spread it to the session's
        # parallelism (scale-adaptive: defaultParallelism is the cluster
        # core count, not a local constant); the keyless repartition
        # shuffles only |E| gate-bounded rows.
        par = edges.sparkSession.sparkContext.defaultParallelism
        o1 = oriented.repartition(par).alias("o1")
    # wedges from each source's out-neighborhood; dst pair canonicalized by
    # node id so the closing join can probe the canonical edge set directly
    wedges = (
        o1.join(F.broadcast(o2) if small_edges else o2, "src")
        .where(F.col("o1.dst") < F.col("o2.dst"))
        .select(
            F.col("src").alias("a"),
            F.col("o1.dst").alias("b"),
            F.col("o2.dst").alias("c"),
        )
    )
    closing = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    return wedges.join(
        F.broadcast(closing) if small_edges else closing, ["b", "c"]
    ).select("a", "b", "c")


def triangle_counts_per_node(edges: DataFrame) -> DataFrame:
    """(node, n_triangles) for every node on >= 1 triangle.

    r12 (VERDICT r11 #4, guide §2.3): count WITHOUT materializing the
    wedge relation. The r11 shape enumerated every wedge
    (triangles_degree_ordered) and hash-probed the closing edge set per
    wedge row — 41 M wedge rows streamed through two joins at sf0.1 to
    keep ~86 k closing matches. Counting needs no wedge rows: group the
    oriented out-neighborhoods into arrays once (ONE O(|E|)-row exchange)
    and intersect the two endpoints' arrays per oriented edge — the
    classic edge-iterator/forward algorithm on the same degree
    orientation. Exactness: a triangle's three corners are totally
    ordered by the orientation (x -> y, x -> z, y -> z for x < y < z in
    (degree, id) order), so it is found exactly once, at its (x, y) edge,
    as z in out(x) ∩ out(y) — out(z) contains neither y nor x, and
    out(y) ∩ out(z), out(x) ∩ out(z) cannot re-find it. Per-corner
    contributions from one edge's intersection I: src and dst each sit on
    |I| triangles pivoting here; every z in I sits on one.

    The element-touch work keeps the |E|^1.5 bound (out-degrees are
    O(sqrt|E|) under the orientation), but it runs as per-row array
    kernels over |E| rows — nothing |E|^1.5-sized is produced, filtered,
    or probed row-by-row, and at scale the two adjacency joins shuffle
    O(|E|) rows where the r11 closing join would shuffle the |E|^1.5
    wedge relation. Enumeration consumers keep
    triangles_degree_ordered."""
    oriented = _degree_oriented(edges)
    # lazy checkpoint: adj feeds BOTH probe sides below — without the pin
    # each broadcast build re-runs the orientation joins + the collect_list
    # aggregation over |E| rows (the deg pattern in _degree_oriented)
    adj = (
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
        .localCheckpoint(eager=False)
    )
    # same broadcast gate as the enumerator: adjacency is O(|V|) rows /
    # O(|E|) total longs — at the 5M-edge cap ~40 MB, a fine broadcast;
    # above it both probes stay shuffle equi-joins (billion-edge safety).
    n_edges = edges.count()
    small_edges = n_edges <= 5_000_000
    stream = oriented
    if small_edges:
        # re-spread the streamed side to session parallelism: the per-row
        # intersection carries the wedge-bound work, and the caller's
        # checkpoint is AQE-coalesced to a handful of partitions (r11
        # measured 10 tasks carrying the whole fan-out on 32 cores)
        par = edges.sparkSession.sparkContext.defaultParallelism
        stream = oriented.repartition(par)
    au = (F.broadcast(adj) if small_edges else adj).select(
        F.col("src").alias("_u"), F.col("nbrs").alias("nbrs_u")
    )
    av = (F.broadcast(adj) if small_edges else adj).select(
        F.col("src").alias("_v"), F.col("nbrs").alias("nbrs_v")
    )
    per_edge = (
        stream.join(au, stream.src == au._u)
        .join(av, stream.dst == av._v)
        .select(
            "src", "dst", F.array_intersect("nbrs_u", "nbrs_v").alias("ws")
        )
        .withColumn("k", F.size("ws"))
        # edges on no triangle must emit nothing — a 0-weight row would
        # surface its endpoints as spurious n_triangles=0 output rows
        .where(F.col("k") > 0)
    )
    contribs = per_edge.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("src").alias("node"), F.col("k").alias("w")),
                    F.struct(F.col("dst").alias("node"), F.col("k").alias("w")),
                ),
                F.transform(
                    "ws",
                    lambda z: F.struct(
                        z.alias("node"), F.lit(1).alias("w")
                    ),
                ),
            )
        ).alias("c")
    ).select("c.node", "c.w")
    return contribs.groupBy("node").agg(F.sum("w").alias("n_triangles"))


def _driver_sssp(edges, source, n_rounds: int, until_converged: bool):
    """Vectorized synchronous Bellman-Ford over the collected ``edges``
    (src, dst, w), integral types. Returns columns node and dist of the
    reached nodes, or raises on non-convergence (same contract as the
    distributed loop). Each round
    gathers d[src] + w and scatters per-dst minima via one sorted
    reduceat — O(E) buffered numpy per round, identical round semantics
    to the distributed relaxation (synchronous: this round's candidates
    all read last round's labels)."""
    import numpy as np

    src, dst, w = (
        edges.column(c).to_numpy().astype(np.int64) for c in ("src", "dst", "w")
    )
    nodes = np.unique(np.concatenate([src, dst]))
    if len(nodes) == 0:
        return {"node": nodes, "dist": nodes}
    INF = np.int64(2**62)
    d = np.full(len(nodes), INF, dtype=np.int64)
    pos = np.searchsorted(nodes, np.int64(source))
    if pos < len(nodes) and nodes[pos] == source:
        d[pos] = 0
    si = np.searchsorted(nodes, src)
    order = np.argsort(dst, kind="stable")
    si_s = si[order]
    w_s = w[order]
    di_sorted = np.searchsorted(nodes, dst[order])
    ud, starts = np.unique(di_sorted, return_index=True)
    converged = False
    for _ in range(n_rounds):
        ds = d[si_s]
        # unreached sources stay INF exactly (the where masks the +w sum,
        # so negative weights cannot manufacture phantom reachability)
        nd = np.where(ds == INF, INF, ds + w_s)
        new = np.minimum(d[ud], np.minimum.reduceat(nd, starts))
        if not (new < d[ud]).any():
            converged = True
            break
        d[ud] = new
    if until_converged and not converged:
        raise RuntimeError(
            f"sssp_bellman_ford: no fixpoint within {n_rounds} rounds — "
            "raise n_rounds (the bound exists to catch negative-weight-"
            "style runaways, not to truncate silently)"
        )
    reached = d != INF
    return {"node": nodes[reached], "dist": d[reached]}


def sssp_bellman_ford(
    edges_w: DataFrame, source, n_rounds: int = 6, ckpt_every: int = 3,
    until_converged: bool = False,
) -> DataFrame:
    """Single-source shortest paths, Bellman-Ford: ``edges_w(src, dst, w)``
    directed with integer weights, fixed round count -> (node, dist) for
    nodes reached within n_rounds hops. ``until_converged=True`` (r10)
    instead iterates to the FIXPOINT — true shortest distances — with
    ``n_rounds`` as a hard bound that RAISES when exceeded; rounds are
    bounded by the weighted shortest-path tree depth, and each adds one
    count/sum convergence-probe job.

    Integer distances make the fixpoint oracle-checkable (bit-exact
    MIN/+ semiring; floats would accumulate order-dependent error).

    r11 (VERDICT r10 #4, guide §2.3): FRONTIER/delta relaxation. Only
    edges whose source IMPROVED in the previous round can improve a
    neighbor (invariant: after every round, dist(v) <= dist(u) + w holds
    for every edge from a non-frontier u — a frontier-empty state is
    therefore the full Bellman fixpoint, and round-k distances equal
    classic whole-graph Bellman-Ford round k exactly). The previous
    formulation re-relaxed ALL reached nodes every round — |E| relaxed
    rows per round for rounds that improve a handful of labels (measured
    at sf0.1: labels settle by round ~6 of 18; ~9 s of the 13.6 s query
    was post-settlement re-relaxation + convergence probes). Per round:
    one equi-join frontier⋈edges + one map-side-combinable groupBy MIN
    over the RELAXED rows only + one O(V) merge join, checkpointed —
    lineage is truncated every round by construction (ckpt_every is
    retained for API compatibility but no longer needed), and
    convergence detection is the merge's improved-count — no separate
    probe job, no signature arithmetic. Unreached nodes carry NULL (MIN
    ignores it) and are filtered at the end, so no sentinel-infinity
    arithmetic."""
    del ckpt_every  # superseded: the per-round merge checkpoint truncates lineage
    proj = edges_w.select("src", "dst", "w")
    dt = dict(proj.dtypes)["src"]
    out = driver_route(
        DRIVER_MAX_EDGES,
        lambda tbl: _driver_sssp(tbl, source, n_rounds, until_converged),
        proj,
        ids=("src", "dst"),
        types=INTEGRAL_TYPES,
        schema=f"node {dt}, dist bigint",
    )
    if out is not None:
        return out
    nodes = (
        edges_w.select(F.col("src").alias("node"))
        .unionByName(edges_w.select(F.col("dst").alias("node")))
        .distinct()
    )
    dist = nodes.select(
        "node",
        F.when(F.col("node") == source, F.lit(0).cast("long")).alias("d"),
    ).localCheckpoint()
    # a localCheckpoint has no Catalyst stats, so without a hint every
    # round SHUFFLES the full edge set against the frontier; when V is
    # broadcast-sized the relaxation join should stream the edges
    # instead (the seeded_closure r4 lesson). The 500k-row guard keeps the
    # genuinely big graphs on the shuffle plan.
    n_nodes = dist.count()
    small = n_nodes <= 500_000
    n_parts = max(1, n_nodes // 100_000 + 1)
    if small and dist.rdd.getNumPartitions() > n_parts:
        dist = dist.coalesce(n_parts)
    frontier = dist.filter(F.col("d").isNotNull())
    for _ in range(n_rounds):
        relaxed = (
            edges_w.join(F.broadcast(frontier) if small else frontier,
                         edges_w.src == F.col("node"))
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("nd"))
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        merged = dist.join(relaxed, "node", "left").select(
            "node",
            F.least("d", "nd").alias("d"),  # least skips NULLs: first label wins too
            (
                F.col("nd").isNotNull()
                & (F.col("d").isNull() | (F.col("nd") < F.col("d")))
            ).alias("_improved"),
        )
        if small:
            merged = merged.coalesce(n_parts)
        # lazy checkpoint; the improved-count below materializes it, so
        # each round is ONE job (plus the tiny frontier broadcast build)
        merged = merged.localCheckpoint(eager=False)
        n_improved = merged.filter(F.col("_improved")).count()
        dist = merged.select("node", "d")
        frontier = merged.filter(F.col("_improved")).select("node", "d")
        if n_improved == 0:
            return dist.filter(F.col("d").isNotNull()).select(
                "node", F.col("d").alias("dist")
            )
    if until_converged:
        raise RuntimeError(
            f"sssp_bellman_ford: no fixpoint within {n_rounds} rounds — "
            "raise n_rounds (the bound exists to catch negative-weight-"
            "style runaways, not to truncate silently)"
        )
    return dist.filter(F.col("d").isNotNull()).select("node", F.col("d").alias("dist"))
