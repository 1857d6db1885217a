"""Property-path operators (SPARQL 1.1 §9; SURVEY.md §2.B B15 — the item
the reference never had and SURVEY flags as HARD).

- sequence paths p/q: pure algebra — a join chain through a fresh
  intermediate variable (handled in the translator; nothing to do here),
- transitive closure p+ : iterative expansion to fixpoint.

``transitive_closure`` has two routes. An edge set that gates.driver_route
admits (see its route table) is collected once and closed by the DRIVER
KERNEL: dense int codes from arrow ``dictionary_encode``, numpy
semi-naive doubling, dictionary decode, one arrow upload. Otherwise the
DISTRIBUTED LOOP runs, the 100 TB path:

- the driver loop only iterates (bounded by graph diameter, NOT data
  size); each iteration is one distributed join frontier x edges,
- reached pairs are deduplicated per round so the frontier only carries
  NEW pairs — on a DAG this terminates in diameter rounds; on cyclic
  graphs the dedup guarantees termination,
- localCheckpoint() every iteration truncates the lineage — without it
  the plan doubles per round and Catalyst analysis goes quadratic (the
  classic iterative-algorithm failure mode on Spark),
- max_iter caps runaway graphs; hitting the cap raises rather than
  silently returning a partial closure.

Both routes run the same algorithm (see transitive_closure), so round
count, derivations and the fixpoint certificate are identical.
"""

from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d_sparq_spark.gates import DRIVER_MAX_EDGES, driver_route

# The driver kernels' budgets (scaled with the gates): the output cap (~8
# numpy int64 arrays alive at the cap ≈ 1.3 GB) and the per-round
# candidate budget each abandon back to the distributed route — never a
# wrong answer or an OOM.
_VEC_CLOSURE_MAX_PAIRS = 20_000_000
_VEC_CLOSURE_MAX_WORK = 100_000_000

# Below this many (deduped) string edges the distributed route skips
# xxhash64 encoding: the prep (terms distinct + injectivity aggregate) and
# the decode join pair cost more than shuffling a few thousand short
# strings ever could. The measured ~1.7x string tax the encoding removes
# is a BIG-graph effect (BASELINE.md q_closure_big_int twin).
_ENCODE_MIN_EDGES = 50_000


def transitive_closure(
    edges: DataFrame, max_iter: int = 48, group_col: str | None = None
) -> DataFrame:
    """edges(src, dst) -> all (src, dst) pairs connected by a path of
    length >= 1. Columns must be named src/dst.

    Routes: the raw edge set is pinned once (localCheckpoint + count).
    When gates.driver_route admits it the driver kernel
    (``_driver_closure``) closes it; otherwise the edges are
    deduplicated, string ids at or above ``_ENCODE_MIN_EDGES`` edges are
    hash-encoded, and the distributed loop (``_closure_fixpoint``) runs.

    Path DOUBLING, not single-step expansion: round k covers all paths of
    length <= 2^k, so a diameter-d graph converges in ceil(log2 d) + 1
    rounds (a 10^6-hop chain is 21 rounds; single-stepping would be 10^6
    driver iterations — the difference between usable and not at scale).
    max_iter=48 covers diameters beyond 2^47 — hitting it means runaway
    growth, so raise.

    1. CANONICAL-SPLIT semi-naive composition with exact min-distance
       labels. The closure is kept as DISJOINT delta parts, each pair
       carrying its exact min-distance ``_d``; round k composes only
       (pairs at min-distance EXACTLY 2^k) ⋈ closure — never
       closure ⋈ closure. This is complete: a pair at min-distance
       L ∈ (2^k, 2^(k+1)] has, on any of its shortest paths, the node at
       position 2^k, whose prefix is itself shortest (else L was not
       minimal) — so (x,m) is at EXACTLY 2^k and (m,y) at L−2^k ≤ 2^k is
       in the closure. It also kills midpoint multiplicity: on unique-
       shortest-path graphs every new pair is derived exactly once.
       Distance labels stay exact (min over derivations; the canonical
       split realizes L), the dedup-vs-known probe and the per-pair min
       fuse into ONE aggregation (min over a (_new,_d) struct with known
       pairs as 0-sentinels), and convergence is free: no pair at exactly
       2^k ⇒ no pair beyond 2^k (the prefix argument again), checked in
       the same count job that materializes the round's lazy checkpoint —
       one Spark job per round.

    2. HASH-ENCODED iteration for big string edge sets on the distributed
       route. String src/dst are xxhash64-encoded ONCE, injectivity is
       verified with one aggregate over the distinct terms
       (count == count_distinct(hash); on a collision — probability
       ~n²/2^64 — we fall back to lexical iteration, never a wrong
       answer), the fixpoint runs on 8-byte keys, and one final join pair
       (broadcast-gated at 2M terms) decodes the result.

    ``group_col`` names an extra edge column that partitions the graph
    into independent subgraphs (GRAPH ?g: one closure per named graph).
    Pairs only compose within a group. The distributed loop carries the
    group on every join key, so ALL groups converge in one shared loop;
    the driver kernel folds the group into the node code, so a grouped
    closure is an ungrouped closure over group-qualified nodes."""
    keys = [group_col] if group_col else []
    # pin the RAW edge set once: the driver kernel dedups for free, so the
    # dedup exchange is only paid when it declines, and every later pass
    # reads the checkpoint instead of re-running the upstream scan/filter
    raw = edges.select(*keys, "src", "dst").localCheckpoint(eager=False)
    out = driver_route(
        DRIVER_MAX_EDGES,
        partial(_driver_closure, keys, max_iter),
        (raw, raw.count()),
        ids=("src", "dst"),
        budgets=(_VEC_CLOSURE_MAX_PAIRS, _VEC_CLOSURE_MAX_WORK),
        schema=raw.schema,
    )
    if out is not None:
        return out
    edges = raw.distinct().localCheckpoint(eager=False)
    types = dict(edges.dtypes)
    if (
        types["src"] == types["dst"] == "string"
        and edges.count() >= _ENCODE_MIN_EDGES
    ):
        terms = (
            edges.select(F.col("src").alias("term"))
            .unionByName(edges.select(F.col("dst").alias("term")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        st = terms.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.xxhash64("term")).alias("h"),
        ).first()
        if st["n"] == st["h"]:  # hash is injective on this node set
            # the edges are deduped and the hash is injective, so the
            # encoded set is distinct too; pin it so rounds never rehash
            enc = edges.select(
                *keys,
                F.xxhash64("src").alias("src"),
                F.xxhash64("dst").alias("dst"),
            ).localCheckpoint(eager=False)
            pairs = _closure_fixpoint(enc, max_iter, keys)
            m_src = terms.select(
                F.xxhash64("term").alias("src"), F.col("term").alias("_t_src")
            )
            m_dst = terms.select(
                F.xxhash64("term").alias("dst"), F.col("term").alias("_t_dst")
            )
            if st["n"] <= 2_000_000:
                m_src, m_dst = F.broadcast(m_src), F.broadcast(m_dst)
            return (
                pairs.join(m_src, "src")
                .join(m_dst, "dst")
                .select(
                    *keys,
                    F.col("_t_src").alias("src"),
                    F.col("_t_dst").alias("dst"),
                )
            )
    # non-string ids, a small string edge set, or a hash collision (never
    # observed): iterate on the deduped ids as they are
    return _closure_fixpoint(edges, max_iter, keys)


def _factorize(*cols):
    """Joint dense int64 codes for same-typed arrow columns, computed at C
    level by ``dictionary_encode`` (no Python objects per value). Returns
    (one code array per column, the dictionary) — decode with
    ``dictionary.take``."""
    import numpy as np
    import pyarrow as pa

    joined = pa.chunked_array(
        [ch for c in cols for ch in c.chunks], type=cols[0].type
    ).combine_chunks()
    denc = joined.dictionary_encode()
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return np.split(codes, np.cumsum([len(c) for c in cols[:-1]])), denc.dictionary


def _driver_closure(keys, max_iter, tbl, pair_cap, work_cap):
    """The driver kernel of transitive_closure: the collected edges ``tbl``
    (*keys, src, dst) are factorized and closed by ``_vector_closure``;
    returns the closure's columns. A group column is packed into the node
    code (g * V + node), so pairs compose only within their group. None
    when a budget blows."""
    import pyarrow as pa

    (src, dst), nodes = _factorize(tbl.column("src"), tbl.column("dst"))
    V = max(len(nodes), 1)
    if keys:
        (g,), groups = _factorize(tbl.column(keys[0]))
        src, dst = g * V + src, g * V + dst
    out = _vector_closure(src, dst, max_iter, pair_cap, work_cap)
    if out is None:
        return None
    cols = {keys[0]: groups.take(pa.array(out[0] // V))} if keys else {}
    cols["src"] = nodes.take(pa.array(out[0] % V))
    cols["dst"] = nodes.take(pa.array(out[1] % V))
    return cols


def _merge_sorted(a, b):
    """Linear merge of two sorted, disjoint int64 arrays (np.union1d would
    re-sort)."""
    import numpy as np

    merged = np.empty(len(a) + len(b), dtype=np.int64)
    mask = np.zeros(len(merged), dtype=bool)
    mask[np.searchsorted(a, b) + np.arange(len(b))] = True
    merged[mask] = b
    merged[~mask] = a
    return merged


def _vector_closure(src, dst, max_iter: int, pair_cap: int, work_cap: int):
    """Transitive closure of an INTEGER edge list, vectorized on the
    driver. ``src``/``dst``: int64 numpy arrays. Returns the closure as a
    (src, dst) pair of numpy arrays, or None when a budget blows (the
    caller falls back to the distributed loop).

    Same algorithm as the distributed loop below — canonical-split
    semi-naive doubling with exact min-distance labels (see
    transitive_closure's completeness argument; part k holds exactly the
    pairs at min-distance in (2^(k-1), 2^k], so the round's compose side
    "pairs at EXACTLY 2^k" lives in the newest part alone) — so round
    count, derivations and the fixpoint certificate are identical; only
    the substrate differs (sorted int64 arrays, searchsorted joins,
    lexsort min-d dedup, linear merges into the sorted known set)."""
    import numpy as np

    # factorize to 0..V-1 so a pair packs into one int64 key (group-packed
    # codes span up to G*V; V <= 2|E| keeps src*V+dst < 2^63)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    V = len(nodes)
    if V == 0:
        return nodes, nodes
    base_key = np.unique(inv[: len(src)].astype(np.int64) * V + inv[len(src):])
    # disjoint parts: keys + min-distances; part_src[k] = part k's keys
    # re-sorted by src (the compose probe side), built once per part
    part_keys = [base_key]
    part_ds = [np.ones(len(base_key), np.int64)]
    by_src = []  # per part: (src_sorted, dst_at, d_at)
    known = base_key  # sorted union of all part keys
    step = 1
    work = 0
    for _ in range(max_iter):
        exact_mask = part_ds[-1] == step
        ek = part_keys[-1][exact_mask]
        if len(ek) == 0:
            break
        csrc = part_keys[-1] // V
        order = np.argsort(csrc, kind="stable")
        by_src.append(
            (
                csrc[order],
                (part_keys[-1] % V)[order],
                part_ds[-1][order],
            )
        )
        ex_src = ek // V
        ex_dst = ek % V
        # probe in dst order: the parts are probed by binary search, and
        # first-appearance node codes visit them in random order — sorting the
        # probe side makes consecutive searches touch the same cache lines
        # (measured 5.5 s -> 0.7 s of probe time on the 1.18M-edge
        # xxhash64-encoded closure; candidate order is irrelevant, the
        # lexsort below canonicalizes it)
        qo = np.argsort(ex_dst, kind="stable")
        ex_src = ex_src[qo]
        ex_dst = ex_dst[qo]
        cand_key_parts = []
        cand_d_parts = []
        for p_src, p_dst, p_d in by_src:
            lo = np.searchsorted(p_src, ex_dst, "left")
            hi = np.searchsorted(p_src, ex_dst, "right")
            counts = hi - lo
            total = int(counts.sum())
            work += total
            if work > work_cap:
                return None
            if total == 0:
                continue
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            idx = np.arange(total) - np.repeat(starts, counts) + np.repeat(lo, counts)
            cand_key_parts.append(np.repeat(ex_src, counts) * V + p_dst[idx])
            cand_d_parts.append(step + p_d[idx])
        step *= 2
        if not cand_key_parts:
            break
        c_key = np.concatenate(cand_key_parts)
        c_d = np.concatenate(cand_d_parts)
        # min distance per derived pair, then drop already-known pairs
        o = np.lexsort((c_d, c_key))
        c_key = c_key[o]
        c_d = c_d[o]
        first = np.ones(len(c_key), bool)
        first[1:] = c_key[1:] != c_key[:-1]
        c_key = c_key[first]
        c_d = c_d[first]
        pos = np.searchsorted(known, c_key)
        pos_c = np.minimum(pos, len(known) - 1)
        is_known = known[pos_c] == c_key
        new_key = c_key[~is_known]
        new_d = c_d[~is_known]
        if len(new_key) == 0:
            break
        if len(known) + len(new_key) > pair_cap:
            return None
        part_keys.append(new_key)
        part_ds.append(new_d)
        known = _merge_sorted(known, new_key)
    else:
        raise RuntimeError(
            f"transitive_closure: no fixpoint within {max_iter} doubling rounds"
        )
    out = np.concatenate(part_keys)
    return nodes[out // V], nodes[out % V]


def _vector_seeded(e_src, e_dst, seed_vals, pair_cap: int, work_cap: int):
    """Vectorized seeded reachability over collected integer arrays (seeds
    and endpoints share one value space). Multi-source BFS on packed
    (seed_idx * V + node) int64 keys — single-step rounds are ~ms on the
    driver, so no stride machinery is needed. Returns a (src_vals,
    dst_vals) pair of numpy arrays (seed value, reachable node at >= 1
    hop — the same pair set the distributed walk accumulates), or None
    when a budget blows (caller falls back to the distributed walk)."""
    import numpy as np

    vals = np.unique(np.concatenate([e_src, e_dst]))
    if len(vals) == 0:
        return vals, vals
    si = np.searchsorted(vals, e_src)
    di = np.searchsorted(vals, e_dst)
    sv = np.unique(seed_vals)
    pos = np.searchsorted(vals, sv)
    pos_c = np.minimum(pos, len(vals) - 1)
    present = vals[pos_c] == sv
    seed_codes = pos_c[present]
    V = len(vals)
    order = np.argsort(si, kind="stable")
    csr_src = si[order]
    csr_dst = di[order]
    S = len(seed_codes)
    if S == 0:
        return vals[:0], vals[:0]
    frontier = np.arange(S, dtype=np.int64) * V + seed_codes
    reached = np.empty(0, dtype=np.int64)  # packed (seed_idx, node), sorted
    work = 0
    while len(frontier):
        f_k = frontier // V
        f_node = frontier % V
        lo = np.searchsorted(csr_src, f_node, "left")
        hi = np.searchsorted(csr_src, f_node, "right")
        counts = hi - lo
        total = int(counts.sum())
        work += total + len(frontier)
        if work > work_cap:
            return None
        if total == 0:
            break
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        idx = np.arange(total) - np.repeat(starts, counts) + np.repeat(lo, counts)
        keys = np.repeat(f_k, counts) * V + csr_dst[idx]
        keys = np.unique(keys)
        if len(reached):
            p = np.searchsorted(reached, keys)
            p_c = np.minimum(p, len(reached) - 1)
            keys = keys[reached[p_c] != keys]
        if len(keys) == 0:
            break
        if len(reached) + len(keys) > pair_cap:
            return None
        reached = _merge_sorted(reached, keys)
        frontier = keys
    sv_present = sv[present]
    return sv_present[reached // V], vals[reached % V]


def _driver_seeded(seeds, edges, pair_cap, work_cap):
    """The driver kernel of seeded_closure: the collected ``seeds`` (n) and
    ``edges`` (_esrc, _edst), walked by ``_vector_seeded``; returns the
    (src, dst) columns. String ids are factorized and the BFS runs on the
    dense int64 codes; seed values map into the same dictionary with
    index_in (absent seeds drop — they can reach nothing). None when a
    budget blows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    sp = seeds.column("n")
    uniq = None
    if pa.types.is_integer(sp.type):
        e_src = edges.column("_esrc").to_numpy()
        e_dst = edges.column("_edst").to_numpy()
        seed_vals = sp.to_numpy()
    else:
        (e_src, e_dst), uniq = _factorize(edges.column("_esrc"), edges.column("_edst"))
        sidx = pc.index_in(sp.cast(uniq.type), value_set=uniq)
        seed_vals = sidx.filter(pc.is_valid(sidx)).to_numpy().astype("int64")
    out = _vector_seeded(e_src, e_dst, seed_vals, pair_cap, work_cap)
    if out is None:
        return None
    if uniq is not None:
        out = [uniq.take(pa.array(v)) for v in out]
    return {"src": out[0], "dst": out[1]}


def _closure_fixpoint(edges: DataFrame, max_iter: int, keys: list[str]) -> DataFrame:
    """The distributed canonical-split doubling loop behind
    transitive_closure (see its docstring for the algorithm and the
    completeness argument). ``edges`` must be DISTINCT and pinned
    (checkpointed): the base part is a projection of it, re-read every
    round."""
    pair_cols = keys + ["src", "dst"]
    base = edges.select(*pair_cols, F.lit(1).alias("_d"))
    # one job: materialize the pinned edges + the base pair count
    n_base = base.count()
    n_exact = n_base
    parts = [base]  # disjoint checkpointed deltas; union = closure
    delta, step = base, 1
    for _ in range(max_iter):
        if n_exact == 0:
            return reduce(DataFrame.unionByName, parts).select(*pair_cols)
        exact = delta.filter(F.col("_d") == step)
        closure = reduce(DataFrame.unionByName, parts)
        # the same checkpointed relations appear multiple times in one
        # round's plan (delta ∈ parts, the compose right side, the known
        # sentinels) — re-alias EVERY projection so each occurrence gets
        # fresh attribute ids, or the analyzer's attribute dedup fails
        # with "key not found" (the failure seeded_closure documents)
        rhs = closure.select(
            *[F.col(k).alias(f"_r_{k}") for k in keys],
            F.col("src").alias("_r_src"),
            F.col("dst").alias("_r_dst"),
            F.col("_d").alias("_r_d"),
        )
        # checkpointed deltas carry no Catalyst stats, so a shrinking
        # late-round exact side would never auto-broadcast
        lhs = F.broadcast(exact) if n_exact <= 100_000 else exact
        cand = lhs.join(
            rhs,
            [F.col("dst") == F.col("_r_src")]
            + [F.col(k) == F.col(f"_r_{k}") for k in keys],
        ).select(
            *[F.col(k).alias(k) for k in keys],
            F.col("src").alias("src"),
            F.col("_r_dst").alias("dst"),
            (F.lit(step) + F.col("_r_d")).alias("_d"),
            F.lit(1).alias("_new"),
        )
        known = closure.select(
            *[F.col(c).alias(c) for c in pair_cols],
            F.col("_d").alias("_d"),
            F.lit(0).alias("_new"),
        )
        delta = (
            cand.unionByName(known)
            .groupBy(*pair_cols)
            .agg(F.min(F.struct("_new", "_d")).alias("_m"))
            .filter(F.col("_m._new") == 1)
            .select(*pair_cols, F.col("_m._d").alias("_d"))
            .localCheckpoint(eager=False)
        )
        step *= 2
        r = delta.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("_d") == step, 1)).alias("e"),
        ).first()
        n_exact = r["e"]
        if r["n"]:
            parts.append(delta)
    raise RuntimeError(
        f"transitive_closure: no fixpoint within {max_iter} doubling rounds"
    )


def _stride_hops(edges: DataFrame, keys: list[str], base_n: int, stride: int):
    """seeded_closure's hop relation: the (deduped, pinned) ``edges`` pairs
    at distance 1..stride, by doubling: (1..d) o (1..d) ∪ (1..d) = 1..2d.
    Built once, checkpointed per level. A growth guard stops deepening
    when the pair count blows past 8x the edge count (hub-heavy graphs:
    every 2-hop path through a hub is a pair) — the strided relation must
    stay edge-set-sized, not closure-sized. Returns (hop, cap_engaged)."""
    hop, depth = edges, 1
    n_prev = base_n
    while depth < stride:
        composed = (
            hop.alias("l")
            .join(
                hop.alias("r"),
                [F.col("l._edst") == F.col("r._esrc")]
                + [F.col(f"l._ek_{k}") == F.col(f"r._ek_{k}") for k in keys],
            )
            .select(
                *[F.col(f"l._ek_{k}").alias(f"_ek_{k}") for k in keys],
                F.col("l._esrc").alias("_esrc"),
                F.col("r._edst").alias("_edst"),
            )
        )
        nxt = hop.unionByName(composed).distinct().localCheckpoint()
        n2 = nxt.count()
        if n2 > 8 * base_n:
            # guard BEFORE adopting: the composed relation that blew past
            # the cap must be discarded, or every subsequent frontier join
            # pays for a closure-sized hop relation (the cap's whole point)
            return hop, True
        hop, depth = nxt, depth * 2
        if n2 == n_prev:
            break  # hop relation at fixpoint: deeper composition is a no-op
        n_prev = n2
    return hop, False


def seeded_closure(
    edges: DataFrame,
    seeds: DataFrame,
    bfs_rounds: int = 32,
    group_col: str | None = None,
    stride: int = 8,
) -> DataFrame:
    """Reachability FROM a seed set: all (src, dst) with src in seeds(n)
    and dst reachable via >= 1 edge. For `<x> p+ ?y` (or a p+ whose source
    variable the BGP already bound) the full transitive closure is
    O(reachable-pairs) state for the WHOLE graph to answer a handful of
    sources — this frontier expansion keeps state O(pairs reachable from
    seeds), the thing that actually fits at 100 TB.

    STRIDED frontier iteration: the hop relation is pre-doubled to pairs
    at distance 1..stride (log2(stride) self-joins of the edge set, done
    once), so each round advances `stride` hops — a diameter-d graph takes
    ceil(d/stride) rounds instead of d. Driver-round overhead (one
    checkpoint + one empty-probe per round) dominates small graphs, so
    fewer rounds is a direct win; at scale the stride relation's state is
    O(paths of length <= stride) and ADDITIONALLY capped at 8x the edge
    count (deepening stops when composition blows past that — hub-heavy
    graphs), unlike the doubling closure's O(all pairs). Seeds are probed
    against the raw edges BEFORE the strided relation is built, so a
    seed set that touches nothing costs one join, not three self-joins.

    The stride build itself is LAZY: on a big edge set with a
    small seed frontier, pre-doubling the WHOLE edge relation costs more
    than the entire BFS (measured 20 s of a 22 s query on the ~786k-edge
    synthetic graph as first benched) — so when the edges outnumber a
    build threshold and
    the frontier is small relative to them, the walk single-steps over the
    raw edges first and only builds the strided relation if the graph
    turns out deeper than `stride` hops. Small edge sets (< ~50k) keep
    the upfront build: there the 2-3 self-joins are sub-second and fewer
    driver rounds win.

    The anti-join vs everything reached so far
    guarantees termination on cycles; `reached` is the union of per-round
    CHECKPOINTED frontiers (disjoint by construction), so no re-checkpoint
    of the accumulated set is needed per round. A graph deeper than the
    single-step + strided round budget falls back to the doubling closure
    semi-joined to the seeds rather than erroring.

    ``group_col`` (GRAPH ?g) partitions the edge set into independent
    subgraphs: pairs compose only within a group and the output carries
    the group column. Seeds WITHOUT the group column (a constant path
    endpoint) seed every group they occur in; seeds WITH it (a variable
    the BGP bound alongside g) seed only their own graph."""
    # collision-free internal names: the per-round plan joins the same
    # checkpointed hop relation repeatedly; sharing output names with the
    # frontier trips the analyzer's attribute dedup (key-not-found) when
    # the checkpoint's exprIds recur under distinct.
    keys = [group_col] if group_col else []
    edges = edges.select(
        *[F.col(k).alias(f"_ek_{k}") for k in keys],
        F.col("src").alias("_esrc"),
        F.col("dst").alias("_edst"),
    )
    # Ungrouped walks pin the edge set RAW, not distinct (as
    # transitive_closure does): the vectorized driver BFS below dedups
    # for free (np.unique per round), so the dedup EXCHANGE over |E|
    # rows is deferred until the fast path declines. Grouped walks keep
    # the dedup-first order (they never take the driver path).
    deduped = bool(keys)
    if deduped:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=False)
    # the count materializes the checkpoint (the walk needs base_n anyway)
    # and gates the driver fast path below
    base_n = edges.count()
    seed_keyed = group_col is not None and group_col in seeds.columns
    if seed_keyed:
        vcol = next(c for c in seeds.columns if c != group_col)
        seeds = seeds.select(
            F.col(group_col).alias("_sk"), F.col(vcol).alias("n")
        ).distinct()
        seed_cond = [
            F.col("n") == F.col("_esrc"),
            F.col("_sk") == F.col(f"_ek_{group_col}"),
        ]
    else:
        seeds = seeds.select(F.col(seeds.columns[0]).alias("n")).distinct()
        seed_cond = [F.col("n") == F.col("_esrc")]
    # driver route (ungrouped): the whole walk runs as a vectorized
    # multi-source BFS — no ~0.5 s/round job floor, no per-round
    # broadcast ships
    if not keys:
        dt = dict(edges.dtypes)["_esrc"]
        out = driver_route(
            DRIVER_MAX_EDGES,
            _driver_seeded,
            seeds,
            (edges, base_n),
            ids=("n", "_esrc", "_edst"),
            budgets=(_VEC_CLOSURE_MAX_PAIRS, _VEC_CLOSURE_MAX_WORK),
            schema=f"src {dt}, dst {dt}",
        )
        if out is not None:
            return out
    if not deduped:
        # driver path declined: the distributed walk wants DISTINCT edges
        # (duplicates multiply every per-round join before the frontier
        # distinct cleans them) — dedup the CHECKPOINTED raw rows, so the
        # upstream generator never re-runs
        edges = edges.distinct().localCheckpoint(eager=False)
        base_n = edges.count()
    # 1-hop frontier from the (now deduped) edges first: if the seeds touch
    # nothing (common for selective constants), return before paying for
    # the strided hop relation below. Note the driver-path gate above
    # compares RAW row counts — a heavily duplicated edge stream whose
    # DISTINCT size would fit the gate declines conservatively (correct,
    # just not fast; a pre-gate dedup would pay the exchange the deferral
    # exists to avoid).
    frontier = (
        seeds.join(edges, seed_cond)
        .select(
            *[F.col(f"_ek_{k}").alias(k) for k in keys],
            F.col("n").alias("src"),
            F.col("_edst").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    frontier_n = frontier.count()
    if frontier_n == 0:
        return frontier
    pair_cols = keys + ["src", "dst"]

    step_cond = [F.col("dst") == F.col("_esrc")] + [
        F.col(k) == F.col(f"_ek_{k}") for k in keys
    ]
    out_cols = [*[F.col(k) for k in keys], F.col("src"), F.col("_edst").alias("dst")]

    def expand(frontier, parts, hop, rounds, grow_cap=None):
        """BFS rounds with the given hop relation; returns (frontier,
        parts) — frontier None means converged (parts is the answer).
        grow_cap: the deferred phase — the frontier is KNOWN small, so it
        gets an explicit broadcast hint (a localCheckpoint's stats are
        unknown to Catalyst, which otherwise SHUFFLES the full edge set
        every round — measured 14s of a 15s walk), the checkpoint is lazy
        (the convergence count doubles as its materializer: one job per
        round, not two), and stop early (frontier non-None) if the
        frontier outgrows the cap — the signal to switch to the prebuilt
        strided relation."""
        for _ in range(rounds):
            reached = reduce(DataFrame.unionByName, parts)
            lhs = F.broadcast(frontier) if grow_cap is not None else frontier
            step = lhs.join(hop, step_cond).select(*out_cols)
            nxt = step.join(reached, pair_cols, "left_anti").distinct()
            if grow_cap is not None:
                # AQE is off in this phase, so the distinct leaves
                # shuffle.partitions near-empty partitions — one partition
                # per (cap-bounded, broadcast-sized) frontier keeps each
                # round's jobs at single-task scale
                frontier = nxt.coalesce(1).localCheckpoint(eager=False)
                n = frontier.count()
                if n == 0:
                    return None, parts
                parts.append(frontier)
                if n >= grow_cap:
                    return frontier, parts
            else:
                frontier = nxt.localCheckpoint()
                if not frontier.take(1):
                    return None, parts
                parts.append(frontier)
        return frontier, parts

    parts = [frontier]  # disjoint checkpointed frontiers; union = reached
    # lazy stride build: see docstring. Big edges + small frontier ->
    # broadcast-frontier single steps over the RAW edges (shuffle-free,
    # no global hop materialization) for as long as the frontier STAYS
    # small; the prebuilt stride relation is paid for only if the walk
    # outlives the round budget or the frontier grows to edge-set scale
    # mid-walk.
    build_upfront = base_n <= 50_000 or frontier_n * 4 >= base_n
    if not build_upfront:
        # per-round latency hygiene for the small-frontier walk: the
        # checkpointed edge relation keeps ~100k rows per partition —
        # shuffle.partitions-many near-empty tasks per round is pure
        # scheduler latency locally, while a genuinely big edge set keeps
        # its parallelism. (No session-conf toggles here: flipping AQE
        # around the loop measured as noise and races concurrent queries
        # on a shared session.)
        want = max(8, (base_n + 99_999) // 100_000)
        if edges.rdd.getNumPartitions() > want:
            edges = edges.coalesce(int(want))
        # cap also bounds the BROADCAST: past ~500k pair rows the hint
        # would ship tens of MB per round — switch to shuffle joins with
        # the prebuilt strided relation instead
        frontier, parts = expand(
            frontier, parts, edges, bfs_rounds,
            grow_cap=min((base_n + 3) // 4, 500_000),
        )
        if frontier is None:
            return reduce(DataFrame.unionByName, parts)
    hop, _ = _stride_hops(edges, keys, base_n, stride)
    frontier, parts = expand(frontier, parts, hop, bfs_rounds)
    if frontier is None:
        return reduce(DataFrame.unionByName, parts)
    # diameter exceeded the budget (stride * bfs_rounds hops): finish with
    # the log-rounds doubling loop, restricted to the seed sources at the
    # end (correct, just not frontier-sized).
    full = transitive_closure(
        edges.select(
            *[F.col(f"_ek_{k}").alias(k) for k in keys],
            F.col("_esrc").alias("src"),
            F.col("_edst").alias("dst"),
        ),
        group_col=group_col,
    )
    cond = [full["src"] == seeds["n"]] + (
        [full[group_col] == seeds["_sk"]] if seed_keyed else []
    )
    return full.join(seeds, cond, "left_semi")
