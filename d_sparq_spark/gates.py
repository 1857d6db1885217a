"""Driver routes: the one place that decides whether an input may move to
the driver.

Several operators collect a metadata-sized input once and run a numpy or
Arrow kernel on the driver instead of paying a per-round Spark job floor
(~0.4-0.8 s a round of scheduling, AQE replanning and checkpointing on
graphs of a few thousand edges). Every one of them asks ``driver_route``,
which owns the whole admission rule; on None the caller runs its
distributed plan unchanged (the 100 TB path). Route table (g = the cap
scaled by ``gate``):

===========================  =========================  ================  =========
operator                     cap                        probe             declines
===========================  =========================  ================  =========
paths.transitive_closure     DRIVER_MAX_EDGES raw       caller's count    T C N B A
                             edge rows
paths.seeded_closure         DRIVER_MAX_EDGES raw       caller's count;   T C N B A
(ungrouped)                  edge rows and seeds        seeds limit(g+1)
graph.connected_components   DRIVER_MAX_EDGES           caller's count;   T C N A
                             distinct edges, nodes      nodes limit(g+1)
graph.pagerank               DRIVER_MAX_EDGES edges     caller's count    T C N A
graph.sssp_bellman_ford      DRIVER_MAX_EDGES edges     limit(g+1)        T C N A
similarity.kmeans_exact_int  DRIVER_KMEANS_MAX_CELLS    caller's count    C N V A
                             (rows x dim x k)           x dim x k
dictionary.assign_ids        DRIVER_RANK_MAX_ROWS       limit(g+1)        T C A
                             raw term rows
dictionary broadcast hint    DICT_BROADCAST_MAX_TERMS   manifest n_terms  none
(encode, decode; unscaled)   dictionary terms           or count()
===========================  =========================  ================  =========

Declines: T the id type (every column an id type — sssp: integral — and
the id columns of one type), C over g rows (k-means: cells), N a NULL in
a collected column (assign_ids ranks a NULL term, it is legal), B a
blown kernel pair/work budget, V a ragged vector or a NULL element
(k-means kernel), A a ``pyarrow.ArrowInvalid`` from a collect, the kernel
or the upload (string offsets past 2 GB).

load_pipeline keeps two file-listing routes under its own rules, with
their caps here: ``_driver_dict_files`` reads a local store's dictionary
on the driver when the manifest's ``n_terms`` is within
gate(DRIVER_RANK_MAX_ROWS), and ``_driver_delta`` takes a write delta
whose files total at most gate(DRIVER_DELTA_MAX_BYTES).

``$D_SPARQ_DRIVER_GATE_SCALE`` is a float multiplier applied to every
cap and kernel budget at comparison time (read per call, so a bench can
flip it around one query):

- unset / "1"  -> the caps below,
- "0"          -> every driver route declines; the distributed plans run
                  exactly as the gates-off equivalence tests pin them,
- "0.25"       -> quarter-size caps for a small driver.

Correctness does not depend on the route: every route has a test that
its answer equals the distributed plan's.
"""

from __future__ import annotations

import os

from d_sparq_spark.localdata import arrow_df

_ENV = "D_SPARQ_DRIVER_GATE_SCALE"

# Edge rows the graph kernels (closure, seeded walk, CC, PageRank, SSSP)
# collect: ~8 int64 arrays alive at the cap, ~1.3 GB, so the caps assume a
# driver with >= ~4 GB of headroom.
DRIVER_MAX_EDGES = 4_000_000
# Collected rows x dim x k: the int64 work of one k-means assignment pass
# (the kernel's buffers stay rows x dim).
DRIVER_KMEANS_MAX_CELLS = 40_000_000
# Raw term rows the driver dictionary rank collects; also the dictionary
# size (manifest n_terms) up to which a store's lookups read its files.
DRIVER_RANK_MAX_ROWS = 2_000_000
# Byte bound of the delta the driver write route takes (the files a text
# read of it scans, summed from a listing: no job). Measured with
# append_load on a ptable store, local[2], 4 vCPUs, deltas of
# fresh-subject / fresh-literal triples (~56 bytes a line): the driver
# route won by 3-6 s from 1k to 300k triples (16 MB; 16.3 s against
# 19.6 s at 150k, 8 MB) and lost by 10 s at 660k (37 MB), where Spark's
# handling of its large local relations (new dictionary rows, the
# encoded delta) outgrows the jobs it saves. The bound keeps it on the
# measured winning side, and bounds the driver's share of the write (its
# Python term list and lookups) by file size.
DRIVER_DELTA_MAX_BYTES = 8 << 20
# Dictionary terms up to which the loaders' encode joins and the encoded
# engine's decode joins hint a broadcast of the dictionary (above it AQE
# picks the join). Not a driver route: ``gate`` does not scale it, so the
# gates-off plans keep their broadcasts.
DICT_BROADCAST_MAX_TERMS = 10_000_000

INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")
ID_TYPES = INTEGRAL_TYPES + ("string",)


def gate(n: int) -> int:
    """``n`` scaled by $D_SPARQ_DRIVER_GATE_SCALE (identity when unset)."""
    s = os.environ.get(_ENV)
    if not s:
        return n
    try:
        return int(n * float(s))
    except ValueError:
        raise ValueError(
            f"{_ENV} must be a float multiplier, got {s!r}"
        ) from None


def driver_route(
    cap: int, kernel, *inputs, ids=(), types=ID_TYPES, nulls=False, budgets=(),
    schema=None,
):
    """``kernel(*tables, *scaled budgets)`` over the collected ``inputs``,
    uploaded with ``schema`` through localdata.arrow_df, or None when the
    route declines.

    ``inputs``: DataFrames, or ``(df, n)`` pairs when the caller already
    pinned and counted ``df`` (``n`` is the size compared with the cap).
    In order, without a job: every column must be of ``types`` (None: no
    check) and the ``ids`` columns must share one type; every known size
    must be within gate(cap). Then each input is collected in order —
    ``toArrow()`` for a counted one, else one bounded
    ``limit(g + 1).toArrow()`` that is probe and collect at once — and
    declines when it has more than g rows or, unless ``nulls``, a NULL.
    The kernel gets the ``budgets`` (its pair/work bounds) scaled by
    ``gate`` and returns its result columns — or, with no ``schema``, its
    uploaded result — or None when a budget blew. A
    ``pyarrow.ArrowInvalid`` from a collect, the kernel or the upload
    (string offsets past 2 GB) also declines."""
    import pyarrow as pa

    frames = [x if isinstance(x, tuple) else (x, None) for x in inputs]
    dtypes = {c: t for df, _ in frames for c, t in df.dtypes}
    if types is not None and (
        any(t not in types for t in dtypes.values())
        or len({dtypes[c] for c in ids}) > 1
    ):
        return None
    g = gate(cap)
    if any(n is not None and n > g for _, n in frames):
        return None
    try:
        tables = []
        for df, n in frames:
            tbl = df.toArrow() if n is not None else df.limit(g + 1).toArrow()
            if tbl.num_rows > g or (
                not nulls and any(c.null_count for c in tbl.columns)
            ):
                return None
            tables.append(tbl)
        out = kernel(*tables, *map(gate, budgets))
        if out is None or schema is None:
            return out
        return arrow_df(frames[0][0].sparkSession, out, schema)
    except pa.ArrowInvalid:
        return None
