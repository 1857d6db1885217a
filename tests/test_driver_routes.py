"""Both sides of every driver route (gates.driver_route).

Each of the seven operators that can collect its input and run a numpy
kernel on the driver must give the driver route's answer whenever the
route declines: over the cap (the gate scale puts the cap one below the
input's size), a NULL in the input (assign_ids ranks NULL, so it has no
such decline), and an ArrowInvalid raised by the kernel. Just inside the
cap the kernel runs. A job pin per route keeps the driver route's Spark
job count where it is."""

import pyarrow as pa
import pytest

from d_sparq_spark import gates
from d_sparq_spark.operators import dictionary as D
from d_sparq_spark.operators import graph as G
from d_sparq_spark.operators import paths as P
from d_sparq_spark.operators import similarity as S

_E = [(i, (i * 7 + 3) % 20) for i in range(20)] + [(3, 17), (17, 3)]


def _rows(out):
    return sorted(map(tuple, out.collect()), key=str)


def _closure(spark, null):
    e = spark.createDataFrame(_E + [(None, 4)] * null, "src long, dst long")
    return (lambda: P.transitive_closure(e)), len(_E) + null


def _seeded(spark, null):
    e = spark.createDataFrame(_E + [(5, None)] * null, "src long, dst long")
    s = spark.createDataFrame([(0,), (5,), (99,)], "n long")
    return (lambda: P.seeded_closure(e, s)), len(_E) + null


def _cc(spark, null):
    n = spark.createDataFrame([(i,) for i in range(25)] + [(None,)] * null, "node long")
    e = spark.createDataFrame(_E, "u long, v long")
    # the cap bounds the distinct edges and the nodes, 25 of them
    return (lambda: G.connected_components(n, e)), 25


def _pagerank(spark, null):
    e = spark.createDataFrame(_E + [(None, 4)] * null, "src long, dst long")
    return (lambda: G.pagerank(e, n_iter=4)), len(_E) + null


def _sssp(spark, null):
    rows = [(u, v, (u + v) % 5 + 1) for u, v in _E] + [(1, 2, None)] * null
    e = spark.createDataFrame(rows, "src long, dst long, w long")
    return (lambda: G.sssp_bellman_ford(e, 0, n_rounds=32, until_converged=True)), len(rows)


def _kmeans(spark, null):
    rows = [(i, [float((i * j) % 7 - 3) for j in range(1, 4)]) for i in range(12)]
    rows += [(None, [0.5, 0.5, 0.5])] * null
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return (lambda: S.kmeans_exact_int(emb, k=3, n_iter=3)), len(rows) * 3 * 3


def _rank(spark, null):
    t = spark.createDataFrame(
        [(w,) for w in ["b", "a", "é", "", None, "b", "中"]], "term string"
    )
    return (lambda: D.assign_ids(t)), 7


# name, input factory, cap, kernel (module, attribute), driver-route jobs
ROUTES = [
    ("transitive_closure", _closure, gates.DRIVER_MAX_EDGES, (P, "_vector_closure"), 3),
    ("seeded_closure", _seeded, gates.DRIVER_MAX_EDGES, (P, "_vector_seeded"), 5),
    ("connected_components", _cc, gates.DRIVER_MAX_EDGES, (G, "_driver_cc"), 6),
    ("pagerank", _pagerank, gates.DRIVER_MAX_EDGES, (G, "_driver_pagerank"), 3),
    ("sssp_bellman_ford", _sssp, gates.DRIVER_MAX_EDGES, (G, "_driver_sssp"), 1),
    ("kmeans_exact_int", _kmeans, gates.DRIVER_KMEANS_MAX_CELLS,
     (S, "_driver_kmeans_exact_int"), 4),
    ("assign_ids", _rank, gates.DRIVER_RANK_MAX_ROWS, (D, "_driver_rank"), 1),
]
_IDS = [r[0] for r in ROUTES]


def _spy(monkeypatch, kernel, raise_invalid=False):
    mod, name = kernel
    real = getattr(mod, name)
    calls = []

    def spy(*a, **kw):
        calls.append(1)
        if raise_invalid:
            raise pa.ArrowInvalid("offset overflow while concatenating arrays")
        return real(*a, **kw)

    monkeypatch.setattr(mod, name, spy)
    return calls


def _scale(monkeypatch, size, cap, delta):
    """Scale the gates so ``cap`` admits ``size + delta`` rows (or cells)."""
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", repr((size + delta) / cap))


@pytest.mark.parametrize("name,build,cap,kernel,_jobs", ROUTES, ids=_IDS)
def test_route_declines_give_the_driver_answer(spark, monkeypatch, name, build, cap, kernel, _jobs):
    run, size = build(spark, null=False)
    calls = _spy(monkeypatch, kernel)
    _scale(monkeypatch, size, cap, 0.5)  # just inside the cap
    want = _rows(run())
    assert calls == [1], "the kernel runs at its cap"
    _scale(monkeypatch, size, cap, -0.5)  # one below the input's size
    assert _rows(run()) == want
    assert calls == [1], "over the cap the route declines"
    monkeypatch.undo()
    calls = _spy(monkeypatch, kernel, raise_invalid=True)
    assert _rows(run()) == want
    assert calls == [1], "an ArrowInvalid from the kernel declines"


@pytest.mark.parametrize(
    "name,build,cap,kernel,_jobs", [r for r in ROUTES if r[0] != "assign_ids"],
    ids=[i for i in _IDS if i != "assign_ids"],
)
def test_route_declines_on_null(spark, monkeypatch, name, build, cap, kernel, _jobs):
    run, _ = build(spark, null=True)
    calls = _spy(monkeypatch, kernel)
    got = _rows(run())
    assert calls == [], "a NULL in the input declines"
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    assert got == _rows(run())


def test_rank_admits_null(spark, monkeypatch):
    """assign_ids' NULL term is legal and ranks first: the driver rank
    keeps it."""
    run, _ = _rank(spark, null=False)
    calls = _spy(monkeypatch, (D, "_driver_rank"))
    got = _rows(run())
    assert calls == [1]
    assert (1, None) in got


@pytest.mark.parametrize("name,build,cap,kernel,jobs", ROUTES, ids=_IDS)
def test_route_job_count(spark, monkeypatch, jobs_fired, name, build, cap, kernel, jobs):
    """Building the operator's result on the driver route fires at most
    this many Spark jobs (the input's count and collects)."""
    monkeypatch.delenv("D_SPARQ_DRIVER_GATE_SCALE", raising=False)
    run, _ = build(spark, null=False)
    calls = _spy(monkeypatch, kernel)
    _, n = jobs_fired(run)
    assert calls == [1]
    assert n <= jobs, n


def test_rank_of_integral_terms_matches_distributed(spark, monkeypatch):
    """An integral term column takes the driver rank too: Python and Spark
    both order integers numerically, NULL first."""
    t = spark.createDataFrame([(5,), (-3,), (None,), (5,), (40,)], "term int")
    calls = _spy(monkeypatch, (D, "_driver_rank"))
    fast = D.assign_ids(t)
    assert calls == [1]
    assert fast.dtypes == [("id", "bigint"), ("term", "int")]
    assert _rows(fast) == _rows(D.assign_ids(t, num_partitions=3))


def test_kmeans_null_vector_declines(spark, monkeypatch):
    """A NULL embedding declines k-means' driver route (the distributed
    loop answers) instead of failing in the kernel."""
    rows = [(i, [float(i), 1.0]) for i in range(6)] + [(9, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    calls = _spy(monkeypatch, (S, "_driver_kmeans_exact_int"))
    got = _rows(S.kmeans_exact_int(emb, k=2))
    assert calls == []
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    assert got == _rows(S.kmeans_exact_int(emb, k=2))
