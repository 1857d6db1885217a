"""$D_SPARQ_DRIVER_GATE_SCALE — the one knob over every driver fast-path
gate (r12, VERDICT r11 #2/#8): scale 0 must force the DISTRIBUTED plans
(what the bench's *__dist lane and a gate-zeroed smoke run rely on), a
raised scale must route an otherwise-declined input INTO a driver path,
and results must be identical either way (the per-operator bit-equality
tests pin the substance; here we pin the ROUTING responds to the env)."""

import pytest

from d_sparq_spark.gates import gate


def test_gate_identity_when_unset(monkeypatch):
    monkeypatch.delenv("D_SPARQ_DRIVER_GATE_SCALE", raising=False)
    assert gate(4_000_000) == 4_000_000


def test_gate_scales_and_zeroes(monkeypatch):
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0.25")
    assert gate(4_000_000) == 1_000_000
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    assert gate(4_000_000) == 0
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "banana")
    with pytest.raises(ValueError):
        gate(10)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scale_zero_forces_distributed_pagerank(spark, monkeypatch):
    from d_sparq_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(200)], "src long, dst long"
    )
    monkeypatch.delenv("D_SPARQ_DRIVER_GATE_SCALE", raising=False)
    fast = pagerank(edges, n_iter=3)
    # default: metadata-scale edges ride the driver path (local relation)
    assert "LocalTableScan" in _plan(fast)
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    dist = pagerank(edges, n_iter=3)
    # zeroed: the distributed loop's checkpointed plan, no local relation
    assert "LocalTableScan" not in _plan(dist)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, dist.collect()))


def test_scale_up_routes_into_vec_closure(spark, monkeypatch):
    """Raising the scale is the other override direction: an edge set just
    above the closure kernel's gate runs the distributed loop, and rides
    the driver kernel (a local relation) at twice the scale — same pairs
    either way."""
    from d_sparq_spark import gates
    from d_sparq_spark.operators import paths

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(60)], "src string, dst string"
    )
    scale = 50 / gates.DRIVER_MAX_EDGES  # the gate at 50 edges
    # the scale shrinks the kernel's budgets too: lift them so only the
    # size cap decides the route
    monkeypatch.setattr(paths, "_VEC_CLOSURE_MAX_PAIRS", 10**12)
    monkeypatch.setattr(paths, "_VEC_CLOSURE_MAX_WORK", 10**12)
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", repr(scale))
    dist = paths.transitive_closure(edges)
    assert "LocalTableScan" not in _plan(dist)
    # twice the scale: the gate 50 -> 100 >= 60 edges engages the driver kernel
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", repr(2 * scale))
    vec = paths.transitive_closure(edges)
    assert "LocalTableScan" in _plan(vec)
    assert sorted(map(tuple, dist.collect())) == sorted(map(tuple, vec.collect()))
