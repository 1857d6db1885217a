"""The store write route on both sides of its gate.

A small delta on a small local store runs on the driver
(load_pipeline._driver_delta: one job collects the parsed delta, the
dictionary lookup, encode and diff run on the driver, one semi-join finds
the stored rows); above its gates, or with D_SPARQ_DRIVER_GATE_SCALE=0, the
write runs the Spark route (_encode_delta). Both routes must leave the
same store: dictionary rows and ids, by_p rows, stats/, meta/, the
property table, and the reasoning layers."""

import json
import os
import shutil

import pytest

import d_sparq_spark.load_pipeline as lp
from d_sparq_spark.load_pipeline import (
    _read_meta,
    _read_stats_rows,
    append_load,
    bulk_load,
    delete_load,
    entailed_triples,
    materialize_reasoning,
    open_store,
    sameas_map,
    store_triples,
)
from d_sparq_spark.gates import DRIVER_DELTA_MAX_BYTES, DRIVER_RANK_MAX_ROWS
from tests.test_reasoning_store import BASE as R_BASE
from tests.test_reasoning_store import DELTA as R_DELTA
from tests.test_reasoning_store import ONT

# plain dictionary (no numeric typed literal), functional p:name/p:age
# and a multi-valued p:knows, so the property table has columns to keep,
# gain and lose
BASE = [
    '<s:a> <p:name> "Ann"', '<s:b> <p:name> "Bob"', '<s:c> <p:name> "Cy"',
    '<s:a> <p:knows> <s:b>', '<s:a> <p:knows> <s:c>', '<s:b> <p:knows> <s:c>',
    '<s:a> <p:tag> "x"', '<s:b> <p:tag> "y"',
]
# new IRIs, a language tag, a numeric typed literal (flips dict_plain),
# non-ASCII text, an escaped quote, and one row the store already holds
APPEND = [
    '<s:d> <p:name> "Dörte"@de', '<s:d> <p:age> "41"^^<xsd:int>',
    '<s:e> <p:name> "Émile \\"E\\""', '<s:e> <p:knows> <s:ü>',
    '<s:ü> <p:name> "ü"', '<s:a> <p:name> "Ann"',
]
# two rows name terms the dictionary lacks; one names a stored triple
DELETE_ABSENT = [
    '<s:nope> <p:name> "never"', '<s:a> <p:missing> "x"',
    '<s:b> <p:knows> <s:c>',
]
# every row of p:tag: the predicate empties and its directory goes
DELETE_PRED = ['<s:a> <p:tag> "x"', '<s:b> <p:tag> "y"']


def _nt(path, lines):
    path.write_text("".join(line + " .\n" for line in lines))
    return str(path)


def _snapshot(spark, store):
    """Every surface a write maintains, in a route-independent form."""
    ptable = os.path.join(store, "ptable")
    with open(os.path.join(ptable, "manifest.json")) as f:
        pt_preds = json.load(f)
    pt_rows = []
    if os.path.isdir(os.path.join(ptable, "data")):
        pt = spark.read.parquet(os.path.join(ptable, "data"))
        pt_rows = sorted(
            map(tuple, pt.select("s", *map(str, pt_preds)).collect()), key=repr
        )
    return {
        "dict": sorted(map(tuple, lp._read_dict(spark, store).collect())),
        "by_p": sorted(map(tuple, store_triples(spark, store).select("s", "p", "o").collect())),
        "stats": sorted(tuple(r.values()) for r in _read_stats_rows(spark, store)),
        "meta": _read_meta(spark, store),
        "pt_preds": pt_preds,
        "pt_rows": pt_rows,
    }


def _route_spy(monkeypatch):
    """Count Spark-route encodes (the driver route never calls it)."""
    calls = []
    real = lp._encode_delta

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(lp, "_encode_delta", spy)
    return calls


def _twins(spark, tmp_path, lines, **load):
    """One bulk-loaded store and a byte copy of it."""
    base = _nt(tmp_path / "base.nt", lines)
    drv, dist = str(tmp_path / "driver"), str(tmp_path / "spark")
    bulk_load(spark, base, drv, **load)
    shutil.copytree(drv, dist)
    return drv, dist


def _write(kind, spark, path, store, monkeypatch, scale=None):
    if scale is None:
        monkeypatch.delenv("D_SPARQ_DRIVER_GATE_SCALE", raising=False)
    else:
        monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", scale)
    try:
        return (append_load if kind == "append" else delete_load)(spark, path, store)
    finally:
        monkeypatch.delenv("D_SPARQ_DRIVER_GATE_SCALE", raising=False)


def test_driver_and_spark_routes_write_the_same_store(spark, tmp_path, monkeypatch):
    drv, dist = _twins(spark, tmp_path, BASE, materialize=("ptable",))
    assert _read_meta(spark, drv)["dict_plain"] is True
    calls = _route_spy(monkeypatch)
    steps = [
        ("append", APPEND), ("append", APPEND),  # re-delivery: a no-op
        ("delete", DELETE_ABSENT), ("delete", DELETE_PRED),
    ]
    for i, (kind, lines) in enumerate(steps):
        path = _nt(tmp_path / f"step{i}.nt", lines)
        before = len(calls)
        got = _write(kind, spark, path, drv, monkeypatch)
        assert len(calls) == before, f"step {i}: default took the Spark route"
        want = _write(kind, spark, path, dist, monkeypatch, scale="0")
        assert len(calls) == before + 1, f"step {i}: gates off took the driver route"
        assert got == want, f"step {i}"
        assert _snapshot(spark, drv) == _snapshot(spark, dist), f"step {i}"
        if i == 0:
            assert got["n_new_terms"] > 0
            assert _read_meta(spark, drv)["dict_plain"] is False
        if i == 1:
            assert got["n_new_terms"] == 0
        if i == 2:
            assert got["n_deleted"] == 1
    # the emptied predicate left stats/, the ptable and by_p/
    tag = next(t[0] for t in _snapshot(spark, drv)["dict"] if t[1] == "p:tag")
    assert tag not in _snapshot(spark, drv)["pt_preds"]
    assert not os.path.exists(os.path.join(drv, "by_p", f"p={tag}"))


def test_routes_agree_on_a_reasoning_store(spark, tmp_path, monkeypatch):
    base = _nt(tmp_path / "base.nt", R_BASE)
    drv, dist = str(tmp_path / "driver"), str(tmp_path / "spark")
    bulk_load(spark, base, drv, materialize=("ptable",))
    materialize_reasoning(spark, drv, ONT)
    shutil.copytree(drv, dist)
    delta = _nt(tmp_path / "delta.nt", R_DELTA)
    dele = _nt(tmp_path / "del.nt", [R_DELTA[0], R_DELTA[2], '<s:a> <p:likes> <s:b>'])

    def layers(store):
        return {
            "entailed": sorted(
                map(tuple, entailed_triples(spark, store).collect())
            ),
            "sameas": sorted(map(tuple, sameas_map(spark, store).collect())),
        }

    for kind, path in (("append", delta), ("delete", dele)):
        got = _write(kind, spark, path, drv, monkeypatch)
        want = _write(kind, spark, path, dist, monkeypatch, scale="0")
        assert got == want, kind
        assert _snapshot(spark, drv) == _snapshot(spark, dist), kind
        assert layers(drv) == layers(dist), kind
    assert layers(drv)["sameas"]  # the maintained map is not trivially empty


def test_delta_above_the_gate_declines_to_the_spark_route(spark, tmp_path, monkeypatch):
    """A delta whose files are larger than the (scaled) byte gate takes
    the Spark route even though the dictionary is within its gate, and
    writes what the driver route writes under the default gate."""
    drv, dist = _twins(spark, tmp_path, BASE, materialize=("ptable",))
    n_terms = _read_meta(spark, drv)["n_terms"]
    subjects = ["s:a", "s:b", "s:c"]
    lines = [f'<{s}> <p:tag> "{v}"' for s in subjects for v in "xyzw"]
    lines += [f'<{s}> <p:knows> <{o}>' for s in subjects for o in subjects]
    lines += [f"<s:n{i}> <p:name> \"n{i}\"" for i in range(n_terms)]
    path = _nt(tmp_path / "big.nt", lines)
    # the gate admits the dictionary, not the delta's bytes
    scale = (n_terms + 2) / DRIVER_RANK_MAX_ROWS
    assert os.path.getsize(path) > DRIVER_DELTA_MAX_BYTES * scale
    calls = _route_spy(monkeypatch)
    want = _write("append", spark, path, drv, monkeypatch)
    assert calls == []
    got = _write("append", spark, path, dist, monkeypatch, scale=repr(scale))
    assert calls == [1]
    assert got == want
    assert _snapshot(spark, drv) == _snapshot(spark, dist)


def test_small_append_job_budget(spark, tmp_path, jobs_fired):
    """The driver route's job count on a small local ptable store: one
    parse collect, the dictionary append, one semi-join, the by_p append,
    the stats collect and the property-table rewrite."""
    store = str(tmp_path / "store")
    bulk_load(spark, _nt(tmp_path / "base.nt", BASE), store, materialize=("ptable",))
    path = _nt(tmp_path / "delta.nt", APPEND)
    out, n = jobs_fired(lambda: append_load(spark, path, store))
    assert out["n_new_terms"] > 0
    assert n <= 16, n


@pytest.mark.parametrize("scale", [None, "0"], ids=["driver", "spark"])
def test_stale_stats_row_cannot_keep_a_predicate_pivoted(
    spark, tmp_path, monkeypatch, scale
):
    """A crash between an append's by_p write and its stats merge leaves
    p:name's stats row saying functional while by_p holds a second name
    for s:a. The next write touches only p:age, yet its refresh
    recomputes the property table's stats rows, demotes p:name and keeps
    both of s:a's bindings."""
    store = str(tmp_path / "store")
    base = _nt(tmp_path / "base.nt", [
        '<s:a> <p:name> "Ann"', '<s:b> <p:name> "Bob"',
        '<s:a> <p:age> "1"', '<s:b> <p:age> "2"',
    ])
    bulk_load(spark, base, store, materialize=("ptable",))
    ids = {t: i for i, t, _ in lp._read_dict(spark, store).collect()}
    name, age = ids["p:name"], ids["p:age"]
    with open(os.path.join(store, "ptable", "manifest.json")) as f:
        assert sorted(json.load(f)) == sorted([name, age])

    refresh = lp._refresh_after_vp_write

    def crash(*a, **k):
        raise RuntimeError("crash before the stats merge")

    monkeypatch.setattr(lp, "_refresh_after_vp_write", crash)
    second = _nt(tmp_path / "second.nt", ['<s:a> <p:name> "Anna"'])
    with pytest.raises(RuntimeError, match="crash"):
        _write("append", spark, second, store, monkeypatch, scale)
    monkeypatch.setattr(lp, "_refresh_after_vp_write", refresh)
    stale = {r["p"]: r for r in _read_stats_rows(spark, store)}[name]
    assert stale["cnt"] == stale["ndv_s"] == 2

    other = _nt(tmp_path / "other.nt", ['<s:c> <p:age> "3"'])
    _write("append", spark, other, store, monkeypatch, scale)
    row = {r["p"]: r for r in _read_stats_rows(spark, store)}[name]
    assert (row["cnt"], row["ndv_s"]) == (3, 2)
    with open(os.path.join(store, "ptable", "manifest.json")) as f:
        assert json.load(f) == [age]
    got = sorted(
        tuple(r) for r in open_store(spark, store).query(
            "SELECT ?n ?a WHERE { ?x <p:name> ?n . ?x <p:age> ?a }"
        ).collect()
    )
    assert got == [("Ann", "1"), ("Anna", "1"), ("Bob", "2")]


def _stats_and_extvp(spark, store):
    """stats/ rows, and every ExtVP manifest entry with its reduction's
    rows."""
    from d_sparq_spark.operators.extvp import read_reduction

    with open(os.path.join(store, "extvp", "manifest.json")) as f:
        entries = sorted((e["kind"], e["p1"], e["p2"], e["ratio"]) for e in json.load(f))
    return {
        "stats": sorted(tuple(r.values()) for r in _read_stats_rows(spark, store)),
        "extvp": [
            (e, sorted(map(tuple, read_reduction(spark, store, *e[:3]).collect())))
            for e in entries
        ],
    }


@pytest.mark.parametrize("scale", [None, "0"], ids=["driver", "spark"])
def test_redelivered_append_heals_stats_and_extvp(spark, tmp_path, monkeypatch, scale):
    """An append that crashes between its by_p write and the stats/layout
    refresh, then is re-delivered, leaves stats/ and extvp/ as a fresh
    bulk load of the same triples would: the re-delivery appends nothing
    but still refreshes the delta's predicates. p:knows is multi-valued,
    so not in the property table; the delta names only stored terms, so
    the ids match the fresh load's."""
    store = str(tmp_path / "store")
    load = {"materialize": ("ptable", "extvp")}
    bulk_load(spark, _nt(tmp_path / "base.nt", BASE), store, **load)
    delta_lines = ['<s:c> <p:knows> <s:a>']
    delta = _nt(tmp_path / "delta.nt", delta_lines)
    refresh = lp._refresh_after_vp_write

    def crash(*a, **k):
        raise RuntimeError("crash before the stats merge")

    monkeypatch.setattr(lp, "_refresh_after_vp_write", crash)
    with pytest.raises(RuntimeError, match="crash"):
        _write("append", spark, delta, store, monkeypatch, scale)
    monkeypatch.setattr(lp, "_refresh_after_vp_write", refresh)
    fresh = str(tmp_path / "fresh")
    bulk_load(spark, _nt(tmp_path / "all.nt", BASE + delta_lines), fresh, **load)
    want = _stats_and_extvp(spark, fresh)
    assert _stats_and_extvp(spark, store) != want  # the crash left them stale
    _write("append", spark, delta, store, monkeypatch, scale)
    assert _stats_and_extvp(spark, store) == want


@pytest.mark.parametrize(
    "line, term",
    [
        ('<s:a> <p:v> "a\\"b\\\\c\\nd"^^<xsd:token> .', '"a"b\\c\nd"^^xsd:token'),
        ('<s:a> <p:v> "tab\\there"^^<xsd:string> .', "tab\there"),
        ('<s:a> <p:v> "say \\"hi\\""@en-GB .', '"say "hi""@en-GB'),
        ('<s:a> <p:v> "back\\\\slash \\r\\b\\f" .', "back\\slash \r\x08\x0c"),
        ("<s:a> <p:v> _:b0 .", "_:b0"),
        ("<s:a> <p:v> <ex:iri> .", "ex:iri"),
    ],
    ids=["typed", "xsd-string", "lang", "plain", "bnode", "iri"],
)
def test_parse_term_unescapes_each_literal_form(spark, line, term):
    from d_sparq_spark.sources.ntriples import parse_ntriples

    df = spark.createDataFrame([(line,)], "value string")
    assert [tuple(r) for r in parse_ntriples(df).collect()] == [("s:a", "p:v", term)]
