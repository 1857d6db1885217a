"""delete_load (r10, VERDICT r9 #2): retraction with DRed maintenance.

delete-then-maintain == bulk-rebuild on the reduced store (base relation,
stats, entailed layer, sameAs map, both engines); O(touched-slice) plan
shape on the REAL executed plans via plan_sink; stats decremented per
predicate with emptied predicates losing row AND directory; layout
refreshes can PROMOTE a predicate into the property table; idempotent
re-delivery self-heals a stale layer."""

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from d_sparq_spark.engine import SparqlEngine
from d_sparq_spark.load_pipeline import (
    append_load,
    bulk_load,
    delete_load,
    entailed_triples,
    materialize_reasoning,
    reasoned_triples,
    sameas_map,
    smushed_triples,
    store_triples,
)
from d_sparq_spark.operators.dictionary import decode_triples
from d_sparq_spark.operators.reasoning import rdfs_entailment, smush_sameas
from d_sparq_spark.sources.ntriples import parse_ntriples
from tests.test_reasoning_store import BASE, DELTA, META_ONT, ONT, _decoded, _nt

# base rows for the delete scenarios: BASE+DELTA from the reasoning tests
# plus one base row that is ALSO derivable (s:b affiliatedWith acme follows
# from s:b worksAt acme) — deleting it must MOVE it into the entailed layer
EXTRA = ["<s:b> <p:affiliatedWith> <s:acme>"]

# the retraction: a premise whose entailments must vanish (but whose
# subject keeps type Person through its surviving rdf:type), the derivable
# base row above, one sameAs edge that splits a component, one that
# dissolves a 2-node component, and both p:likes rows (empties the
# predicate). One row restates a triple that was never stored (no-op).
DELETE = [
    "<s:a> <p:worksAt> <s:acme>",
    "<s:b> <p:affiliatedWith> <s:acme>",
    "<s:y> <owl:sameAs> <s:x>",
    "<s:z> <owl:sameAs> <s:w>",
    "<s:a> <p:likes> <s:b>",
    "<s:y> <p:likes> <s:b>",
    "<s:never> <p:worksAt> <s:nowhere>",
]


def _terms(spark, store):
    return {
        r["id"]: r["term"]
        for r in spark.read.parquet(os.path.join(store, "dict")).collect()
    }


def _reduced_union(spark, base_nt, delta_nt):
    both = parse_ntriples(spark.read.text(base_nt)).unionByName(
        parse_ntriples(spark.read.text(delta_nt))
    )
    gone = {tuple(line.replace("<", "").replace(">", "").split()) for line in DELETE}
    keep = [
        (r["s"], r["p"], r["o"])
        for r in both.collect()
        if (r["s"], r["p"], r["o"]) not in gone
    ]
    return spark.createDataFrame(keep, "s string, p string, o string")


def _delete_lifecycle(spark, tmp):
    """bulk(BASE+EXTRA) -> materialize(ONT) -> append(DELTA) ->
    delete(DELETE), with the plan sink captured."""
    base = _nt(tmp / "base.nt", BASE + EXTRA)
    delta = _nt(tmp / "delta.nt", DELTA)
    dele = _nt(tmp / "del.nt", DELETE)
    store = str(tmp / "store")
    bulk_load(spark, base, store)
    materialize_reasoning(spark, store, ONT)
    append_load(spark, delta, store)
    sink: list = []
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        info = delete_load(spark, dele, store, plan_sink=sink)
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    return store, base, delta, dele, info, sink, tmp


@pytest.fixture(scope="module")
def deleted_store(spark, tmp_path_factory):
    """One shared lifecycle (_delete_lifecycle) on the default route: a
    small local store, so the writes run on the driver."""
    return _delete_lifecycle(spark, tmp_path_factory.mktemp("dels"))


@pytest.fixture(scope="module")
def spark_route_deleted_store(spark, tmp_path_factory):
    """The same lifecycle with the driver gates off, so the writes run
    the Spark route — the route of URI stores and large deltas."""
    import d_sparq_spark.load_pipeline as lp

    calls = []
    real = lp._encode_delta

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
        mp.setattr(lp, "_encode_delta", spy)
        out = _delete_lifecycle(spark, tmp_path_factory.mktemp("dels_spark"))
    assert len(calls) == 2  # the append and the delete
    return out


def test_delete_equals_rebuild_both_layers(spark, deleted_store, tmp_path):
    store, base, delta, dele, info, _, _ = deleted_store
    assert info["n_deleted"] == 6  # the s:never row was not stored

    reduced = _reduced_union(spark, base, delta)
    # base relation == the reduced union
    got = _decoded(spark, store, store_triples(spark, store))
    assert got == sorted(map(tuple, reduced.collect()))

    # entailed closure == the batch operator over the reduced union
    maintained = _decoded(spark, store, reasoned_triples(spark, store))
    truth = sorted(map(tuple, rdfs_entailment(reduced, ONT).collect()))
    assert maintained == truth
    # the retracted premise's entailments are gone...
    assert ("s:a", "p:affiliatedWith", "s:acme") not in maintained
    # ...the subject keeps its type through the surviving rdf:type chain...
    assert ("s:a", "rdf:type", "c:Person") in maintained
    # ...and the deleted-but-still-derivable base row MOVED into the layer
    ent = _decoded(spark, store, entailed_triples(spark, store))
    assert ("s:b", "p:affiliatedWith", "s:acme") in ent

    # full-rebuild control on the reduced store: byte-identical layers
    from d_sparq_spark.sources.ntriples import format_ntriples

    reduced_nt = str(tmp_path / "reduced_nt")
    format_ntriples(reduced).coalesce(1).write.mode("overwrite").text(reduced_nt)
    store2 = str(tmp_path / "store2")
    bulk_load(spark, reduced_nt, store2)
    materialize_reasoning(spark, store2, ONT)
    assert maintained == _decoded(spark, store2, reasoned_triples(spark, store2))

    # sameAs: component {a,x,y,A} lost the y edge -> {a,x,A} (rep s:A, the
    # lexical minimum), y gone; {z,w} dissolved entirely
    terms = _terms(spark, store)
    got_map = sorted(
        (terms[r["node"]], terms[r["comp"]])
        for r in sameas_map(spark, store).collect()
    )
    assert got_map == [("s:a", "s:A"), ("s:x", "s:A")]
    terms2 = _terms(spark, store2)
    want_map = sorted(
        (terms2[r["node"]], terms2[r["comp"]])
        for r in sameas_map(spark, store2).collect()
    )
    assert got_map == want_map
    assert _decoded(spark, store, smushed_triples(spark, store)) == sorted(
        map(tuple, smush_sameas(reduced).collect())
    )

    # both engines agree on a closure query over the maintained store
    q = "SELECT ?s WHERE { ?s <rdf:type> <c:Person> }"
    from d_sparq_spark.load_pipeline import open_store

    got_q = sorted(r["s"] for r in open_store(spark, store, reasoning=True)
                   .query(q).collect())
    want_q = sorted(
        r["s"]
        for r in SparqlEngine(rdfs_entailment(reduced, ONT), collect_stats=False)
        .query(q).collect()
    )
    assert got_q == want_q and "s:a" in got_q


def test_delete_stats_decrement_and_empty_partition(spark, deleted_store):
    store, base, delta, *_ = deleted_store
    stats = {
        r["p"]: r["cnt"]
        for r in spark.read.parquet(os.path.join(store, "stats")).collect()
    }
    terms = _terms(spark, store)
    by_term = {terms[p]: c for p, c in stats.items()}
    # p:likes emptied: stats row gone AND its by_p directory removed
    assert "p:likes" not in by_term
    likes_id = {v: k for k, v in terms.items()}["p:likes"]
    assert not os.path.exists(os.path.join(store, "by_p", f"p={likes_id}"))
    # decremented, not rebuilt: worksAt lost exactly one row
    assert by_term["p:worksAt"] == 2  # s:b, s:c
    assert by_term["owl:sameAs"] == 2  # x->a, A->x survive
    # exact: stats == a fresh aggregation of the post-delete store
    fresh = {
        r["p"]: r["cnt"]
        for r in store_triples(spark, store).groupBy("p").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    assert stats == fresh
    # dictionary ids were NOT reclaimed (bijection preserved, garbage ok)
    assert "p:likes" in terms.values()


def test_delete_plans_stay_partition_pruned(spark, deleted_store):
    """Every instance-scale plan delete_load executed (base rewrite, DRed
    survivor re-derivation, sameAs surviving-edge scan) reads by_p only
    under a PartitionFilter — p IN (...) or p = <id>."""
    *_, sink, _ = deleted_store
    assert len(sink) >= 3
    seen_by_p = 0
    for plan in sink:
        for seg in plan.split("FileScan parquet")[1:]:
            if "/by_p" not in seg:
                continue
            seen_by_p += 1
            pf = seg.split("PartitionFilters: [", 1)
            assert len(pf) == 2 and re.search(
                r"p#\d+L? (IN \(|= )", pf[1].split("]", 1)[0]
            ), seg[:800]
    assert seen_by_p > 0


def test_spark_route_delete_plans_stay_partition_pruned(
    spark, spark_route_deleted_store
):
    """The partition-filter check above, on the Spark route's plans."""
    test_delete_plans_stay_partition_pruned(spark, spark_route_deleted_store)


def test_delete_redelivery_idempotent_and_self_healing(spark, deleted_store):
    store, base, delta, dele, *_ , tmp = deleted_store
    ent0 = _decoded(spark, store, entailed_triples(spark, store))
    map0 = sorted(map(tuple, sameas_map(spark, store).collect()))
    base0 = _decoded(spark, store, store_triples(spark, store))

    # crash model: the by_p rewrite landed but the layer maintenance was
    # lost — simulate by re-appending a doomed row to entailed/ ...
    ids = {v: k for k, v in _terms(spark, store).items()}
    from d_sparq_spark.sources.triple_store import write_vp

    stale = spark.createDataFrame(
        [(ids["s:a"], ids["p:affiliatedWith"], ids["s:acme"])],
        "s long, p long, o long",
    )
    write_vp(stale, os.path.join(store, "entailed"), mode="append")
    assert _decoded(spark, store, entailed_triples(spark, store)) != ent0

    # ... re-delivering the delete heals it and changes nothing else
    info = delete_load(spark, dele, store)
    assert info["n_deleted"] == 0
    assert _decoded(spark, store, entailed_triples(spark, store)) == ent0
    assert sorted(map(tuple, sameas_map(spark, store).collect())) == map0
    assert _decoded(spark, store, store_triples(spark, store)) == base0


def test_delete_meta_schema_layer(spark, tmp_path):
    """DRed under the ITERATIVE (meta-schema) mode: the re-derivation
    iterates, so entailments chained through the meta rules survive or
    vanish exactly as a rebuild decides."""
    from d_sparq_spark.operators.reasoning import rdfs_entailment_iterative

    base = _nt(tmp_path / "b.nt", BASE + EXTRA)
    delta = _nt(tmp_path / "d.nt", DELTA)
    dele = _nt(tmp_path / "x.nt", DELETE)
    store = str(tmp_path / "s")
    bulk_load(spark, base, store)
    materialize_reasoning(spark, store, META_ONT)
    append_load(spark, delta, store)
    delete_load(spark, dele, store)
    reduced = _reduced_union(spark, base, delta)
    got = _decoded(spark, store, reasoned_triples(spark, store))
    want = sorted(
        map(tuple, rdfs_entailment_iterative(reduced, META_ONT).collect())
    )
    assert got == want
    # meta-depth rows still present for surviving premises
    assert ("c:Manager", "rdf:type", "c:Class") in got


def test_delete_promotes_predicate_into_ptable(spark, tmp_path):
    """Deletion can make a predicate functional: the base-layout refresh's
    candidate set includes the touched predicates, so the PT gains it."""
    lines = [
        '<s:a> <p:one> "1"', '<s:b> <p:one> "2"',
        '<s:m> <p:multi> "v1"', '<s:m> <p:multi> "v2"',
        '<s:n> <p:multi> "v3"',
    ]
    base = _nt(tmp_path / "b.nt", lines)
    store = str(tmp_path / "s")
    bulk_load(spark, base, store, materialize=("ptable",))
    ids = {v: k for k, v in _terms(spark, store).items()}
    with open(os.path.join(store, "ptable", "manifest.json")) as f:
        before = json.load(f)
    assert ids["p:one"] in before and ids["p:multi"] not in before
    dele = _nt(tmp_path / "x.nt", ['<s:m> <p:multi> "v2"'])
    delete_load(spark, dele, store)
    with open(os.path.join(store, "ptable", "manifest.json")) as f:
        after = json.load(f)
    assert ids["p:multi"] in after and ids["p:one"] in after
    # and the store itself lost exactly that row
    got = _decoded(spark, store, store_triples(spark, store))
    assert ("s:m", "p:multi", "v2") not in got and len(got) == 4


def test_delete_self_heals_stale_stats_and_layouts(spark, tmp_path):
    """r10 review #1: crash model — the by_p rewrite landed but the
    stats/ptable refreshes were lost (simulated by restoring the
    pre-delete artifacts). Re-delivering the delete (which removes 0
    rows) must still repair them: stats stop overcounting and the PT
    stops serving the retracted row."""
    import shutil

    lines = ['<s:a> <p:one> "1"', '<s:b> <p:one> "2"', '<s:b> <p:two> "x"']
    base = _nt(tmp_path / "b.nt", lines)
    store = str(tmp_path / "s")
    bulk_load(spark, base, store, materialize=("ptable",))
    shutil.copytree(os.path.join(store, "stats"), str(tmp_path / "stats0"))
    shutil.copytree(os.path.join(store, "ptable"), str(tmp_path / "pt0"))
    dele = _nt(tmp_path / "x.nt", ['<s:b> <p:one> "2"'])
    delete_load(spark, dele, store)

    # simulate the lost refreshes
    shutil.rmtree(os.path.join(store, "stats"))
    shutil.copytree(str(tmp_path / "stats0"), os.path.join(store, "stats"))
    shutil.rmtree(os.path.join(store, "ptable"))
    shutil.copytree(str(tmp_path / "pt0"), os.path.join(store, "ptable"))

    info = delete_load(spark, dele, store)  # re-delivery: removes nothing
    assert info["n_deleted"] == 0
    ids = {v: k for k, v in _terms(spark, store).items()}
    stats = {
        r["p"]: r["cnt"]
        for r in spark.read.parquet(os.path.join(store, "stats")).collect()
    }
    assert stats[ids["p:one"]] == 1  # repaired, not the stale 2
    # the refreshed PT no longer serves the retracted row
    pt = spark.read.parquet(os.path.join(store, "ptable", "data"))
    col = str(ids["p:one"])
    vals = sorted(r[col] for r in pt.collect() if r[col] is not None)
    assert vals == [ids['"1"'] if '"1"' in ids else ids["1"]]


def test_ptable_demote_then_delete_promotes_back(spark, tmp_path):
    """r10 review #7: an append that demotes EVERY PT predicate leaves an
    empty manifest (not a missing layout), so a later delete that restores
    functionality resurrects the zero-join route."""
    import json

    base = _nt(tmp_path / "b.nt", ['<s:a> <p:one> "1"', '<s:b> <p:one> "2"'])
    store = str(tmp_path / "s")
    bulk_load(spark, base, store, materialize=("ptable",))
    delta = _nt(tmp_path / "d.nt", ['<s:a> <p:one> "9"'])  # demotes p:one
    from d_sparq_spark.load_pipeline import append_load as _append

    _append(spark, delta, store)
    mpath = os.path.join(store, "ptable", "manifest.json")
    with open(mpath) as f:
        assert json.load(f) == []  # live layout, nothing functional
    # open_store must not crash on (or route through) the empty layout
    from d_sparq_spark.load_pipeline import open_store

    eng = open_store(spark, store)
    assert eng.query('SELECT ?s WHERE { ?s p:one "9" }').count() == 1

    dele = _nt(tmp_path / "x.nt", ['<s:a> <p:one> "9"'])
    delete_load(spark, dele, store)
    ids = {v: k for k, v in _terms(spark, store).items()}
    with open(mpath) as f:
        assert ids["p:one"] in json.load(f)  # promoted back in


def test_delete_layout_refresh_matches_full_rematerialization(spark, tmp_path):
    """The delete side of the shared stats/layout refresh: after a delete
    that touches one predicate (it promotes p:y into functionality and
    changes the ratio of the OS(p:y, p:z) reduction), the ExtVP manifest,
    the ptable manifest and the stats/ rows equal fresh builds over the
    post-delete store."""
    from d_sparq_spark.operators.extvp import materialize_extvp
    from d_sparq_spark.operators.rdf_patterns import predicate_stats
    from d_sparq_spark.plans.catalog import StoreCatalog

    base = _nt(tmp_path / "b.nt", [
        "<s:a> <p:x> <s:b>", "<s:d> <p:x> <s:e>",
        "<s:b> <p:y> <s:c>", "<s:e> <p:y> <s:f>", "<s:e> <p:y> <s:g>",
        "<s:c> <p:z> <s:a>",
    ])
    store = str(tmp_path / "s")
    bulk_load(spark, base, store, materialize=("ptable", "extvp"))
    delete_load(spark, _nt(tmp_path / "x.nt", ["<s:e> <p:y> <s:g>"]), store)
    after = store_triples(spark, store)

    def extvp_entries(root):
        with open(os.path.join(root, "extvp", "manifest.json")) as f:
            return sorted(
                (e["kind"], e["p1"], e["p2"], e["ratio"]) for e in json.load(f)
            )

    full_store = str(tmp_path / "full")
    materialize_extvp(after, full_store)
    assert extvp_entries(store) == extvp_entries(full_store)
    assert len(extvp_entries(store)) > 0

    cat = StoreCatalog().add_property_table(after)
    want_pt = sorted(cat.pt_preds, key=str)
    cat.ptable.unpersist()
    with open(os.path.join(store, "ptable", "manifest.json")) as f:
        got_pt = json.load(f)
    ids = {v: k for k, v in _terms(spark, store).items()}
    assert got_pt == want_pt and ids["p:y"] in got_pt

    stats = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(store, "stats"))
        .select("p", "cnt", "ndv_s", "ndv_o").collect()
    )
    want_stats = sorted(
        tuple(r) for r in predicate_stats(after)
        .select("p", "cnt", "ndv_s", "ndv_o").collect()
    )
    assert stats == want_stats
