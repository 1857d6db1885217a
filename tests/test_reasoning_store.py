"""Persisted, incrementally maintained reasoning layer (r9, VERDICT r8 #1):
append-maintained closure == bulk-rebuilt closure exactly, sameAs map
maintained from the contracted graph == full CC rebuild, O(Δ) plan shape
(every instance-scale scan partition-pruned), idempotent/self-healing
re-delivery, stale-layer cleanup on rebuild."""

import os
import shutil

from pyspark.sql import functions as F

from d_sparq_spark.engine import SparqlEngine
from d_sparq_spark.encoded_engine import EncodedSparqlEngine
from d_sparq_spark.load_pipeline import (
    _entailment_delta,
    _has_reasoning,
    _read_meta,
    append_load,
    bulk_load,
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

ONT = [
    ("c:Manager", "rdfs:subClassOf", "c:Employee"),
    ("c:Employee", "rdfs:subClassOf", "c:Person"),
    ("p:worksAt", "rdfs:subPropertyOf", "p:affiliatedWith"),
    ("p:affiliatedWith", "rdfs:subPropertyOf", "p:related"),
    ("p:affiliatedWith", "rdfs:domain", "c:Person"),
    ("p:affiliatedWith", "rdfs:range", "c:Org"),
]

BASE = [
    '<s:a> <p:worksAt> <s:acme>', '<s:b> <p:worksAt> <s:acme>',
    '<s:a> <rdf:type> <c:Manager>', '<s:x> <owl:sameAs> <s:a>',
    '<s:a> <p:likes> <s:b>',
]
DELTA = [
    '<s:c> <p:worksAt> <s:beta>', '<s:c> <rdf:type> <c:Manager>',
    '<s:y> <owl:sameAs> <s:x>',   # merges into the {s:a, s:x} component
    '<s:A> <owl:sameAs> <s:x>',   # appended HIGH id but lexical MINIMUM:
    # the canonical representative must be min-TERM, not min-id (s:A < s:a)
    '<s:z> <owl:sameAs> <s:w>',   # brand-new component from the delta
    '<s:y> <p:likes> <s:b>',
]


def _nt(path, lines):
    path.write_text("".join(line + " .\n" for line in lines))
    return str(path)


def _decoded(spark, store, df):
    d = spark.read.parquet(os.path.join(store, "dict"))
    return sorted(
        map(tuple, decode_triples(df, d, broadcast_dict=True).collect())
    )


def _load_with_delta(spark, tmp_path, ontology=ONT):
    base = _nt(tmp_path / "base.nt", BASE)
    delta = _nt(tmp_path / "delta.nt", DELTA)
    store = str(tmp_path / "store")
    bulk_load(spark, base, store)
    materialize_reasoning(spark, store, ontology)
    append_load(spark, delta, store)
    both = parse_ntriples(spark.read.text(base)).unionByName(
        parse_ntriples(spark.read.text(delta))
    )
    return store, both, base, delta


def test_append_maintained_closure_equals_bulk_rebuild(spark, tmp_path):
    """The O(Δ)-maintained layer after an append == the closure a full
    re-materialization over the post-append store produces == the lexical
    operator over the union — and an engine query over the reasoned
    relation answers identically in both engines."""
    store, both, base, delta = _load_with_delta(spark, tmp_path)
    maintained = _decoded(spark, store, reasoned_triples(spark, store))
    truth = sorted(map(tuple, rdfs_entailment(both, ONT).collect()))
    assert maintained == truth and len(maintained) > len(BASE) + len(DELTA)

    # bulk-rebuilt control: fresh store from the SAME union, materialized
    # in one shot — the maintained layer must be byte-identical
    union_nt = _nt(tmp_path / "union.nt", BASE + DELTA)
    store2 = str(tmp_path / "store2")
    bulk_load(spark, union_nt, store2)
    materialize_reasoning(spark, store2, ONT)
    rebuilt = _decoded(spark, store2, reasoned_triples(spark, store2))
    assert maintained == rebuilt

    # both engines over the closure agree (type query only answerable
    # through rdfs2+rdfs9 entailments)
    q = "SELECT ?s WHERE { ?s <rdf:type> <c:Person> }"
    dictionary = spark.read.parquet(os.path.join(store, "dict"))
    enc_eng = EncodedSparqlEngine(
        reasoned_triples(spark, store), dictionary,
        collect_stats=False, dict_rank_ordered=False,
    )
    lex_eng = SparqlEngine(rdfs_entailment(both, ONT), collect_stats=False)
    got = sorted(r["s"] for r in enc_eng.query(q).collect())
    want = sorted(r["s"] for r in lex_eng.query(q).collect())
    assert got == want and "s:c" in got  # s:c types only via the delta


def test_sameas_map_incremental_equals_full_rebuild(spark, tmp_path):
    """Map maintenance runs CC over (old map as star edges) ∪ Δ edges —
    must equal a FULL re-materialization over the union store (components
    AND representatives), for a delta that merges an existing component,
    creates a new one, and introduces a lexical-minimum member whose id
    sits ABOVE the watermark (min-TERM canonicalization, not min-id)."""
    store, both, *_ = _load_with_delta(spark, tmp_path)
    ids = {
        r["term"]: r["id"]
        for r in spark.read.parquet(os.path.join(store, "dict")).collect()
    }
    terms = {v: k for k, v in ids.items()}
    got = sorted(
        (terms[r["node"]], terms[r["comp"]])
        for r in sameas_map(spark, store).collect()
    )
    # {s:a, s:x, s:y, s:A} -> rep s:A (lexical min, appended high id);
    # {s:w, s:z} -> rep s:w
    assert got == [
        ("s:a", "s:A"), ("s:x", "s:A"), ("s:y", "s:A"), ("s:z", "s:w"),
    ]

    # full-rebuild control: union store, one-shot materialization
    union_nt = _nt(tmp_path / "u.nt", BASE + DELTA)
    store2 = str(tmp_path / "s2")
    bulk_load(spark, union_nt, store2)
    materialize_reasoning(spark, store2, [])
    ids2 = {
        r["term"]: r["id"]
        for r in spark.read.parquet(os.path.join(store2, "dict")).collect()
    }
    terms2 = {v: k for k, v in ids2.items()}
    want = sorted(
        (terms2[r["node"]], terms2[r["comp"]])
        for r in sameas_map(spark, store2).collect()
    )
    assert got == want

    # the applied rewrite == the batch operator over the lexical union
    smushed = _decoded(spark, store, smushed_triples(spark, store))
    truth = sorted(map(tuple, smush_sameas(both).collect()))
    assert smushed == truth


def test_entailment_delta_plan_is_partition_pruned(spark, tmp_path):
    """O(Δ) shape: in the maintenance plan, every scan of the store's
    by_p (and the entailed layer's) carries a p IN (...) PartitionFilter —
    the anti-join targets read only the derivable-predicate directories,
    never the full store."""
    store, *_ = _load_with_delta(spark, tmp_path)
    delta2 = spark.createDataFrame(
        [(1, 2, 3)], "s long, p long, o long"
    )  # ids irrelevant: only the plan shape is inspected
    plan_df = _entailment_delta(spark, store, delta2, ONT)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    spark.conf.unset("spark.sql.maxMetadataStringLength")
    scans = [
        seg for seg in plan.split("FileScan parquet")[1:] if "/by_p" in seg
    ]
    store_scans = [s for s in scans if f"{os.path.basename(store)}/by_p" in s]
    assert store_scans, plan[:2000]
    import re

    for seg in store_scans:
        pf = seg.split("PartitionFilters: [", 1)
        assert len(pf) == 2 and re.search(
            r"p#\d+L? IN \(", pf[1].split("]", 1)[0]
        ), seg[:800]


def test_redelivered_delta_maintenance_is_idempotent(spark, tmp_path):
    """Re-delivering the same delta (retry after an un-acked success) must
    leave both layers EXACTLY as they were — the anti-joins append nothing
    and the map rebuild is a fixpoint."""
    store, both, base, delta = _load_with_delta(spark, tmp_path)
    ent0 = _decoded(spark, store, entailed_triples(spark, store))
    map0 = sorted(map(tuple, sameas_map(spark, store).collect()))
    append_load(spark, delta, store)  # re-delivered
    assert _decoded(spark, store, entailed_triples(spark, store)) == ent0
    assert sorted(map(tuple, sameas_map(spark, store).collect())) == map0
    truth = sorted(map(tuple, rdfs_entailment(both, ONT).collect()))
    assert _decoded(spark, store, reasoned_triples(spark, store)) == truth


def test_maintenance_self_heals_missing_entailments(spark, tmp_path):
    """Crash model: the delta's base rows landed in by_p but the
    entailment append was lost. Maintenance derives from the full deduped
    delta (not just the not-yet-stored rows), so RE-DELIVERING the delta
    restores the lost derivations."""
    store, both, base, delta = _load_with_delta(spark, tmp_path)
    # simulate the lost entailment append: wipe the layer, keep the base
    shutil.rmtree(os.path.join(store, "entailed"))
    assert _decoded(spark, store, entailed_triples(spark, store)) == []
    append_load(spark, delta, store)  # retry appends 0 base rows but heals
    healed = set(_decoded(spark, store, entailed_triples(spark, store)))
    stored = set(_decoded(spark, store, store_triples(spark, store)))
    delta_truth = rdfs_entailment(parse_ntriples(spark.read.text(delta)), ONT)
    assert len(healed) > 0
    for row in sorted(map(tuple, delta_truth.collect())):
        assert row in stored or row in healed, row


def test_bulk_rebuild_drops_stale_reasoning_layer(spark, tmp_path):
    """A bulk_load rebuild over a store with a reasoning layer must remove
    it — appends would otherwise maintain a closure of the PREVIOUS data."""
    store, *_ = _load_with_delta(spark, tmp_path)
    assert _has_reasoning(store)
    rebuilt = _nt(tmp_path / "rb.nt", ['<s:q> <p:x> "1"'])
    bulk_load(spark, rebuilt, store)
    assert not _has_reasoning(store)
    assert not os.path.exists(os.path.join(store, "entailed"))
    assert not os.path.exists(os.path.join(store, "sameas"))


def test_empty_ontology_smush_only_keeps_rank_order(spark, tmp_path):
    """ontology=[] materializes only the sameAs map: no vocabulary is
    added, so the dictionary stays rank-ordered (the MIN/MAX peel
    survives), the entailed layer reads back empty and schema-stable."""
    base = _nt(tmp_path / "b.nt", BASE)
    store = str(tmp_path / "s")
    bulk_load(spark, base, store)
    info = materialize_reasoning(spark, store, [])
    assert info == {"n_entailed": 0, "n_sameas_mapped": 1}
    assert _read_meta(spark, store)["rank_ordered"] is True
    ent = entailed_triples(spark, store)
    assert ent.columns == ["s", "p", "o"] and ent.count() == 0
    delta = _nt(tmp_path / "d.nt", ['<s:y> <owl:sameAs> <s:x>'])
    append_load(spark, delta, store)
    assert sameas_map(spark, store).count() == 2  # x,y -> a
    smushed = _decoded(spark, store, smushed_triples(spark, store))
    both = parse_ntriples(spark.read.text(base)).unionByName(
        parse_ntriples(spark.read.text(delta))
    )
    assert smushed == sorted(map(tuple, smush_sameas(both).collect()))


def test_open_store_reasoning_engine(spark, tmp_path):
    """open_store(reasoning=True): the returned engine queries the
    maintained closure — a type only derivable through rdfs2+rdfs9 over
    the APPENDED delta answers identically to the lexical engine over the
    full closure; without a committed layer the flag raises."""
    import pytest

    from d_sparq_spark.load_pipeline import open_store

    store, both, *_ = _load_with_delta(spark, tmp_path)
    engine = open_store(spark, store, reasoning=True)
    q = "SELECT ?s WHERE { ?s <rdf:type> <c:Person> }"
    got = sorted(r["s"] for r in engine.query(q).collect())
    want = sorted(
        r["s"]
        for r in SparqlEngine(rdfs_entailment(both, ONT), collect_stats=False)
        .query(q)
        .collect()
    )
    assert got == want and "s:c" in got  # s:c types only via the delta

    # plain open_store still answers from the base (no inferred types)
    base_engine = open_store(spark, store)
    assert base_engine.query(q).count() == 0

    # no reasoning layer -> explicit error
    store2 = str(tmp_path / "bare")
    base_nt = _nt(tmp_path / "bare.nt", BASE)
    bulk_load(spark, base_nt, store2)
    with pytest.raises(ValueError, match="no committed reasoning layer"):
        open_store(spark, store2, reasoning=True)


# ---------------- r10: meta-schema ontologies in the persisted layer ----------

META_ONT = [
    ("c:Manager", "rdfs:subClassOf", "c:Employee"),
    ("p:worksAt", "rdfs:domain", "c:Employee"),
    # meta-schema rows: rdf:type has a superproperty whose range rule then
    # types the CLASS terms — the single pass must reject this, and the
    # closure needs ~4 delta rounds
    ("rdf:type", "rdfs:subPropertyOf", "p:classified"),
    ("p:classified", "rdfs:range", "c:Class"),
]


def test_meta_schema_layer_append_equals_rebuild(spark, tmp_path):
    """VERDICT r9 #1: materialize_reasoning routes a meta-schema ontology
    through the iterative closure (manifest records mode=iterative), and
    append maintenance ITERATES its delta rounds — maintained closure ==
    bulk-rebuilt closure == the batch iterative operator over the union."""
    from d_sparq_spark.load_pipeline import _read_reasoning_manifest
    from d_sparq_spark.operators.reasoning import rdfs_entailment_iterative

    store, both, base, delta = _load_with_delta(spark, tmp_path, ontology=META_ONT)
    assert _read_reasoning_manifest(spark, store)[2] == "iterative"
    maintained = _decoded(spark, store, reasoned_triples(spark, store))
    truth = sorted(map(tuple, rdfs_entailment_iterative(both, META_ONT).collect()))
    assert maintained == truth
    # depth > 1 derivations reached the persisted layer: the delta's new
    # entity typed c:Manager must classify its CLASS terms transitively
    assert ("c:Manager", "rdf:type", "c:Class") in maintained
    assert ("c:Class", "p:classified", "c:Class") in maintained

    union_nt = _nt(tmp_path / "union.nt", BASE + DELTA)
    store2 = str(tmp_path / "store2")
    bulk_load(spark, union_nt, store2)
    materialize_reasoning(spark, store2, META_ONT)
    assert maintained == _decoded(spark, store2, reasoned_triples(spark, store2))


def test_meta_schema_redelivery_idempotent(spark, tmp_path):
    store, both, base, delta = _load_with_delta(spark, tmp_path, ontology=META_ONT)
    ent0 = _decoded(spark, store, entailed_triples(spark, store))
    append_load(spark, delta, store)  # re-delivered
    assert _decoded(spark, store, entailed_triples(spark, store)) == ent0


def test_meta_maintenance_iterated_rounds_stay_pruned(spark, tmp_path):
    """The O(Δ) plan assert EXTENDED to the iterated rounds (VERDICT r9
    #1): every round's pre-checkpoint plan scans the store's by_p only
    under a p IN (...) PartitionFilter, and the maintenance genuinely
    iterates (>= 2 rounds reach the plan sink for a delta whose
    derivations chain through the meta rules)."""
    import re

    store, *_ = _load_with_delta(spark, tmp_path, ontology=META_ONT)
    ids = {
        r["term"]: r["id"]
        for r in spark.read.parquet(os.path.join(store, "dict")).collect()
    }
    # a real typed delta row: its closure needs the classified/range chain
    delta2 = spark.createDataFrame(
        [(max(ids.values()) + 100, ids["rdf:type"], ids["c:Manager"])],
        "s long, p long, o long",
    )
    sink: list = []
    out = _entailment_delta(
        spark, store, delta2, META_ONT, mode="iterative", plan_sink=sink
    )
    assert out.count() > 0
    assert len(sink) >= 2, f"maintenance did not iterate ({len(sink)} rounds)"
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        for plan in sink:
            for seg in plan.split("FileScan parquet")[1:]:
                if f"{os.path.basename(store)}/by_p" not in seg:
                    continue
                pf = seg.split("PartitionFilters: [", 1)
                assert len(pf) == 2 and re.search(
                    r"p#\d+L? IN \(", pf[1].split("]", 1)[0]
                ), seg[:800]
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")


# ---------------- r10: closure-derived property table routing -----------------


def test_reasoned_ptable_routes_star_with_no_store_scan(spark, tmp_path):
    """VERDICT r9 #5: a store materialized with materialize=('ptable',)
    carries a CLOSURE-derived property table; open_store(reasoning=True)
    routes a qualifying star through it — the executed plan scans
    reasoning_layouts/ptable and NEVER touches by_p (zero joins for the
    star; the only joins left are the metadata-scale decode joins), and
    the answer equals the catalog-less reasoned engine's, including rows
    that exist ONLY as entailments."""
    from d_sparq_spark.load_pipeline import open_store

    base = _nt(tmp_path / "base.nt", BASE)
    delta = _nt(tmp_path / "delta.nt", DELTA)
    store = str(tmp_path / "store")
    bulk_load(spark, base, store)
    materialize_reasoning(spark, store, ONT, materialize=("ptable",))
    append_load(spark, delta, store)

    q = "SELECT ?s ?w WHERE { ?s p:affiliatedWith ?w ; p:worksAt ?w2 }"
    routed = open_store(spark, store, reasoning=True).query(q)
    # default maxMetadataStringLength truncates FileScan locations — raise
    # it so the path asserts below see the full strings
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = routed._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "reasoning_layouts/ptable/data" in plan, plan[:1500]
    assert "/by_p" not in plan, f"routed star still scans the store:\n{plan[:1500]}"

    # answer-preserving vs the un-routed reasoned engine; p:affiliatedWith
    # exists only as rdfs7 entailments of p:worksAt
    bare = EncodedSparqlEngine(
        reasoned_triples(spark, store),
        spark.read.parquet(os.path.join(store, "dict")),
        collect_stats=False, dict_rank_ordered=False,
    ).query(q)
    got = sorted(map(tuple, routed.collect()))
    assert got == sorted(map(tuple, bare.collect()))
    assert len(got) == 3  # s:a, s:b from the base, s:c only via the delta


def test_reasoned_ptable_append_demotes_multivalued(spark, tmp_path):
    """A delta that gives a subject a SECOND p:worksAt value must demote
    the predicate out of the refreshed closure PT (appends can only demote
    — the refresh's candidate pruning is exact), and the routed engine
    must fall back to the join plan with the correct multi-valued answer."""
    import json

    from d_sparq_spark.load_pipeline import open_store

    base = _nt(tmp_path / "base.nt", BASE)
    store = str(tmp_path / "store")
    bulk_load(spark, base, store)
    materialize_reasoning(spark, store, ONT, materialize=("ptable",))
    with open(os.path.join(store, "reasoning_layouts", "ptable",
                           "manifest.json")) as f:
        before = json.load(f)
    delta = _nt(tmp_path / "second.nt", ["<s:a> <p:worksAt> <s:beta>"])
    append_load(spark, delta, store)
    with open(os.path.join(store, "reasoning_layouts", "ptable",
                           "manifest.json")) as f:
        after = json.load(f)
    ids = {
        r["term"]: r["id"]
        for r in spark.read.parquet(os.path.join(store, "dict")).collect()
    }
    assert ids["p:worksAt"] in before and ids["p:affiliatedWith"] in before
    assert ids["p:worksAt"] not in after and ids["p:affiliatedWith"] not in after

    q = "SELECT ?s ?w WHERE { ?s p:affiliatedWith ?w ; p:worksAt ?w2 }"
    got = sorted(
        map(tuple, open_store(spark, store, reasoning=True).query(q).collect())
    )
    truth = sorted(map(tuple, EncodedSparqlEngine(
        reasoned_triples(spark, store),
        spark.read.parquet(os.path.join(store, "dict")),
        collect_stats=False, dict_rank_ordered=False,
    ).query(q).collect()))
    assert got == truth and len(got) == 5  # s:a now matches 2x2 pairs + s:b


def test_reasoned_extvp_routes_and_refreshes(spark, tmp_path):
    """r10 (VERDICT r9 residual #3): materialize=('extvp',) persists
    SS/OS reductions over the CLOSURE; the reasoned engine scans them
    (plan shows reasoning_layouts/extvp) with answers equal to the
    un-routed reasoned engine — including rows that exist only as
    entailments appended AFTER materialization (the maintenance refresh
    recomputes pairs touched by the delta's ∪ derivable predicates)."""
    from d_sparq_spark.load_pipeline import open_store

    base = _nt(tmp_path / "base.nt", BASE)
    delta = _nt(tmp_path / "delta.nt", DELTA)
    store = str(tmp_path / "store")
    bulk_load(spark, base, store)
    materialize_reasoning(spark, store, ONT, materialize=("extvp",))
    append_load(spark, delta, store)

    # p:affiliatedWith exists only as rdfs7 entailments; the SS pair
    # (affiliatedWith, likes) reduces 3 rows -> 1 subject
    q = "SELECT ?s ?w ?x WHERE { ?s p:affiliatedWith ?w ; p:likes ?x }"
    routed = open_store(spark, store, reasoning=True).query(q)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = routed._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "reasoning_layouts/extvp" in plan, plan[:1500]

    bare = EncodedSparqlEngine(
        reasoned_triples(spark, store),
        spark.read.parquet(os.path.join(store, "dict")),
        collect_stats=False, dict_rank_ordered=False,
    ).query(q)
    got = sorted(map(tuple, routed.collect()))
    assert got == sorted(map(tuple, bare.collect())) and len(got) > 0

    # the delta's s:c worksAt beta entailed s:c affiliatedWith beta; a
    # star over affiliatedWith alone must see it through the refreshed
    # reductions route (single-pattern stars scan the VP slice, so probe
    # via the two-pattern star with the delta's liker s:y)
    q2 = "SELECT ?s ?w WHERE { ?s p:affiliatedWith ?w }"
    got2 = sorted(
        map(tuple, open_store(spark, store, reasoning=True).query(q2).collect())
    )
    assert ("s:c", "s:beta") in got2


def test_append_reasserting_entailed_row_keeps_layers_disjoint(spark, tmp_path):
    """r10 review #2: a delta that ASSERTS a triple the layer already
    entails moves it base-ward — the entailed copy must leave the layer,
    or the closure union double-counts it (duplicate bindings, spurious
    PT demotion, wrong ExtVP denominators)."""
    base = _nt(tmp_path / "b.nt", BASE)
    store = str(tmp_path / "s")
    bulk_load(spark, base, store)
    materialize_reasoning(spark, store, ONT, materialize=("ptable",))
    ids = {
        r["term"]: r["id"]
        for r in spark.read.parquet(os.path.join(store, "dict")).collect()
    }
    import json

    with open(os.path.join(store, "reasoning_layouts", "ptable",
                           "manifest.json")) as f:
        assert ids["p:affiliatedWith"] in json.load(f)

    # re-assert an entailed row (and add one fresh row so the append is
    # not a pure no-op)
    delta = _nt(tmp_path / "d.nt", [
        "<s:a> <p:affiliatedWith> <s:acme>",   # currently ENTAILED
        "<s:d> <p:worksAt> <s:acme>",
    ])
    append_load(spark, delta, store)

    rel = reasoned_triples(spark, store)
    assert rel.count() == rel.dropDuplicates().count()  # no double-count
    moved = ("s:a", "p:affiliatedWith", "s:acme")
    assert moved in _decoded(spark, store, store_triples(spark, store))
    assert moved not in _decoded(spark, store, entailed_triples(spark, store))

    # closure unchanged vs the batch operator over the union, and the
    # functional predicate was NOT spuriously demoted out of the PT
    both = parse_ntriples(spark.read.text(base)).unionByName(
        parse_ntriples(spark.read.text(delta))
    )
    assert _decoded(spark, store, rel) == sorted(
        map(tuple, rdfs_entailment(both, ONT).collect())
    )
    with open(os.path.join(store, "reasoning_layouts", "ptable",
                           "manifest.json")) as f:
        assert ids["p:affiliatedWith"] in json.load(f)


def test_rematerialize_without_layouts_drops_stale_ones(spark, tmp_path):
    """r10 review #3: re-materializing with a different ontology and no
    materialize flag must remove the previous call's closure-derived
    layouts — open_store would otherwise route through the OLD closure."""
    base = _nt(tmp_path / "b.nt", BASE)
    store = str(tmp_path / "s")
    bulk_load(spark, base, store)
    materialize_reasoning(spark, store, ONT, materialize=("ptable", "extvp"))
    assert os.path.exists(os.path.join(store, "reasoning_layouts", "ptable"))
    materialize_reasoning(spark, store, [("c:Manager", "rdfs:subClassOf", "c:Boss")])
    assert not os.path.exists(os.path.join(store, "reasoning_layouts", "ptable"))
    assert not os.path.exists(os.path.join(store, "reasoning_layouts", "extvp"))
    from d_sparq_spark.load_pipeline import open_store

    q = "SELECT ?s ?w WHERE { ?s p:affiliatedWith ?w ; p:worksAt ?w2 }"
    # the old-ontology PT held affiliatedWith rows; the new closure has
    # none — the un-routed engine (no stale layout) answers empty
    assert open_store(spark, store, reasoning=True).query(q).count() == 0


def test_crashed_rematerialization_leaves_store_uncommitted(
    spark, tmp_path, monkeypatch
):
    """A re-run of materialize_reasoning un-commits the layer before it
    rewrites entailed/ and sameas/: a crash after entailed/ was rewritten
    leaves a store appends treat as reasoning-free, not the old manifest
    committed over a partial layer. A clean re-run commits it again."""
    import pytest

    from d_sparq_spark.operators import graph

    store = str(tmp_path / "s")
    bulk_load(spark, _nt(tmp_path / "b.nt", BASE), store)
    materialize_reasoning(spark, store, ONT)
    assert _has_reasoning(store)

    def crash(*a, **kw):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(graph, "connected_components", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        materialize_reasoning(spark, store, ONT)
    assert not _has_reasoning(store)
    monkeypatch.undo()
    materialize_reasoning(spark, store, ONT)
    assert _has_reasoning(store)
