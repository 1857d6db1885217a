"""Full lifecycle: N-Triples file -> bulk load -> reopen -> SPARQL answers
== lexical engine on the original triples; plus partition pruning on the
vertically-partitioned layout."""

from pyspark.sql import functions as F

from d_sparq_spark.engine import SparqlEngine
from d_sparq_spark.load_pipeline import append_load, bulk_load, open_store, store_triples
from d_sparq_spark.sources.derived_rdf import derive_triples
from d_sparq_spark.sources.ntriples import format_ntriples

SF = "/root/testdata/sf0.001"


def test_bulk_load_roundtrip_and_query(spark, tmp_path):
    triples = derive_triples(spark, SF)
    nt_dir = str(tmp_path / "dump_nt")
    format_ntriples(triples).write.mode("overwrite").text(nt_dir)

    store = str(tmp_path / "store")
    info = bulk_load(spark, nt_dir, store)
    assert info["n_triples"] == triples.count()
    assert info["n_terms"] > 0

    engine = open_store(spark, store)
    q = ('SELECT ?c ?name WHERE { ?c foaf:name ?name ; '
         'ex:mktsegment "BUILDING" }')
    got = sorted(tuple(r) for r in engine.query(q).collect())
    want = sorted(
        tuple(r)
        for r in SparqlEngine(triples, collect_stats=False).query(q).collect()
    )
    assert got == want and len(got) > 0


def test_bulk_load_with_materialized_layouts(spark, tmp_path):
    """Load with ('ptable','extvp'): open_store rehydrates the catalog and
    a qualifying star scans the persisted ptable parquet — visible in the
    plan's file location — with answers equal to the catalog-less engine."""
    triples = derive_triples(spark, SF)
    nt_dir = str(tmp_path / "nt3")
    format_ntriples(triples).write.mode("overwrite").text(nt_dir)
    store = str(tmp_path / "store3")
    bulk_load(spark, nt_dir, store, materialize=("ptable", "extvp"))

    engine = open_store(spark, store)
    assert engine.catalog is not None and engine.catalog.ptable is not None
    # encoded stores carry int predicate ids; the manifest must round-trip them
    assert all(isinstance(p, int) for p in engine.catalog.pt_preds)
    q = ('SELECT ?c ?name ?bal WHERE { ?c foaf:name ?name ; ex:acctbal ?bal ; '
         'ex:mktsegment "BUILDING" }')
    got = engine.query(q)
    # default metadata display truncates the scan path mid-directory —
    # widen it so the ptable/ location is assertable
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    plan = got._jdf.queryExecution().executedPlan().toString()
    spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "ptable" in plan, f"PT parquet not scanned:\n{plan[:1500]}"
    want = sorted(
        tuple(r)
        for r in SparqlEngine(triples, collect_stats=False).query(q).collect()
    )
    assert sorted(tuple(r) for r in got.collect()) == want and len(want) > 0


def test_vp_store_prunes_by_predicate(spark, tmp_path):
    triples = derive_triples(spark, SF)
    nt_dir = str(tmp_path / "nt2")
    format_ntriples(triples).write.mode("overwrite").text(nt_dir)
    store = str(tmp_path / "store2")
    bulk_load(spark, nt_dir, store)

    enc = store_triples(spark, store)
    some_p = enc.select("p").distinct().limit(1).collect()[0]["p"]
    pruned = enc.filter(F.col("p") == some_p)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(p" in plan, plan
    assert pruned.count() > 0


def test_orc_sink_source_roundtrip(spark, tmp_path):
    """ORC is the other columnar format Spark ships natively; the engine's
    IO layer must round-trip it (schema + values) like parquet."""
    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    path = str(tmp_path / "nation_orc")
    src.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_assign_ids_no_single_partition_stage(spark, monkeypatch):
    """VERDICT r2 #5: the dictionary's global dense rank must never plan a
    SinglePartition window (the classic row_number-over-everything scale
    killer). assign_ids range-partitions, ranks per partition, and adds
    driver-computed offsets — the plan's only window partitions by _pid.
    The gated driver rank would absorb a stream this small, so the
    DISTRIBUTED scheme (whose plan this test pins — the 100 TB path) is
    forced by scaling the driver gates to zero."""
    from d_sparq_spark.operators.dictionary import assign_ids
    from d_sparq_spark.sources.derived_rdf import derive_triples

    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    t = derive_triples(spark, "/root/testdata/sf0.001")
    ids = assign_ids(t.select(F.col("s").alias("term")))
    plan = ids._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan  # the per-partition rank is still a window
    # ids are a dense 1..N lexicographic rank — spot-check the contract
    rows = ids.orderBy("id").limit(3).collect()
    assert [r["id"] for r in rows] == [1, 2, 3]
    assert rows == sorted(rows, key=lambda r: r["term"])


def test_assign_ids_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The gated driver rank must be BIT-IDENTICAL to the
    distributed range-partitioned rank — including NULL terms (a quad
    default graph ranks FIRST, the window's NULLS FIRST), duplicates,
    and non-ASCII terms (Python code-point order == Spark's unsigned
    UTF-8 byte order)."""
    from d_sparq_spark import gates
    from d_sparq_spark.operators.dictionary import assign_ids

    rows = [(t,) for t in
            ["b", "a", "b", "éclair", "Z", "", "中文", "a"]]
    rows.append((None,))
    terms = spark.createDataFrame(rows, "term string")

    fast = {(r["id"], r["term"]) for r in assign_ids(terms).collect()}
    # an explicit partition count requests the distributed scheme
    slow = {(r["id"], r["term"])
            for r in assign_ids(terms, num_partitions=3).collect()}
    assert fast == slow
    # and the declined-gate escape hatch still returns the same ids
    monkeypatch.setenv(
        "D_SPARQ_DRIVER_GATE_SCALE", repr(2 / gates.DRIVER_RANK_MAX_ROWS)
    )
    declined = {(r["id"], r["term"]) for r in assign_ids(terms).collect()}
    assert declined == slow


def test_reopened_store_p_column_is_long(spark, tmp_path):
    # review r3: partition-dir inference returned p:int, which the
    # bigint-only decode skipped — variable-predicate queries leaked ids
    import os

    from d_sparq_spark.load_pipeline import bulk_load, open_store, store_triples

    nt = tmp_path / "tiny.nt"
    nt.write_text('<s:a> <p:x> "1" .\n<s:b> <p:y> "2" .\n')
    store = os.path.join(str(tmp_path), "store")
    bulk_load(spark, str(nt), store)
    assert dict(store_triples(spark, store).dtypes)["p"] == "bigint"
    eng = open_store(spark, store)
    out = eng.query("SELECT ?p WHERE { ?s ?p ?o }")
    vals = {r["p"] for r in out.collect()}
    assert vals == {"p:x", "p:y"}  # decoded terms, not raw integer ids


def test_bulk_load_ptable_skipped_when_no_functional_predicate(spark, tmp_path):
    import os

    from d_sparq_spark.load_pipeline import bulk_load

    # every predicate multi-valued -> no property table, load must succeed
    nt = tmp_path / "multi.nt"
    nt.write_text(
        '<s:a> <p:x> "1" .\n<s:a> <p:x> "2" .\n'
        '<s:b> <p:x> "3" .\n<s:b> <p:x> "4" .\n'
    )
    store = os.path.join(str(tmp_path), "store2")
    info = bulk_load(spark, str(nt), store, materialize=("ptable",))
    assert info["n_triples"] == 4
    assert not os.path.exists(os.path.join(store, "ptable", "manifest.json"))


# --- incremental dictionary append (r5, VERDICT r4 #3) ----------------------


def _nt(path, lines):
    path.write_text("".join(line + " .\n" for line in lines))
    return str(path)


def test_append_load_parity_with_lexical_engine(spark, tmp_path):
    """bulk_load base + append_load delta == lexical engine over the union.
    The delta's terms sort lexicographically BEFORE the base's, so the
    combined dictionary is append-ordered, not rank-ordered: if the
    encoded MIN/MAX peel ran anyway, min(id) would decode to a base term
    while min(term) is a delta term — the parity check below catches
    exactly that (the engine must take the decode-before-agg path)."""
    import os

    from d_sparq_spark.load_pipeline import append_load, bulk_load, open_store
    from d_sparq_spark.sources.ntriples import parse_ntriples

    base = _nt(tmp_path / "base.nt", [
        '<s:m> <p:x> "mango"', '<s:m> <p:x> "zebra"',
        '<s:n> <p:x> "melon"', '<s:n> <p:y> "nine"',
    ])
    delta = _nt(tmp_path / "delta.nt", [
        '<s:m> <p:x> "apple"', '<s:a> <p:x> "berry"',
        '<s:a> <p:y> "arc"', '<s:n> <p:x> "axe"',
    ])
    store = os.path.join(str(tmp_path), "store_app")
    bulk_load(spark, base, store)
    info = append_load(spark, delta, store)
    assert info["n_new_terms"] > 0
    assert info["n_triples"] == 8

    engine = open_store(spark, store)
    assert engine.dict_rank_ordered is False

    both = parse_ntriples(spark.read.text(base)).unionByName(
        parse_ntriples(spark.read.text(delta))
    )
    from d_sparq_spark.engine import SparqlEngine

    lex = SparqlEngine(both, collect_stats=False)
    queries = [
        # MIN/MAX group — the peel-disabled parity the gate exists for
        "SELECT ?s (MIN(?o) AS ?mn) (MAX(?o) AS ?mx) "
        "WHERE { ?s <p:x> ?o } GROUP BY ?s",
        # plain BGP spanning base and delta triples
        "SELECT ?s ?o WHERE { ?s <p:x> ?o }",
        # COUNT stays peelable either way
        "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s",
    ]
    for q in queries:
        got = sorted(tuple(r) for r in engine.query(q).collect())
        want = sorted(tuple(r) for r in lex.query(q).collect())
        assert got == want and len(got) > 0, q


def test_append_ids_delta_only_and_bijection(spark, tmp_path):
    import os

    from d_sparq_spark.load_pipeline import append_load, bulk_load

    base = _nt(tmp_path / "b.nt", ['<s:b> <p:x> "bb"', '<s:c> <p:x> "cc"'])
    delta = _nt(tmp_path / "d.nt", ['<s:a> <p:x> "aa"', '<s:b> <p:x> "bb"'])
    store = os.path.join(str(tmp_path), "store_bij")
    bulk_load(spark, base, store)
    d0 = spark.read.parquet(os.path.join(store, "dict"))
    base_ids = {r["term"]: r["id"] for r in d0.collect()}
    append_load(spark, delta, store)
    d1 = spark.read.parquet(os.path.join(store, "dict"))
    rows = d1.collect()
    ids = [r["id"] for r in rows]
    terms = [r["term"] for r in rows]
    assert len(ids) == len(set(ids)) and len(terms) == len(set(terms))  # bijection
    after = {r["term"]: r["id"] for r in rows}
    # existing assignments untouched; new terms strictly above old max
    assert all(after[t] == i for t, i in base_ids.items())
    new_terms = set(terms) - set(base_ids)
    assert new_terms == {"s:a", "aa"}
    assert all(after[t] > max(base_ids.values()) for t in new_terms)


def test_append_without_new_terms_keeps_rank_order(spark, tmp_path):
    import os

    from d_sparq_spark.load_pipeline import append_load, bulk_load, open_store

    base = _nt(tmp_path / "b2.nt", ['<s:a> <p:x> "v1"', '<s:b> <p:x> "v2"'])
    delta = _nt(tmp_path / "d2.nt", ['<s:b> <p:x> "v1"'])  # all terms known
    store = os.path.join(str(tmp_path), "store_noflip")
    bulk_load(spark, base, store)
    info = append_load(spark, delta, store)
    assert info["n_new_terms"] == 0 and info["n_triples"] == 3
    assert open_store(spark, store).dict_rank_ordered is True


def test_append_load_rebuilds_stale_ptable(spark, tmp_path):
    """A delta that makes a predicate multi-valued must not leave the
    property-table artifact routing queries to pre-delta data."""
    import os

    from d_sparq_spark.load_pipeline import append_load, bulk_load, open_store

    base = _nt(tmp_path / "b3.nt", [
        '<s:a> <p:f> "1"', '<s:b> <p:f> "2"', '<s:a> <p:g> "x"', '<s:b> <p:g> "y"',
    ])
    store = os.path.join(str(tmp_path), "store_pt")
    bulk_load(spark, base, store, materialize=("ptable",))
    assert os.path.exists(os.path.join(store, "ptable", "manifest.json"))

    # delta keeps p:f functional (new subject) -> ptable rebuilt with it
    delta = _nt(tmp_path / "d3.nt", ['<s:c> <p:f> "3"', '<s:c> <p:g> "z"'])
    append_load(spark, delta, store)
    engine = open_store(spark, store)
    q = "SELECT ?s ?f ?g WHERE { ?s <p:f> ?f ; <p:g> ?g }"
    got = sorted(tuple(r) for r in engine.query(q).collect())
    assert got == [
        ("s:a", "1", "x"), ("s:b", "2", "y"), ("s:c", "3", "z"),
    ]

    # second delta makes p:f multi-valued -> the rebuilt ptable keeps only
    # the still-functional p:g and answers stay right (s:a now has TWO f's)
    delta2 = _nt(tmp_path / "d4.nt", ['<s:a> <p:f> "9"'])
    append_load(spark, delta2, store)
    engine2 = open_store(spark, store)
    assert engine2.catalog is not None and len(engine2.catalog.pt_preds) == 1
    got2 = sorted(tuple(r) for r in engine2.query(q).collect())
    assert ("s:a", "9", "x") in got2 and ("s:a", "1", "x") in got2 and len(got2) == 4


# --- term-bucketed dictionary layout + id watermark (r6) ---------------------


def test_dict_bucketed_antijoin_has_no_dict_side_exchange(spark, tmp_path):
    """The dict/ layout is a Spark bucketed table CLUSTERED BY (term): a
    delta anti-join must read the dictionary's buckets in place — the only
    Exchange in the plan belongs to the (small) delta side. Broadcast is
    disabled so the plan cannot cheat its way past the bucketing."""
    import os

    from d_sparq_spark.load_pipeline import (
        _read_meta, _register_dict_table, bulk_load,
    )

    base = _nt(tmp_path / "bk.nt", [f'<s:{i}> <p:x> "v{i}"' for i in range(50)])
    store = os.path.join(str(tmp_path), "store_bk")
    bulk_load(spark, base, store)
    meta = _read_meta(spark, store)
    assert meta["dict_buckets"] and meta["max_id"] == meta["n_terms"] > 0

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = _register_dict_table(spark, store, meta["dict_buckets"])
        delta = spark.createDataFrame([("zzz",), ("v1",)], "term string")
        plan = (
            delta.join(t, "term", "left_anti")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan
    # exactly one Exchange: the delta side (the bucketed scan needs none)
    assert plan.count("Exchange") == 1


def test_append_watermark_reservation_never_collides(spark, tmp_path):
    """Reserve-then-append: a crash after the meta write but before the
    dict append leaves an id GAP. The next (retried or unrelated) append
    must allocate above the reserved range — the bijection survives."""
    import os

    from d_sparq_spark.load_pipeline import _read_meta, _write_meta, append_load, bulk_load

    base = _nt(tmp_path / "wb.nt", ['<s:b> <p:x> "bb"'])
    store = os.path.join(str(tmp_path), "store_wm")
    bulk_load(spark, base, store)
    meta = _read_meta(spark, store)

    # simulate the crashed append: watermark advanced by 7, no rows landed
    _write_meta(
        spark, store, rank_ordered=False,
        n_terms=meta["n_terms"] + 7, max_id=meta["max_id"] + 7,
        dict_buckets=meta["dict_buckets"],
    )
    delta = _nt(tmp_path / "wd.nt", ['<s:a> <p:x> "aa"'])
    info = append_load(spark, delta, store)
    assert info["n_new_terms"] == 2
    d = spark.read.parquet(os.path.join(store, "dict"))
    rows = d.collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids))  # bijection despite the gap
    new_ids = sorted(r["id"] for r in rows if r["term"] in ("s:a", "aa"))
    assert min(new_ids) > meta["max_id"] + 7  # above the reserved range
    assert _read_meta(spark, store)["max_id"] == meta["max_id"] + 9


def test_append_legacy_store_without_manifest_counters(spark, tmp_path):
    """A store whose meta predates the counters (or is missing entirely)
    appends through the plain-parquet path: the scans run once, then the
    refreshed manifest records counters for every later append."""
    import os
    import shutil

    from d_sparq_spark.load_pipeline import _read_meta, append_load, bulk_load, open_store

    base = _nt(tmp_path / "lb.nt", ['<s:b> <p:x> "bb"', '<s:c> <p:x> "cc"'])
    store = os.path.join(str(tmp_path), "store_legacy")
    bulk_load(spark, base, store)
    shutil.rmtree(os.path.join(store, "meta"))  # legacy: no manifest at all

    delta = _nt(tmp_path / "ld.nt", ['<s:a> <p:x> "aa"'])
    append_load(spark, delta, store)
    meta = _read_meta(spark, store)
    assert meta["rank_ordered"] is False and meta["dict_buckets"] is None
    assert meta["n_terms"] == 7 and meta["max_id"] == 7

    engine = open_store(spark, store)
    got = sorted(tuple(r) for r in engine.query(
        "SELECT ?s ?o WHERE { ?s <p:x> ?o }"
    ).collect())
    assert got == [("s:a", "aa"), ("s:b", "bb"), ("s:c", "cc")]


def test_read_meta_fails_closed_on_damaged_manifest(spark, tmp_path):
    """A PRESENT meta/ with zero rows (or a missing flag column) means the
    store's append history is unknown — the reader must disable the
    MIN/MAX peel (rank_ordered False), and a column-less manifest must
    raise, never default open (review r6)."""
    import os

    from d_sparq_spark.load_pipeline import _read_meta

    store = str(tmp_path / "store_dmg")
    spark.createDataFrame(
        [], "rank_ordered boolean, n_terms long, max_id long, dict_buckets int"
    ).write.parquet(os.path.join(store, "meta"))
    assert _read_meta(spark, store)["rank_ordered"] is False

    store2 = str(tmp_path / "store_dmg2")
    spark.createDataFrame([(1,)], "bogus int").write.parquet(
        os.path.join(store2, "meta")
    )
    import pytest as _pytest

    with _pytest.raises(Exception):
        _read_meta(spark, store2)


def test_bulk_rebuild_drops_stale_layouts(spark, tmp_path):
    """review r7: a bulk_load REBUILD over a store that had materialized
    layouts must remove them (when not re-requested) — open_store would
    otherwise route qualifying stars to artifacts from the PREVIOUS data
    and silently answer from the pre-rebuild store."""
    from d_sparq_spark.load_pipeline import bulk_load, open_store

    base = _nt(tmp_path / "b.nt", [
        '<s:a> <p:name> "A"', '<s:a> <p:bal> "1"',
        '<s:b> <p:name> "B"', '<s:b> <p:bal> "2"',
    ])
    store = str(tmp_path / "store_rb")
    bulk_load(spark, base, store, materialize=("ptable", "extvp"))
    assert open_store(spark, store).catalog is not None
    # rebuild with DIFFERENT data and no layouts requested
    rebuilt = _nt(tmp_path / "b2.nt", [
        '<s:c> <p:name> "C"', '<s:c> <p:bal> "9"',
    ])
    bulk_load(spark, rebuilt, store)
    e = open_store(spark, store)
    assert e.catalog is None  # stale ptable/extvp gone, no silent routing
    got = sorted(
        tuple(r)
        for r in e.query("SELECT ?n ?b WHERE { ?x <p:name> ?n ; <p:bal> ?b }").collect()
    )
    assert got == [("C", "9")]


def test_bulk_load_empty_dump_raises_before_writing(spark, tmp_path):
    """review r7: an all-malformed/empty dump must fail with a clear error
    BEFORE any store write, not crash later on an empty-parquet read."""
    import pytest

    from d_sparq_spark.load_pipeline import bulk_load

    bad = tmp_path / "bad.nt"
    bad.write_text("# only a comment\nnot a triple line\n")
    store = str(tmp_path / "store_empty")
    with pytest.raises(ValueError, match="no triples parsed"):
        bulk_load(spark, str(bad), store)
    import os

    assert not os.path.exists(os.path.join(store, "by_p"))


def test_append_redelivered_delta_is_idempotent(spark, tmp_path):
    """review r7: an RDF graph is a SET of triples — re-delivering the
    same delta (retry after an un-acked success) or restating stored
    triples must not append duplicate rows (duplicates double counts and
    demote functional predicates out of the property-table layout)."""
    from d_sparq_spark.load_pipeline import append_load, bulk_load, open_store

    base = _nt(tmp_path / "ib.nt", [
        '<s:a> <p:name> "A"', '<s:b> <p:name> "B"',
    ])
    store = str(tmp_path / "store_idem")
    bulk_load(spark, base, store, materialize=("ptable",))
    delta = _nt(tmp_path / "id.nt", [
        '<s:c> <p:name> "C"',        # genuinely new
        '<s:a> <p:name> "A"',        # restates a stored triple
        '<s:c> <p:name> "C"',        # duplicate within the delta
    ])
    r1 = append_load(spark, delta, store)
    assert r1["n_triples"] == 3
    r2 = append_load(spark, delta, store)  # re-delivered: must be a no-op
    assert r2["n_triples"] == 3 and r2["n_new_terms"] == 0
    e = open_store(spark, store)
    # p:name stayed functional -> the property-table layout survived
    assert e.catalog is not None and e.catalog.ptable is not None
    got = sorted(
        r["n"] for r in e.query("SELECT ?n WHERE { ?x <p:name> ?n }").collect()
    )
    assert got == ["A", "B", "C"]


def test_append_extvp_refresh_matches_full_rematerialization(spark, tmp_path):
    """review r7: the incremental ExtVP refresh (touched pairs only) must
    leave the SAME manifest a full re-materialization would produce."""
    import json
    import os

    from d_sparq_spark.load_pipeline import append_load, bulk_load, store_triples
    from d_sparq_spark.operators.extvp import materialize_extvp

    base = _nt(tmp_path / "eb.nt", [
        '<s:a> <p:x> <s:b>', '<s:b> <p:y> <s:c>',
        '<s:d> <p:x> <s:e>', '<s:c> <p:z> <s:a>',
    ])
    store = str(tmp_path / "store_ev")
    bulk_load(spark, base, store, materialize=("extvp",))
    delta = _nt(tmp_path / "ed.nt", [
        '<s:e> <p:y> <s:f>',   # touches p:y only
    ])
    append_load(spark, delta, store)

    def entries(p):
        with open(os.path.join(p, "extvp", "manifest.json")) as f:
            return sorted((e["kind"], e["p1"], e["p2"], e["ratio"]) for e in json.load(f))

    incremental = entries(store)
    # full re-materialization of the SAME post-append store into a copy
    full_store = str(tmp_path / "store_ev_full")
    materialize_extvp(store_triples(spark, store), full_store)
    assert incremental == entries(full_store)
    assert len(incremental) > 0


def test_persisted_ptable_leaves_no_cached_dataframe(spark, tmp_path):
    """A persisted property table is read back from parquet, so building
    it must not leave its cached pivot registered in the session: the
    cache manager stays empty through bulk_load, append_load and
    delete_load on a ptable store (a leftover entry is recached by path
    on every later by_p write and checked against every query plan)."""
    import os

    from d_sparq_spark.load_pipeline import append_load, delete_load

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    base = _nt(tmp_path / "cb.nt", [
        '<s:a> <p:name> "A"', '<s:b> <p:name> "B"', '<s:a> <p:age> "1"',
    ])
    store = str(tmp_path / "store_cache")
    bulk_load(spark, base, store, materialize=("ptable",))
    assert os.path.exists(os.path.join(store, "ptable", "data"))
    assert cache.isEmpty(), "bulk_load left a cached DataFrame"
    append_load(spark, _nt(tmp_path / "ca.nt", ['<s:c> <p:name> "C"']), store)
    assert cache.isEmpty(), "append_load left a cached DataFrame"
    delete_load(spark, _nt(tmp_path / "cd.nt", ['<s:a> <p:age> "1"']), store)
    assert cache.isEmpty(), "delete_load left a cached DataFrame"


def test_open_store_no_jobs_and_bound_subject_star_scans_ptable(
    spark, tmp_path, jobs_fired
):
    """open_store reads by_p, dict and ptable with declared schemas, so
    reopening a store fires no Spark job; a star with a BOUND subject
    answers from the persisted property table (one filtered row) instead
    of one VP scan and join per pattern, equal to the lexical engine."""
    triples = derive_triples(spark, SF)
    nt_dir = str(tmp_path / "nt")
    format_ntriples(triples).write.mode("overwrite").text(nt_dir)
    store = str(tmp_path / "store")
    bulk_load(spark, nt_dir, store, materialize=("ptable",))

    engine, n = jobs_fired(lambda: open_store(spark, store))
    assert n == 0
    assert engine.catalog is not None and engine.catalog.ptable is not None
    q = ("SELECT ?name ?bal ?n WHERE { c:7 foaf:name ?name ; ex:acctbal ?bal ; "
         "ex:nation ?n }")
    got = engine.query(q)
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    plan = got._jdf.queryExecution().executedPlan().toString()
    spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "ptable/data" in plan, f"PT parquet not scanned:\n{plan[:1500]}"
    assert "by_p" not in plan, f"bound star still scans VP:\n{plan[:1500]}"
    want = sorted(
        tuple(r)
        for r in SparqlEngine(triples, collect_stats=False).query(q).collect()
    )
    assert sorted(tuple(r) for r in got.collect()) == want and len(want) == 1


def test_write_vp_requires_exactly_spo(spark, tmp_path):
    # read_vp declares (s, o, p): an extra column would be written and
    # silently never read back, so the writer refuses it
    import pytest

    from d_sparq_spark.sources.triple_store import write_vp

    df = spark.createDataFrame([(1, 2, 3, 4)], "s long, p long, o long, g long")
    with pytest.raises(ValueError, match="s, p, o"):
        write_vp(df, str(tmp_path / "vp"))


_XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def _two_write_store(spark, tmp_path):
    """A store whose dict/ holds files of two writes (bulk_load + append),
    with language-tagged, typed, non-ASCII and quoted literals."""
    import os

    base = _nt(tmp_path / "base.nt", [
        '<s:a> <p:name> "café"@fr',
        f'<s:a> <p:age> "42"^^<{_XSD_INT}>',
        '<s:b> <p:name> "naïve 東京"',
        '<s:b> <p:say> "say \\"hi\\" it\'s"',
        '<s:b> <p:knows> <s:a>',
    ])
    delta = _nt(tmp_path / "delta.nt", ['<s:c> <p:name> "zoë"', "<s:c> <p:knows> <s:b>"])
    store = os.path.join(str(tmp_path), "store_lookup")
    bulk_load(spark, base, store)
    append_load(spark, delta, store)
    return store


def test_lookup_ids_driver_and_spark_routes_agree(
    spark, tmp_path, jobs_fired, monkeypatch
):
    """open_store hands a local, gate-sized store's dictionary files to
    the engine: the constants' term -> id lookup reads them on the
    driver, so building the plan fires no Spark job; with the driver
    gates off (D_SPARQ_DRIVER_GATE_SCALE=0 before open_store) the same
    lookup is one Spark job. Both routes give the same ids and answers,
    across files of two writes and awkward literals."""
    import os

    from d_sparq_spark.operators.dictionary import lookup_ids

    store = _two_write_store(spark, tmp_path)
    driver = open_store(spark, store)
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    distributed = open_store(spark, store)
    monkeypatch.delenv("D_SPARQ_DRIVER_GATE_SCALE")
    assert distributed._dict_files is None and driver._dict_files
    writes = {
        os.path.basename(f).split("-", 2)[2].rsplit("_", 1)[0]
        for f in driver._dict_files
    }
    assert len(writes) == 2, driver._dict_files

    consts = [
        "s:a", "zoë", "absent:term", '"café"@fr', f'"42"^^{_XSD_INT}',
        "naïve 東京", "say \"hi\" it's", '"café"@en',
    ]
    by_driver, n = jobs_fired(lambda: lookup_ids(driver.dict, consts, driver._dict_files))
    assert n == 0
    by_spark = lookup_ids(distributed.dict, consts)
    assert by_driver == by_spark
    assert set(by_driver) == set(consts) - {"absent:term", '"café"@en'}

    q = (
        "SELECT ?s ?p WHERE { "
        "{ ?s ?p <s:a> } UNION { ?s ?p \"zoë\" } UNION { ?s ?p \"café\"@fr } "
        f"UNION {{ ?s ?p \"42\"^^<{_XSD_INT}> }} UNION {{ ?s ?p \"naïve 東京\" }} "
        "UNION { ?s ?p \"say \\\"hi\\\" it's\" } UNION { ?s ?p <absent:term> } }"
    )
    got, n_driver = jobs_fired(lambda: driver.query(q))
    want, n_spark = jobs_fired(lambda: distributed.query(q))
    assert (n_driver, n_spark) == (0, 1)
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(tuple(r) for r in want.collect())
    assert len(rows) == 6, rows


def test_engine_lookup_pinned_to_its_open_snapshot(spark, tmp_path, monkeypatch):
    """An engine's driver lookup reads the dictionary files listed when
    the store was opened: a term appended afterwards is not in that
    engine's dictionary, so its VALUES query takes the lexical fallback
    and answers exactly as the engine's Spark route does. A reopened
    engine finds the term."""
    from d_sparq_spark.operators.dictionary import lookup_ids

    store = _two_write_store(spark, tmp_path)
    engine = open_store(spark, store)
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    distributed = open_store(spark, store)
    monkeypatch.delenv("D_SPARQ_DRIVER_GATE_SCALE")
    append_load(spark, _nt(tmp_path / "late.nt", ['<s:t> <p:name> "tango"']), store)

    q = "SELECT ?s ?p ?o WHERE { VALUES ?s { <s:t> } ?s ?p ?o }"
    assert lookup_ids(engine.dict, ["s:t"], engine._dict_files) == {}
    got = sorted(tuple(r) for r in engine.query(q).collect())
    assert got == sorted(tuple(r) for r in distributed.query(q).collect())
    assert got == []
    reopened = open_store(spark, store)
    assert "s:t" in lookup_ids(reopened.dict, ["s:t"], reopened._dict_files)
    assert [tuple(r) for r in reopened.query(q).collect()] == [
        ("s:t", "p:name", "tango")
    ]


def test_seeded_walk_query_construction_jobs(spark, tmp_path, jobs_fired):
    """Building an encoded `<const> ex:next+ ?y` plan runs the seeded
    walk's driver route: the constant's seed is a local relation
    (arrow_df), so the route's collects of it fire no job, and the
    construction fires 4 (5 when the seed was an RDD-backed relation)."""
    import os

    store = os.path.join(str(tmp_path), "chain")
    bulk_load(spark, _nt(tmp_path / "chain.nt", [
        f"<s:n{i}> <ex:next> <s:n{i + 1}>" for i in range(8)
    ]), store)
    engine = open_store(spark, store)
    q = "SELECT ?y WHERE { <s:n0> <ex:next>+ ?y }"
    got, n = jobs_fired(lambda: engine.query(q))
    assert n <= 4, n
    assert sorted(r["y"] for r in got.collect()) == sorted(
        f"s:n{i}" for i in range(1, 9)
    )


def test_bulk_load_dedups_repeated_lines(spark, tmp_path):
    """An RDF graph is a set: a dump that repeats lines loads into the
    same dict/, stats/, property-table manifest and answers as the dump
    without the repeats."""
    import os

    import pyarrow.parquet as pq

    lines = ['<s:a> <p:name> "A"', '<s:b> <p:name> "B"', "<s:a> <p:knows> <s:b>"]
    stores = []
    for name, dump in (("plain", lines), ("repeated", lines + lines[:2] + lines[:1])):
        store = os.path.join(str(tmp_path), name)
        bulk_load(spark, _nt(tmp_path / f"{name}.nt", dump), store,
                  materialize=("ptable",))
        stores.append(store)

    def snapshot(store):
        table = lambda d: sorted(
            pq.read_table(os.path.join(store, d)).to_pylist(), key=str
        )
        with open(os.path.join(store, "ptable", "manifest.json")) as f:
            manifest = f.read()
        q = "SELECT ?s ?n WHERE { ?s <p:name> ?n }"
        answers = sorted(map(tuple, open_store(spark, store).query(q).collect()))
        return table("dict"), table("stats"), manifest, answers

    plain, repeated = map(snapshot, stores)
    assert repeated == plain
    assert plain[3] == [("s:a", "A"), ("s:b", "B")]
