"""StoreCatalog planner routing (plans/catalog.py): qualifying subject
stars run off the PROPERTY TABLE with ZERO joins; star patterns scan ExtVP
semi-join reductions instead of the full store. Every route must be
answer-preserving vs the catalog-less engine — the physical layout may
never change the query's result.
"""

import pytest
from pyspark.sql import functions as F

from d_sparq_spark.engine import SparqlEngine
from d_sparq_spark.operators.rdf_patterns import TriplePattern, star_join
from d_sparq_spark.plans.catalog import StoreCatalog
from d_sparq_spark.sources.derived_rdf import derive_triples_cached

SF = "/root/testdata/sf0.001"

CUSTOMER_STAR = (
    'SELECT ?c ?name ?bal WHERE { ?c foaf:name ?name ; ex:acctbal ?bal ; '
    'ex:mktsegment "BUILDING" }'
)
NATION_STAR = "SELECT ?n ?name ?r WHERE { ?n foaf:name ?name ; ex:region ?r }"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def triples(spark):
    return derive_triples_cached(spark, SF)


@pytest.fixture(scope="module")
def pt_catalog(triples):
    return StoreCatalog().add_property_table(triples)


@pytest.fixture(scope="module")
def extvp_catalog(triples):
    return StoreCatalog().add_extvp(
        triples, predicates=["foaf:name", "ex:acctbal", "ex:mktsegment", "ex:region"]
    )


# ---------------- property-table route ----------------


def test_pt_star_zero_joins_and_equivalent(spark, triples, pt_catalog):
    routed = SparqlEngine(triples, collect_stats=False, catalog=pt_catalog).query(
        CUSTOMER_STAR
    )
    # Everything above the cached PT's InMemoryRelation is the query's own
    # plan; the relation's *build* plan (printed below it) legitimately
    # contains derive_triples' semi-join and is not re-executed.
    plan = _plan(routed).split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in plan  # the star reads the PT...
    assert "Join" not in plan, f"PT-routed star still joins:\n{plan[:1500]}"
    base = SparqlEngine(triples, collect_stats=False).query(CUSTOMER_STAR)
    assert "Join" in _plan(base).split("InMemoryRelation")[0]  # un-routed twin joins
    assert _rows(routed) == _rows(base)


def test_pt_star_with_inter_star_join_stays_correct(spark, triples, pt_catalog):
    # PT answers each star; the star-to-star chain still joins as usual.
    q = (
        "SELECT ?c ?cname ?r WHERE { ?c ex:nation ?x ; foaf:name ?cname . "
        '?x ex:region ?r . ?r foaf:name "ASIA" }'
    )
    routed = SparqlEngine(triples, collect_stats=False, catalog=pt_catalog).query(q)
    base = SparqlEngine(triples, collect_stats=False).query(q)
    assert _rows(routed) == _rows(base)
    assert len(_rows(routed)) > 0


def test_pt_route_rejects_repeated_object_var(pt_catalog):
    # ?x bound by two patterns needs the join form's intra-star equality.
    star = [
        TriplePattern("?s", "foaf:name", "?x"),
        TriplePattern("?s", "ex:mktsegment", "?x"),
    ]
    assert pt_catalog.star_from_property_table(star, None) is None


def test_pt_route_rejects_single_pattern_and_graph(pt_catalog):
    star = [TriplePattern("?s", "foaf:name", "?x")]
    assert pt_catalog.star_from_property_table(star, None) is None
    two = [
        TriplePattern("?s", "foaf:name", "?x"),
        TriplePattern("?s", "ex:mktsegment", "?m"),
    ]
    assert pt_catalog.star_from_property_table(two, "g") is None
    assert pt_catalog.star_from_property_table(two, None) is not None


def test_pt_excludes_multivalued_predicate(spark):
    # "tag" is multi-valued: a pivot would keep one value and silently drop
    # bindings, so add_property_table must exclude it from the PT — and the
    # engine must still answer through the join path with BOTH tags.
    t = spark.createDataFrame(
        [
            ("a", "name", "alice"),
            ("a", "tag", "x"),
            ("a", "tag", "y"),
            ("b", "name", "bob"),
            ("b", "tag", "z"),
        ],
        "s string, p string, o string",
    )
    cat = StoreCatalog().add_property_table(t)
    assert "name" in cat.pt_preds and "tag" not in cat.pt_preds
    out = SparqlEngine(t, collect_stats=False, catalog=cat).query(
        "SELECT ?s ?n ?t WHERE { ?s name ?n ; tag ?t }"
    )
    assert _rows(out) == [("a", "alice", "x"), ("a", "alice", "y"), ("b", "bob", "z")]


# ---------------- ExtVP route ----------------


def test_extvp_catalog_keeps_only_reducing_pairs(extvp_catalog):
    # The nation-star reduction is strong (25 nation names of ~180 total);
    # e.g. SS(ex:region, foaf:name) keeps everything (every region-bearing
    # subject has a name) and must NOT be materialized.
    assert ("ss", "foaf:name", "ex:region") in extvp_catalog._extvp
    _, ratio = extvp_catalog._extvp[("ss", "foaf:name", "ex:region")]
    assert 0 < ratio < 0.2
    assert ("ss", "ex:region", "foaf:name") not in extvp_catalog._extvp


def test_extvp_star_equivalent(spark, triples, extvp_catalog):
    routed = SparqlEngine(triples, collect_stats=False, catalog=extvp_catalog).query(
        NATION_STAR
    )
    base = SparqlEngine(triples, collect_stats=False).query(NATION_STAR)
    assert _rows(routed) == _rows(base)
    assert len(_rows(routed)) == 25  # one row per nation


def test_extvp_customer_star_equivalent(spark, triples, extvp_catalog):
    routed = SparqlEngine(triples, collect_stats=False, catalog=extvp_catalog).query(
        CUSTOMER_STAR
    )
    base = SparqlEngine(triples, collect_stats=False).query(CUSTOMER_STAR)
    assert _rows(routed) == _rows(base)


def test_pattern_source_picks_smallest_ratio(extvp_catalog):
    tp = TriplePattern("?n", "foaf:name", "?name")
    src = extvp_catalog.pattern_source(tp, {"ex:region", "ex:acctbal"}, set())
    assert src is not None
    # SS(foaf:name, ex:region) (~0.14) beats SS(foaf:name, ex:acctbal)
    # (~0.83): the returned frame is the region one — 30 rows (25 nations
    # + 5 regions would be wrong; region predicate only nations -> 25).
    assert src.count() == 25
    # variable predicate -> no reduction applies
    assert extvp_catalog.pattern_source(TriplePattern("?s", "?p", "?o"), {"ex:region"}, set()) is None


def test_extvp_parquet_route_shows_in_plan(spark, triples, tmp_path):
    # The 100 TB shape: reductions materialized to parquet at load time,
    # planner scans them straight off files — visible in the plan's scan
    # location, proving the route is real and pushdown-able.
    from d_sparq_spark.operators.extvp import materialize_extvp

    store = str(tmp_path / "store")
    materialize_extvp(
        triples, store, predicates=["foaf:name", "ex:region", "ex:mktsegment"]
    )
    cat = StoreCatalog().load_extvp(spark, store)
    assert ("ss", "foaf:name", "ex:region") in cat._extvp
    routed = SparqlEngine(triples, collect_stats=False, catalog=cat).query(NATION_STAR)
    plan = _plan(routed)
    assert "extvp" in plan, f"reduction scan not in plan:\n{plan[:1500]}"
    base = SparqlEngine(triples, collect_stats=False).query(NATION_STAR)
    assert _rows(routed) == _rows(base)


def test_encoded_engine_pt_route_equivalent(spark):
    # Catalog over the ENCODED store: predicate keys are longs, PT columns
    # str(id); the routed encoded engine must decode to the same lexical
    # answers as the un-routed one — and actually take the PT route.
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.sources.derived_rdf import encoded_store_cached

    enc, d = encoded_store_cached(spark, SF)
    cat = StoreCatalog().add_property_table(enc)
    assert cat.pt_preds and all(isinstance(p, int) for p in cat.pt_preds)
    routed = EncodedSparqlEngine(enc, d, collect_stats=False, catalog=cat).query(
        CUSTOMER_STAR
    )
    base = EncodedSparqlEngine(enc, d, collect_stats=False).query(CUSTOMER_STAR)
    assert _rows(routed) == _rows(base)
    assert len(_rows(routed)) > 0
    # fewer joins in the routed plan: the star's 2 self-joins are gone,
    # only the 3 decode joins remain.
    assert _plan(routed).count("Join") < _plan(base).count("Join")


def test_catalog_refused_on_quad_store(spark, pt_catalog):
    # ADVICE r2: catalog routing is triple-level — a property table over a
    # quad store would pivot across ALL graphs and change binding
    # multiplicity for top-level (non-GRAPH) stars. The engines refuse the
    # combination outright rather than routing wrong.
    import pytest

    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.sources.derived_rdf import derive_quads

    quads = derive_quads(spark, SF)
    with pytest.raises(ValueError, match="quad store"):
        SparqlEngine(quads, collect_stats=False, catalog=pt_catalog)
    enc_quads = quads.selectExpr(
        "cast(1 as bigint) s", "cast(1 as bigint) p",
        "cast(1 as bigint) o", "cast(1 as bigint) g",
    )
    with pytest.raises(ValueError, match="quad store"):
        EncodedSparqlEngine(
            enc_quads, quads.selectExpr("cast(1 as bigint) id", "s as term"),
            collect_stats=False, catalog=pt_catalog,
        )
    # without a catalog the same GRAPH query runs fine
    out = SparqlEngine(quads, collect_stats=False).query(
        "SELECT ?g ?n ?name WHERE { GRAPH ?g { ?n foaf:name ?name ; "
        "ex:region ?r } }"
    )
    assert len(_rows(out)) == 25


# ---------------- bound-subject stars ----------------

BOUND_STAR = (
    "SELECT ?name ?bal ?seg WHERE { c:1 foaf:name ?name ; ex:acctbal ?bal ; "
    "ex:mktsegment ?seg }"
)


@pytest.mark.parametrize("subject, n", [("c:1", 1), ("c:999999", 0)])
def test_pt_bound_subject_star_equivalent(spark, triples, pt_catalog, subject, n):
    # A constant subject routes to ONE filtered PT row; only the object
    # variables are projected. Present and absent subjects both equal the
    # catalog-less join chain.
    q = BOUND_STAR.replace("c:1", subject)
    routed = SparqlEngine(triples, collect_stats=False, catalog=pt_catalog).query(q)
    plan = _plan(routed).split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in plan and "Join" not in plan, plan[:1500]
    base = SparqlEngine(triples, collect_stats=False).query(q)
    assert routed.columns == base.columns == ["name", "bal", "seg"]
    assert _rows(routed) == _rows(base)
    assert len(_rows(routed)) == n


def test_pt_bound_subject_all_constant_objects(spark, triples, pt_catalog):
    # No variable at all: the PT row either matches (one empty solution)
    # or not (none), exactly as the join chain of constant patterns.
    name, _, seg = _rows(SparqlEngine(triples, collect_stats=False).query(BOUND_STAR))[0]
    for objs, n in [((name, seg), 1), ((name, "NO-SUCH-SEGMENT"), 0)]:
        star = [
            TriplePattern("c:1", "foaf:name", objs[0]),
            TriplePattern("c:1", "ex:mktsegment", objs[1]),
        ]
        via_pt = pt_catalog.star_from_property_table(star, None)
        assert via_pt is not None and via_pt.columns == []
        assert via_pt.count() == star_join(triples, star).count() == n
        q = f'ASK {{ c:1 foaf:name "{objs[0]}" ; ex:mktsegment "{objs[1]}" }}'
        routed = SparqlEngine(triples, collect_stats=False, catalog=pt_catalog).query(q)
        base = SparqlEngine(triples, collect_stats=False).query(q)
        assert _rows(routed) == _rows(base)


def test_pt_bound_subject_rejects_repeated_object_var(triples, pt_catalog):
    star = [
        TriplePattern("c:1", "foaf:name", "?x"),
        TriplePattern("c:1", "ex:mktsegment", "?x"),
    ]
    assert pt_catalog.star_from_property_table(star, None) is None
    q = "SELECT ?x WHERE { c:1 foaf:name ?x ; ex:mktsegment ?x }"
    routed = SparqlEngine(triples, collect_stats=False, catalog=pt_catalog).query(q)
    assert _rows(routed) == _rows(SparqlEngine(triples, collect_stats=False).query(q)) == []
