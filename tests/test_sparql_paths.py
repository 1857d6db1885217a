"""Golden tests for property paths, CONSTRUCT, and subqueries (the §2.B
rows added after Phase 3: B14/B15/B16)."""

import pytest

from d_sparq_spark.engine import SparqlEngine
from d_sparq_spark.operators.paths import transitive_closure

CHAIN = [
    ("n:1", "ex:next", "n:2"),
    ("n:2", "ex:next", "n:3"),
    ("n:3", "ex:next", "n:4"),
    ("n:1", "ex:name", "one"),
    ("n:4", "ex:name", "four"),
    # a separate cycle: termination check
    ("c:a", "ex:loop", "c:b"),
    ("c:b", "ex:loop", "c:a"),
]


@pytest.fixture(scope="module")
def engine(spark):
    triples = spark.createDataFrame(CHAIN, "s string, p string, o string")
    return SparqlEngine(triples)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_path_plus(engine):
    out = engine.query("SELECT ?x ?y WHERE { ?x ex:next+ ?y }")
    assert rows(out) == sorted(
        [("n:1", "n:2"), ("n:1", "n:3"), ("n:1", "n:4"),
         ("n:2", "n:3"), ("n:2", "n:4"), ("n:3", "n:4")]
    )


def test_path_plus_bound_endpoint(engine):
    out = engine.query('SELECT ?y WHERE { n:2 ex:next+ ?y }')
    assert rows(out) == [("n:3",), ("n:4",)]


def test_path_plus_joined_with_bgp(engine):
    out = engine.query(
        "SELECT ?yn WHERE { ?x ex:name \"one\" . ?x ex:next+ ?y . ?y ex:name ?yn }"
    )
    assert rows(out) == [("four",)]


def test_path_star_includes_zero_length(engine):
    out = engine.query("SELECT ?y WHERE { n:3 ex:next* ?y }")
    assert rows(out) == [("n:3",), ("n:4",)]


def test_path_on_cycle_terminates(engine):
    out = engine.query("SELECT ?x ?y WHERE { ?x ex:loop+ ?y }")
    assert rows(out) == sorted(
        [("c:a", "c:b"), ("c:a", "c:a"), ("c:b", "c:a"), ("c:b", "c:b")]
    )


def test_sequence_path(engine):
    out = engine.query("SELECT ?z WHERE { n:1 ex:next/ex:next ?z }")
    assert rows(out) == [("n:3",)]


def test_construct(engine):
    out = engine.query(
        'CONSTRUCT { ?y ex:prev ?x } WHERE { ?x ex:next ?y }'
    )
    assert rows(out) == sorted(
        [("n:2", "ex:prev", "n:1"), ("n:3", "ex:prev", "n:2"), ("n:4", "ex:prev", "n:3")]
    )


def test_subquery(engine):
    out = engine.query(
        "SELECT ?x ?n WHERE { ?x ex:name ?n . "
        "{ SELECT DISTINCT ?x WHERE { ?x ex:next+ ?y } } }"
    )
    assert rows(out) == [("n:1", "one")]


def test_transitive_closure_operator_directly(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long"
    )
    out = transitive_closure(edges)
    assert out.count() == 20 * 21 // 2


QUADS = [
    ("g1", "p:a", "ex:name", "Alice"),
    ("g1", "p:b", "ex:name", "Bob"),
    ("g2", "p:a", "ex:name", "Alicia"),
    ("g2", "p:c", "ex:age", "9"),
]


def test_graph_constant(spark):
    from d_sparq_spark.engine import SparqlEngine

    quads = spark.createDataFrame(QUADS, "g string, s string, p string, o string")
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query('SELECT ?n WHERE { GRAPH "g2" { ?x ex:name ?n } }')
    assert rows(out) == [("Alicia",)]


def test_graph_variable(spark):
    from d_sparq_spark.engine import SparqlEngine

    quads = spark.createDataFrame(QUADS, "g string, s string, p string, o string")
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query("SELECT ?g ?n WHERE { GRAPH ?g { p:a ex:name ?n } }")
    assert rows(out) == [("g1", "Alice"), ("g2", "Alicia")]


def test_graph_requires_quads(spark):
    import pytest as _pytest

    from d_sparq_spark.engine import SparqlEngine

    triples = spark.createDataFrame(CHAIN, "s string, p string, o string")
    eng = SparqlEngine(triples, collect_stats=False)
    with _pytest.raises(ValueError, match="quad store"):
        eng.query('SELECT ?n WHERE { GRAPH "g1" { ?x ex:name ?n } }').collect()


# ---- seeded closure (round 2: bound-endpoint fixpoint) ----


def test_path_plus_object_bound(engine):
    out = engine.query("SELECT ?x WHERE { ?x ex:next+ n:3 }")
    assert rows(out) == [("n:1",), ("n:2",)]


def test_path_star_object_bound(engine):
    out = engine.query("SELECT ?x WHERE { ?x ex:next* n:2 }")
    assert rows(out) == [("n:1",), ("n:2",)]


def test_seeded_closure_on_cycle_terminates(engine):
    out = engine.query("SELECT ?y WHERE { c:a ex:loop+ ?y }")
    assert rows(out) == [("c:a",), ("c:b",)]


def test_seeded_closure_frontier_sized(spark):
    """The seeded fixpoint must materialize only seed-reachable pairs —
    on a 60-node chain seeded near the end, 5 pairs vs 1770 for the full
    closure (the VERDICT r1 'what's wrong #1' scale fix)."""
    from d_sparq_spark.operators.paths import seeded_closure

    edges = spark.createDataFrame(
        [(f"v{i}", f"v{i+1}") for i in range(59)], "src string, dst string"
    )
    seeds = spark.createDataFrame([("v55",)], "n string")
    out = seeded_closure(edges, seeds)
    assert rows(out) == [("v55", f"v{i}") for i in range(56, 60)]
    assert out.count() == 4
    assert transitive_closure(edges).count() == 59 * 60 // 2


def test_seeded_closure_empty_seeds(spark):
    from d_sparq_spark.operators.paths import seeded_closure

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([], "n string")
    assert seeded_closure(edges, seeds).count() == 0


# ---- GRAPH ?g as a binding column (round 2: single-plan, no per-graph union) ----


def test_graph_var_single_branch_plan(spark):
    from d_sparq_spark.engine import SparqlEngine

    quads = spark.createDataFrame(QUADS, "g string, s string, p string, o string")
    eng = SparqlEngine(quads, collect_stats=False)
    df = eng.query("SELECT ?g ?n WHERE { GRAPH ?g { ?x ex:name ?n } }")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan  # one branch, not |graphs| branches
    assert rows(df) == [("g1", "Alice"), ("g1", "Bob"), ("g2", "Alicia")]


def test_graph_var_star_same_graph_only(spark):
    """Patterns inside GRAPH ?g must co-match within ONE graph — g rides
    the star join keys, so cross-graph combinations are excluded."""
    from d_sparq_spark.engine import SparqlEngine

    quads = spark.createDataFrame(
        QUADS + [("g2", "p:c", "ex:name", "Cara")],
        "g string, s string, p string, o string",
    )
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query("SELECT ?g ?n ?a WHERE { GRAPH ?g { ?x ex:name ?n ; ex:age ?a } }")
    # p:c has name+age only in g2; p:a's g1 name must not pair with g2 age
    assert rows(out) == [("g2", "Cara", "9")]


def test_graph_var_exists_scoped_to_graph(spark):
    from d_sparq_spark.engine import SparqlEngine

    quads = spark.createDataFrame(
        QUADS + [("g2", "p:c", "ex:name", "Cara")],
        "g string, s string, p string, o string",
    )
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query(
        "SELECT ?g ?n WHERE { GRAPH ?g { ?x ex:name ?n "
        "FILTER EXISTS { ?x ex:age ?a } } }"
    )
    assert rows(out) == [("g2", "Cara")]


PATH_QUADS = [
    # g1: chain a->b->c; g2: a->z and b->q. Cross-graph composition
    # (a->b in g1 with b->q in g2) must NEVER happen.
    ("g1", "a", "ex:next", "b"),
    ("g1", "b", "ex:next", "c"),
    ("g2", "a", "ex:next", "z"),
    ("g2", "b", "ex:next", "q"),
]


@pytest.fixture(scope="module")
def path_quads(spark):
    return spark.createDataFrame(
        PATH_QUADS, "g string, s string, p string, o string"
    )


def test_graph_var_path_single_plan_route(path_quads):
    """Property paths under GRAPH ?g take the single-plan column route:
    the closure fixpoint carries g as a group column, so _graph_column_ok
    accepts the shape (no per-graph collect-and-union)."""
    from d_sparq_spark.plans import ast as A
    from d_sparq_spark.plans.parser import parse_sparql
    from d_sparq_spark.plans.translate import Translator

    tree = parse_sparql("SELECT ?g ?y WHERE { GRAPH ?g { a ex:next+ ?y } }")
    node = tree.root
    while not isinstance(node, A.Graph):
        node = node.child
    assert Translator._graph_column_ok(node.child, "g")


def test_graph_column_ok_wrapper_guards():
    """r4: subquery wrappers ride the single-plan route unless they would
    capture the graph variable's own name (or are keyless global aggs)."""
    from d_sparq_spark.plans import ast as A
    from d_sparq_spark.plans.parser import parse_sparql
    from d_sparq_spark.plans.translate import Translator

    def graph_child(q):
        node = parse_sparql(q).root
        while not isinstance(node, A.Graph):
            node = node.child
        return node.child

    ok = Translator._graph_column_ok
    grouped = graph_child(
        "SELECT ?g WHERE { GRAPH ?g { { SELECT ?x (COUNT(?s) AS ?c) "
        "WHERE { ?x ex:score ?s } GROUP BY ?x } } }"
    )
    assert ok(grouped, "g")
    # r9: an inner PATTERN TERM named ?g in an inner-join position rides
    # the single plan — the scan's repeated-var equality (term == quad
    # column) IS the spec's graph join, applied eagerly, which commutes
    # with inner joins (golden: test_graph_term_var_optional_right_spec)
    shadow = graph_child(
        "SELECT ?g WHERE { GRAPH ?g { { SELECT ?g WHERE { ?g ex:score ?s } } } }"
    )
    assert ok(shadow, "g")
    assert ok(shadow, "other")
    # ...but the SAME binding on the right of an OPTIONAL must not be
    # eagerly equated (outer-join filter pushdown): per-graph fallback
    opt_right = graph_child(
        "SELECT ?g WHERE { GRAPH ?g { ?x ex:a ?y OPTIONAL { ?x ex:b ?g } } }"
    )
    assert not ok(opt_right, "g")
    assert ok(opt_right, "other")
    # nested-GRAPH binding of ?g inside the OPTIONAL right: same rule
    opt_nested = graph_child(
        "SELECT ?g WHERE { GRAPH ?g { ?x ex:a ?y "
        "OPTIONAL { GRAPH ?h { ?x ex:c ?g } } } }"
    )
    assert not ok(opt_nested, "g")
    # keyless global aggregate: r4 single-plan (distinct-graph left join
    # fills the empty-graph COUNT()=0 row)
    keyless = graph_child(
        "SELECT ?g WHERE { GRAPH ?g { { SELECT (COUNT(?s) AS ?c) "
        "WHERE { ?x ex:score ?s } } } }"
    )
    assert ok(keyless, "g")
    # BIND capturing the graph name -> fallback
    bind = graph_child(
        "SELECT ?x WHERE { GRAPH ?g { ?x ex:score ?s BIND(STR(?s) AS ?g) } }"
    )
    assert not ok(bind, "g")


def test_graph_var_path_seeded(path_quads):
    eng = SparqlEngine(path_quads, collect_stats=False)
    out = eng.query("SELECT ?g ?y WHERE { GRAPH ?g { a ex:next+ ?y } }")
    # seeded per graph from the constant: c only via g1's chain; q is NOT
    # reachable from a in g2 (a->b lives in g1)
    assert rows(out) == [("g1", "b"), ("g1", "c"), ("g2", "z")]


def test_graph_var_path_unbound_closure(path_quads):
    eng = SparqlEngine(path_quads, collect_stats=False)
    out = eng.query("SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x ex:next+ ?y } }")
    assert rows(out) == [
        ("g1", "a", "b"), ("g1", "a", "c"), ("g1", "b", "c"),
        ("g2", "a", "z"), ("g2", "b", "q"),
    ]


def test_graph_var_path_star_zero_length_per_graph(path_quads):
    eng = SparqlEngine(path_quads, collect_stats=False)
    out = eng.query("SELECT ?g ?y WHERE { GRAPH ?g { b ex:next* ?y } }")
    # zero-length (b,b) appears in every graph where b occurs in the
    # predicate's domain/range — here both
    assert rows(out) == [("g1", "b"), ("g1", "c"), ("g2", "b"), ("g2", "q")]


def test_graph_var_path_var_seeded_from_same_graph_star(spark):
    """A closure whose source var is bound by a same-graph star seeds the
    fixpoint with (g, x) PAIRS — reachability stays inside each seed's
    own graph."""
    quads = spark.createDataFrame(
        PATH_QUADS
        + [("g1", "a", "ex:tag", "t"), ("g2", "b", "ex:tag", "t")],
        "g string, s string, p string, o string",
    )
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query(
        'SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x ex:tag "t" . ?x ex:next+ ?y } }'
    )
    # a tagged in g1 -> g1 chain only; b tagged in g2 -> b->q only (b->c
    # is g1's edge and must not leak into g2's seed)
    assert rows(out) == [
        ("g1", "a", "b"), ("g1", "a", "c"), ("g2", "b", "q"),
    ]


def test_negated_propset_inverse_members(spark):
    """SPARQL 1.1 §18.2.2.6: ^-members of a negated set exclude REVERSE
    edges; mixed sets are the bag union of both components."""
    triples = spark.createDataFrame(
        [("a", "ex:p", "b"), ("b", "ex:q", "a"), ("b", "ex:r", "c")],
        "s string, p string, o string",
    )
    eng = SparqlEngine(triples, collect_stats=False)
    # !(^ex:q): ONLY reverse edges whose predicate isn't ex:q.
    # reverse edges at (a, ?): a<-p-? none... enumerate (x,y) with edge y->x:
    # (b,a) via p [p != q: match], (a,b) via q [excluded], (c,b) via r [match]
    out = eng.query("SELECT ?x ?y WHERE { ?x !(^ex:q) ?y }")
    assert rows(out) == [("b", "a"), ("c", "b")]
    # mixed !(ex:p|^ex:q) = bag union of:
    #   forward not-p: (b,'q',a) -> (b,a); (b,'r',c) -> (b,c)
    #   reverse not-q: edge (a,'p',b) -> (b,a); edge (b,'r',c) -> (c,b)
    out = eng.query("SELECT ?x ?y WHERE { ?x !(ex:p|^ex:q) ?y }")
    assert rows(out) == [("b", "a"), ("b", "a"), ("b", "c"), ("c", "b")]


def test_graph_var_named_like_store_column(spark):
    """Self-review r3: a graph variable named ?p (or ?src/?dst) must not
    collide with the store's predicate column or the closure frames'
    internal columns — the binding rides an internal column and only the
    output projection uses the variable's name."""
    quads = spark.createDataFrame(
        [("g1", "a", "ex:p", "b"), ("g2", "a", "ex:q", "c")],
        "g string, s string, p string, o string",
    )
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query("SELECT ?p ?o WHERE { GRAPH ?p { a !(ex:q) ?o } }")
    assert rows(out) == [("g1", "b")]  # the ex:q edge must stay excluded
    out = eng.query("SELECT ?src ?y WHERE { GRAPH ?src { a ex:p+ ?y } }")
    assert rows(out) == [("g1", "b")]
    out = eng.query("SELECT ?dst ?y WHERE { GRAPH ?dst { a ex:q? ?y } }")
    # zero-length pairs are restricted to ex:q's domain/range PER GRAPH —
    # g1 has no ex:q edge, so no (g1, a) zero-length binding
    assert rows(out) == [("g2", "a"), ("g2", "c")]


def test_encoded_negated_propset_absent_members(spark):
    """Self-review r3: dictionary-absent members of a NEGATED set must not
    be dropped by the encoded rewrite — dropping flips or deletes whole
    union components (forward vs inverse). Absent members map to an
    impossible ID instead."""
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

    triples = spark.createDataFrame(
        [("a", "ex:p", "b"), ("b", "ex:q", "a"), ("b", "ex:r", "c")],
        "s string, p string, o string",
    )
    d = build_dictionary(triples).cache()
    enc = encode_triples(triples, d).cache()
    lex = SparqlEngine(triples, collect_stats=False)
    enc_e = EncodedSparqlEngine(enc, d, collect_stats=False)
    for q in [
        # ex:nope is in no dictionary: the set's components must survive
        "SELECT ?x ?y WHERE { ?x !(^ex:nope) ?y }",
        "SELECT ?x ?y WHERE { ?x !(ex:nope|^ex:q) ?y }",
        "SELECT ?x ?y WHERE { ?x !(ex:nope) ?y }",
    ]:
        assert rows(enc_e.query(q)) == rows(lex.query(q)), q


def test_negated_propset_rejects_literal_members(spark):
    triples = spark.createDataFrame(
        [("a", "ex:p", "b")], "s string, p string, o string"
    )
    eng = SparqlEngine(triples, collect_stats=False)
    import pytest as _pytest

    with _pytest.raises(SyntaxError, match="must be IRIs"):
        eng.query('SELECT ?x WHERE { ?x !("lit") ?y }')
    with _pytest.raises(SyntaxError, match="must be IRIs"):
        eng.query("SELECT ?x WHERE { ?x !(ex:p|?v) ?y }")


def test_distinct_order_by_unprojected_is_clear_error(spark):
    triples = spark.createDataFrame(
        [("a", "ex:p", "b")], "s string, p string, o string"
    )
    eng = SparqlEngine(triples, collect_stats=False)
    import pytest as _pytest

    with _pytest.raises(SyntaxError, match="projected"):
        eng.query("SELECT DISTINCT ?x WHERE { ?x ex:p ?y } ORDER BY ?y")
    # projected sort keys stay fine
    out = eng.query("SELECT DISTINCT ?x WHERE { ?x ex:p ?y } ORDER BY ?x")
    assert rows(out) == [("a",)]


def test_graph_var_propset_and_alt(spark):
    quads = spark.createDataFrame(
        [("g1", "a", "p:1", "x"), ("g2", "a", "p:2", "y"),
         ("g1", "a", "p:3", "z")],
        "g string, s string, p string, o string",
    )
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query("SELECT ?g ?o WHERE { GRAPH ?g { a !(p:3) ?o } }")
    assert rows(out) == [("g1", "x"), ("g2", "y")]
    out = eng.query("SELECT ?g ?o WHERE { GRAPH ?g { a (p:1|p:2) ?o } }")
    assert rows(out) == [("g1", "x"), ("g2", "y")]


def test_graph_var_path_opt_per_graph(path_quads):
    eng = SparqlEngine(path_quads, collect_stats=False)
    out = eng.query("SELECT ?g ?y WHERE { GRAPH ?g { a ex:next? ?y } }")
    assert rows(out) == [("g1", "a"), ("g1", "b"), ("g2", "a"), ("g2", "z")]


def test_seeded_closure_deferred_walk_on_big_graph(spark):
    """r4: edge sets above the stride-build threshold (50k) take the
    deferred broadcast-frontier walk. Equality vs the filtered doubling
    closure on a >50k-edge graph with chains deep enough to need many
    rounds, plus a cycle (termination) and a fan-in (distinct)."""
    from pyspark.sql import functions as F

    from d_sparq_spark.operators.paths import seeded_closure, transitive_closure

    # 6000 chains of length 10 (60k edges) + one 3-cycle + one fan-in
    ids = spark.range(6000 * 10).select(
        F.col("id"), F.expr("id % 10").alias("p")
    )
    chain = ids.filter("p < 9").select(
        F.concat(F.lit("n"), F.col("id")).alias("src"),
        F.concat(F.lit("n"), F.col("id") + 1).alias("dst"),
    )
    extra = spark.createDataFrame(
        [("cyc0", "cyc1"), ("cyc1", "cyc2"), ("cyc2", "cyc0"),
         ("n5", "n17"), ("n12", "n17")],
        "src string, dst string",
    )
    e = chain.unionByName(extra)
    s = spark.createDataFrame([("n0",), ("n100",), ("cyc0",)], "n string")
    got = sorted(map(tuple, seeded_closure(e, s).collect()))
    full = transitive_closure(e)
    want = sorted(
        map(tuple, full.join(s, full["src"] == s["n"], "left_semi").collect())
    )
    assert got == want


def test_seeded_closure_grow_cap_switches_to_stride(spark):
    """r4: when the frontier outgrows the broadcast cap mid-walk, the walk
    hands off to the prebuilt strided relation — result must still equal
    the filtered full closure. Hub shape: one seed fans out to most of a
    >50k-edge graph in two hops, blowing past base_n/4 immediately."""
    from pyspark.sql import functions as F

    from d_sparq_spark.operators.paths import seeded_closure, transitive_closure

    # hub -> m1..m40; each mi -> 55k/40 leaves; leaves chain one more hop
    mids = spark.range(40).select(
        F.lit("hub").alias("src"), F.concat(F.lit("m"), F.col("id")).alias("dst")
    )
    leaves = spark.range(56000).select(
        F.concat(F.lit("m"), F.col("id") % 40).alias("src"),
        F.concat(F.lit("l"), F.col("id")).alias("dst"),
    )
    tails = spark.range(56000).select(
        F.concat(F.lit("l"), F.col("id")).alias("src"),
        F.concat(F.lit("t"), F.col("id")).alias("dst"),
    )
    e = mids.unionByName(leaves).unionByName(tails)
    s = spark.createDataFrame([("hub",)], "n string")
    got = seeded_closure(e, s)
    assert got.count() == 40 + 56000 + 56000
    full = transitive_closure(e)
    want = full.join(s, full["src"] == s["n"], "left_semi")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_hub_graph_growth_cap_engages_and_stays_correct(spark, monkeypatch):
    """r5 (VERDICT r4 #4): on the hub graph the FIRST stride composition
    exceeds 8x|E| (every in-spoke x out-spoke pair materializes at
    distance 2) — the guard must discard it and the walk must still
    return the exact seeded closure. The gated driver BFS would
    otherwise absorb a graph this small, so the distributed walk (whose
    guard this test pins) is forced by zeroing the gate scale."""
    from pyspark.sql import functions as F

    from d_sparq_spark.operators import paths
    from d_sparq_spark.operators.paths import seeded_closure
    from d_sparq_spark.sources.synth_graph import BLOCKH, S_MAX, synth_hub_edges_int

    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    engaged = []
    real = paths._stride_hops

    def spy(*a, **kw):
        hop, cap_engaged = real(*a, **kw)
        engaged.append(cap_engaged)
        return hop, cap_engaged

    monkeypatch.setattr(paths, "_stride_hops", spy)
    e = synth_hub_edges_int(spark, 16).select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )
    # seeds: first in-spoke of every hub
    s = spark.range(16).select((F.col("id") * BLOCKH + 1).cast("string").alias("n"))
    got = seeded_closure(e, s)
    full = transitive_closure(e)
    want = full.join(s, full["src"] == s["n"], "left_semi")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.count() > 0
    assert engaged == [True]
    # degree mix is genuinely skewed: hash law realizes more than one S_j
    degs = {r["s"] for r in
            spark.range(16).selectExpr(
                "greatest(1, shiftright(64, cast(((id * 2654435761 + 40503) % 2147483648) % 5 as int))) as s"
            ).collect()}
    assert len(degs) >= 3 and max(degs) == S_MAX


def _closure(paths, e, **kw):
    return sorted(map(tuple, paths.transitive_closure(e, **kw).collect()), key=str)


def _dist_closure(paths, e, monkeypatch, **kw):
    """The distributed loop's answer: every driver gate scaled to zero."""
    with monkeypatch.context() as m:
        m.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
        return _closure(paths, e, **kw)


def _kernel_spy(paths, monkeypatch):
    """Record, per transitive_closure call, whether the driver kernel ran
    and produced the answer (True) or blew a budget (False)."""
    calls = []
    real = paths._vector_closure

    def spy(*a, **kw):
        out = real(*a, **kw)
        calls.append(out is not None)
        return out

    monkeypatch.setattr(paths, "_vector_closure", spy)
    return calls


def test_driver_closure_fast_path_matches_distributed(spark, monkeypatch):
    """A base within the kernel gate closes on the driver (zero per-round
    Spark jobs) with the same answer as the distributed loop, on a random
    cyclic graph, with and without a group column, string and integer
    ids."""
    import random

    from d_sparq_spark.operators import paths

    random.seed(81)
    rows = list(
        {
            (random.randrange(3), random.randrange(25), random.randrange(25))
            for _ in range(140)
        }
    )
    grouped_long = spark.createDataFrame(rows, "g long, src long, dst long")
    grouped_string = spark.createDataFrame(
        [(f"g{g}", f"v{s}", f"v{d}") for g, s, d in rows],
        "g string, src string, dst string",
    )
    ungrouped_string = grouped_string.select("src", "dst").distinct()
    calls = _kernel_spy(paths, monkeypatch)
    for e, kw in (
        (grouped_string, {"group_col": "g"}),
        (ungrouped_string, {}),
        (grouped_long, {"group_col": "g"}),
    ):
        calls.clear()
        fast = _closure(paths, e, **kw)
        assert calls == [True]
        assert fast == _dist_closure(paths, e, monkeypatch, **kw)
        assert len(fast) > e.count()


def test_driver_closure_escape_hatches(spark, monkeypatch):
    """The driver kernel must abandon itself to the distributed loop —
    same answer — when (a) the output outgrows the pair budget (tiny edge
    set, quadratic closure) or (b) the traversal outspends the work
    budget."""
    from d_sparq_spark.operators import paths

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    calls = _kernel_spy(paths, monkeypatch)
    want = _closure(paths, e)
    assert calls == [True] and len(want) == 40 * 41 // 2
    for budget in ("_VEC_CLOSURE_MAX_PAIRS", "_VEC_CLOSURE_MAX_WORK"):
        calls.clear()
        with monkeypatch.context() as m:
            m.setattr(paths, budget, 10)
            assert _closure(paths, e) == want
        assert calls == [False], budget


def test_vector_closure_matches_distributed(spark, monkeypatch):
    """The driver kernel (numpy semi-naive doubling) must produce the
    exact pair set of the distributed loop on ungrouped integer edges — a
    random cyclic graph (cycles, multiple shortest paths) and a long
    chain (many doubling rounds) — and decline to the distributed loop,
    same answer, when either budget blows."""
    import random

    from d_sparq_spark.operators import paths

    random.seed(47)
    rows = list({(random.randrange(60), random.randrange(60))
                 for _ in range(400)})
    e = spark.createDataFrame(rows, "src long, dst long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(70)], "src int, dst int"
    )
    calls = _kernel_spy(paths, monkeypatch)
    vec = _closure(paths, e)
    vec_chain = _closure(paths, chain)
    assert calls == [True, True]
    assert vec == _dist_closure(paths, e, monkeypatch)
    assert vec_chain == _dist_closure(paths, chain, monkeypatch)
    assert len(vec_chain) == 70 * 71 // 2
    assert paths.transitive_closure(chain).dtypes == chain.dtypes
    calls.clear()
    with monkeypatch.context() as m:
        m.setattr(paths, "_VEC_CLOSURE_MAX_PAIRS", 10)
        assert _closure(paths, e) == vec
    with monkeypatch.context() as m:
        m.setattr(paths, "_VEC_CLOSURE_MAX_WORK", 3)
        assert _closure(paths, e) == vec
    assert calls == [False, False]


@pytest.mark.parametrize(
    "schema,group_col,rows",
    [
        (
            "g string, src string, dst string",
            "g",
            [(None, "a", "b"), (None, "b", "c"), ("g1", "a", "b"),
             ("g1", "b", "c"), ("g1", None, "a"), ("g2", "c", "a")],
        ),
        (
            "src long, dst long",
            None,
            [(1, 2), (2, None), (None, 3), (3, 4)],
        ),
    ],
    ids=["grouped_string", "ungrouped_long"],
)
def test_closure_nulls_do_not_change_the_answer(spark, monkeypatch, schema, group_col, rows):
    """A NULL group or endpoint must give the same closure on every route.
    The distributed loop's equi-joins never match NULL, so nothing
    composes through a NULL node or inside the NULL group; the driver
    kernel declines on any NULL instead of composing through one (or,
    for integer ids, emitting NULL as -2**63)."""
    from d_sparq_spark.operators import paths

    e = spark.createDataFrame(rows, schema)
    kw = {"group_col": group_col} if group_col else {}
    got = _closure(paths, e, **kw)
    assert got == _dist_closure(paths, e, monkeypatch, **kw)
    assert all(v != -(2**63) for row in got for v in row)
    if group_col:
        assert (None, "a", "c") not in got and ("g1", "a", "c") in got


def test_closure_kernel_arrow_invalid_declines(spark, monkeypatch):
    """An ArrowInvalid inside the driver kernel (string offsets past 2 GB
    in combine_chunks / dictionary_encode / take) is a decline, not a
    query failure: the distributed loop answers."""
    import pyarrow as pa

    from d_sparq_spark.operators import paths

    rows = [(f"g{i % 2}", f"n{i}", f"n{i + 1}") for i in range(30)]
    e = spark.createDataFrame(rows, "g string, src string, dst string")
    want = _dist_closure(paths, e, monkeypatch, group_col="g")

    def overflow(*a, **kw):
        raise pa.ArrowInvalid("offset overflow while concatenating arrays")

    monkeypatch.setattr(paths, "_vector_closure", overflow)
    assert _closure(paths, e, group_col="g") == want


def test_small_string_closure_skips_hash_encoding(spark, monkeypatch):
    """Below _ENCODE_MIN_EDGES the string path must NOT pay the encode
    prep (terms distinct + injectivity aggregate + decode joins): with the
    driver gate scaled to zero, the distributed plan for a small string
    graph must contain no xxhash64 — and the answer must match the
    encoded loop's (encode gate forced on)."""
    from d_sparq_spark.operators import paths

    rows = [(f"n{i}", f"n{i+1}") for i in range(30)]
    e = spark.createDataFrame(rows, "src string, dst string")
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    lex = paths.transitive_closure(e)
    assert "xxhash64" not in lex._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(paths, "_ENCODE_MIN_EDGES", 1)
    enc = paths.transitive_closure(e)
    assert "xxhash64" in enc._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, lex.collect())) == sorted(map(tuple, enc.collect()))


def test_closed_form_closure_oracles_match_recursive(spark):
    """r9 (VERDICT r8 #8): the NON-RECURSIVE closed-form oracles the sf0.1
    lap uses for the synthetic closures (block-local reachability: C(ln,2)
    per chain block, s^2+2s per hub slot, seed suffix/star pair sets) must
    equal the recursive-CTE oracles exactly at the scales DuckDB can run
    both — that equivalence is what lets a closed-form pass at sf0.1 carry
    the primary oracle's weight."""
    from d_sparq_spark.sources.synth_graph import (
        synth_closure_closed_sql,
        synth_closure_oracle_sql,
        synth_hub_closure_closed_sql,
        synth_hub_closure_oracle_sql,
    )
    from tests.oracle import canon, run_oracle

    cases = [
        (synth_closure_oracle_sql(False), synth_closure_closed_sql(False)),
        (synth_closure_oracle_sql(True), synth_closure_closed_sql(True)),
        (synth_hub_closure_oracle_sql(False), synth_hub_closure_closed_sql(False)),
        (synth_hub_closure_oracle_sql(True), synth_hub_closure_closed_sql(True)),
    ]
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for rec, closed in cases:
            a, b = canon(run_oracle(rec, sf)), canon(run_oracle(closed, sf))
            assert len(a) > 0
            assert a.equals(b), (sf, rec[:120])


def test_string_vec_closure_matches_encode_and_lexical(spark, monkeypatch):
    """The driver kernel on string ids (collect, dictionary_encode, numpy
    doubling, dictionary decode) must produce the exact pair set of BOTH
    distributed string routes — hash-encoded and lexical — and must fall
    through to the encode route, same answer, when a budget blows."""
    import random

    from d_sparq_spark.operators import paths

    random.seed(23)
    rows = list({(f"n{random.randrange(120):03d}", f"n{random.randrange(120):03d}")
                 for _ in range(300)})
    e = spark.createDataFrame(rows, "src string, dst string")
    vec = _closure(paths, e)
    lex = _dist_closure(paths, e, monkeypatch)
    # force the encode route for the small graph
    monkeypatch.setattr(paths, "_ENCODE_MIN_EDGES", 1)
    enc = _dist_closure(paths, e, monkeypatch)
    assert vec == enc == lex and len(vec) > len(rows)
    # budget escape hatch: a blown pair budget falls through to the
    # encode route with the identical answer
    monkeypatch.setattr(paths, "_VEC_CLOSURE_MAX_PAIRS", 10)
    out = paths.transitive_closure(e)
    assert "xxhash64" in out._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, out.collect()), key=str) == vec


def test_seeded_vector_driver_matches_distributed(spark, monkeypatch):
    """The gated driver multi-source BFS (paths._vector_seeded) and the
    distributed seeded walk must produce the identical pair set — string
    and long ids, cyclic graph, seeds absent from the graph — and a blown
    pair budget must fall through to the distributed walk."""
    import random

    from d_sparq_spark.operators import paths

    random.seed(71)
    ids = list({(random.randrange(90), random.randrange(90)) for _ in range(260)})
    seeds = sorted({u for u, _ in ids[:6]})
    for fmt, typ in ((lambda i: f"n{i:02d}", "string"), (lambda i: i, "long")):
        e = spark.createDataFrame(
            [(fmt(u), fmt(v)) for u, v in ids], f"src {typ}, dst {typ}"
        )
        absent = fmt(10**6)
        s = spark.createDataFrame([(fmt(x),) for x in seeds] + [(absent,)], f"n {typ}")

        def run():
            return sorted(map(tuple, paths.seeded_closure(e, s).collect()))

        fast = run()
        with monkeypatch.context() as m:
            m.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
            assert run() == fast
        with monkeypatch.context() as m:
            m.setattr(paths, "_VEC_CLOSURE_MAX_PAIRS", 5)
            assert run() == fast
        assert len(fast) > 0
