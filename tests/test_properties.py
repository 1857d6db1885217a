"""Property-based tests (SURVEY.md §5.3, hypothesis):

- dictionary encode -> decode is the identity for arbitrary term sets,
- N-Triples format -> parse is the identity for arbitrary term content,
- BGP results are invariant under pattern permutation (the optimizer may
  reorder patterns freely — A7 — without changing semantics).

One shared SparkSession; hypothesis drives the data, Spark the engine.
Deadlines disabled: Spark job latency is not the property under test.
"""

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Property sweep: slow-marked for the fast default profile (VERDICT r11
# #1); D_SPARQ_FULL_TESTS=1 or `-m slow` runs it.
pytestmark = pytest.mark.slow

from d_sparq_spark.operators.dictionary import build_dictionary, decode_triples, encode_triples
from d_sparq_spark.operators.rdf_patterns import TriplePattern, star_join
from d_sparq_spark.sources.ntriples import format_ntriples, parse_ntriples

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable, no control chars; literals may contain quotes/backslashes
_term_chars = string.ascii_letters + string.digits + " .:#/\\\"'-_"
terms = st.text(_term_chars, min_size=1, max_size=24).map(str.strip).filter(bool)
iri_terms = st.from_regex(r"[a-z]{1,5}:[A-Za-z0-9_]{1,10}", fullmatch=True)
triple_lists = st.lists(
    st.tuples(iri_terms, iri_terms, st.one_of(terms, iri_terms)),
    min_size=1,
    max_size=30,
)


@SETTINGS
@given(data=triple_lists)
def test_dict_roundtrip_identity(spark, data):
    triples = spark.createDataFrame(data, "s string, p string, o string").distinct()
    d = build_dictionary(triples)
    back = decode_triples(encode_triples(triples, d), d)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, triples.collect()))


@SETTINGS
@given(data=triple_lists)
def test_ntriples_roundtrip_identity(spark, data):
    triples = spark.createDataFrame(data, "s string, p string, o string")
    back = parse_ntriples(format_ntriples(triples))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, triples.collect()))


@SETTINGS
@given(perm=st.permutations([0, 1, 2]))
def test_bgp_pattern_order_invariance(spark, perm):
    rows = [
        ("a", "p1", "x"), ("a", "p2", "y"), ("a", "p3", "z"),
        ("b", "p1", "x"), ("b", "p2", "y2"), ("b", "p3", "z"),
        ("c", "p1", "x2"), ("c", "p2", "y"), ("c", "p3", "z"),
    ]
    triples = spark.createDataFrame(rows, "s string, p string, o string")
    patterns = [
        TriplePattern("?s", "p1", "?a"),
        TriplePattern("?s", "p2", "?b"),
        TriplePattern("?s", "p3", "z"),
    ]
    permuted = [patterns[i] for i in perm]
    base = star_join(triples, patterns)
    out = star_join(triples, permuted)
    key = lambda df: sorted(tuple(r[c] for c in sorted(df.columns)) for r in df.collect())
    assert key(out) == key(base)


@SETTINGS
@given(data=st.lists(st.tuples(iri_terms, iri_terms, iri_terms), min_size=1, max_size=12))
def test_update_insert_then_delete_is_identity(spark, data):
    """Graph-set semantics of UPDATE: INSERT DATA of arbitrary NEW ground
    triples followed by DELETE DATA of the same triples returns exactly
    the original store (anti-join both ways, no dedup side effects)."""
    from d_sparq_spark.engine import SparqlEngine

    base = [("b:s1", "b:p", "b:o1"), ("b:s2", "b:p", "b:o2")]
    store = spark.createDataFrame(base, "s string, p string, o string")
    eng = SparqlEngine(store, collect_stats=False)
    block = " . ".join(f"{s} {p} {o}" for s, p, o in data)
    inserted = eng.update(f"INSERT DATA {{ {block} }}")
    after = SparqlEngine(inserted, collect_stats=False).update(
        f"DELETE DATA {{ {block} }}"
    )
    want = sorted(set(base) - set(data))  # data may collide with base rows
    assert sorted(tuple(r) for r in after.collect()) == want


_nodes = st.integers(min_value=0, max_value=9)
_edge_lists = st.lists(st.tuples(_nodes, _nodes), min_size=1, max_size=25)


@SETTINGS
@given(edges=_edge_lists, seeds=st.lists(_nodes, min_size=1, max_size=3))
def test_seeded_closure_equals_filtered_full_closure(spark, edges, seeds):
    """seeded_closure (strided frontier, hub guard, probe-first) must
    equal the full doubling closure restricted to the seed sources — on
    arbitrary small graphs including cycles and self-loops."""
    from d_sparq_spark.operators.paths import seeded_closure, transitive_closure

    e = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string"
    )
    s = spark.createDataFrame([(f"n{x}",) for x in set(seeds)], "n string")
    got = sorted(map(tuple, seeded_closure(e, s).collect()))
    full = transitive_closure(e)
    want = sorted(
        map(tuple, full.join(s, full["src"] == s["n"], "left_semi").collect())
    )
    assert got == want


# ---- round-3 graph/windowed operators vs brute force -------------------------

_edge_lists = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda t: t[0] != t[1]),
    min_size=0,
    max_size=30,
)


@SETTINGS
@given(pairs=_edge_lists)
def test_triangles_match_bruteforce(spark, pairs):
    from itertools import combinations

    from d_sparq_spark.operators.graph import triangles_degree_ordered

    canon = sorted({(min(u, v), max(u, v)) for u, v in pairs})
    eset = set(canon)
    expected = {
        frozenset((a, b, c))
        for a, b, c in combinations(sorted({n for e in canon for n in e}), 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    }
    if not canon:
        return
    edges = spark.createDataFrame(canon, "u long, v long")
    got = {frozenset((r.a, r.b, r.c)) for r in triangles_degree_ordered(edges).collect()}
    assert got == expected


_part_rows = st.lists(
    st.tuples(st.sampled_from(["X", "Y"]), st.integers(1, 8), st.integers(1, 8)),
    min_size=1,
    max_size=25,
)


@SETTINGS
@given(rows=_part_rows)
def test_skyline_matches_bruteforce(spark, rows):
    """The windowed sweep must equal the quadratic dominance definition
    for arbitrary (brand, price, size) multisets — including ties on
    either axis, which is where sweep formulations usually break."""
    from d_sparq_spark.queries.relational_windows import pareto_sweep

    data = [(b, i, float(p), s) for i, (b, p, s) in enumerate(rows)]
    expected = {
        (b, i)
        for b, i, p, s in data
        if not any(
            b2 == b and p2 <= p and s2 >= s and (p2 < p or s2 > s)
            for b2, _, p2, s2 in data
        )
    }
    df = spark.createDataFrame(data, "brand string, id long, price double, size int")
    got = {(r.brand, r.id) for r in pareto_sweep(df, "brand", "price", "size").collect()}
    assert got == expected


# ---- r4 (VERDICT r3 #10): skew-operator equivalence under adversarial inputs

_skew_keys = st.sampled_from(["hot", "hot", "hot", "warm", "k1", "k2"])  # skewed alphabet
_skew_rows = st.lists(st.tuples(_skew_keys, st.integers(-100, 100)), min_size=0, max_size=40)


@SETTINGS
@given(rows=_skew_rows, buckets=st.sampled_from([1, 2, 7]))
def test_salted_count_equals_plain_groupby(spark, rows, buckets):
    """salted_count_by_key == groupBy().count() for any input, including
    the r3 degeneracy class: all-identical rows, inputs PROJECTED to the
    key column (no other entropy for the salt), and empty partitions."""
    from pyspark.sql import functions as F

    from d_sparq_spark.operators.skew import salted_count_by_key

    df = spark.createDataFrame(rows, "k string, v long").repartition(8)
    # key-projected shape: the salt sees byte-identical rows
    proj = df.select("k")
    got = sorted(
        map(tuple, salted_count_by_key(proj, ["k"], salt_buckets=buckets).collect())
    )
    want = sorted(
        map(tuple, proj.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect())
    )
    assert got == want


@SETTINGS
@given(rows=_skew_rows, buckets=st.sampled_from([1, 3]))
def test_salted_aggregate_equals_plain_sum(spark, rows, buckets):
    from pyspark.sql import functions as F

    from d_sparq_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(rows, "k string, v long").repartition(8)
    got = sorted(
        map(
            tuple,
            salted_aggregate(
                df,
                ["k"],
                aggs=lambda: [F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")],
                merges=lambda: [
                    F.sum("s").cast("long").alias("s"),
                    F.sum("n").cast("long").alias("n"),
                ],
                salt_buckets=buckets,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            df.groupBy("k")
            .agg(F.sum("v").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n"))
            .collect(),
        )
    )
    assert got == want


@SETTINGS
@given(
    rows=_skew_rows,
    small=st.lists(st.tuples(_skew_keys, st.integers(0, 9)), min_size=0, max_size=6),
)
def test_salted_broadcast_left_equals_plain_join(spark, rows, small):
    """Row multiplicity must be EXACTLY the plain inner join's — duplicate
    keys on the small side multiply rows identically, missing keys drop
    them identically, and an all-identical big side (no salt entropy
    beyond the row id) changes nothing."""
    from d_sparq_spark.operators.skew import salted_broadcast_left

    big = spark.createDataFrame(rows, "k string, v long").repartition(8)
    sm = spark.createDataFrame(small, "k string, tag long")
    got = sorted(map(tuple, salted_broadcast_left(big, sm, "k", salt_buckets=4).collect()))
    want = sorted(map(tuple, big.join(sm, "k").collect()))
    assert got == want


def test_pareto_sweep_null_and_extreme_values(spark):
    """Review r4: NULL group/price/size rows are INCOMPARABLE under the
    NOT EXISTS dominance definition — always in the skyline, never
    dominating; and a size of INT_MIN must not collide with the old
    no-cheaper-price sentinel."""
    from d_sparq_spark.queries.relational_windows import pareto_sweep

    df = spark.createDataFrame(
        [
            ("X", 0, None, 8.0),      # NULL price: kept, must NOT dominate id=1
            ("X", 1, 1.0, 5.0),       # only comparable row in X: kept
            ("Y", 2, 1.0, float(-(2 ** 31))),  # INT_MIN-ish size, sole row: kept
            ("Y", 3, 2.0, None),      # NULL size: kept
            (None, 4, 1.0, 1.0),      # NULL group: kept (no same-group row)
            ("Z", 5, 1.0, 9.0),       # dominates id=6
            ("Z", 6, 2.0, 3.0),
        ],
        "g string, id long, price double, size double",
    )
    got = {r["id"] for r in pareto_sweep(df, "g", "price", "size").collect()}
    assert got == {0, 1, 2, 3, 4, 5}


# ---- r7 (VERDICT r6 #8): OPTIONAL/MINUS/FILTER spec semantics vs a ----------
# ---- brute-force in-Python SPARQL evaluator over random small graphs --------

def _bf_bgp(triples, patterns):
    """Multiset of solution mappings for a triple-pattern list — the
    textbook nested-loop definition (SPARQL 1.1 §18.3), no optimization."""
    sols = [{}]
    for pat in patterns:
        nxt = []
        for mu in sols:
            for t in triples:
                m, ok = dict(mu), True
                for term, val in zip(pat, t):
                    if term.startswith("?"):
                        k = term[1:]
                        if k in m and m[k] != val:
                            ok = False
                            break
                        m[k] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    nxt.append(m)
        sols = nxt
    return sols


def _bf_compat(a, b):
    return all(a[k] == b[k] for k in a.keys() & b.keys())


def _bf_leftjoin(A, B, cond=lambda m: True):
    """LeftJoin(A, B, F) = Filter(F, Join(A,B)) ∪ Diff(A, B, F)
    (§18.5): joined rows where compatible AND F holds; a bare mu1 exactly
    when NO mu2 both merges and passes F."""
    out = []
    for mu1 in A:
        ext = [
            {**mu1, **mu2}
            for mu2 in B
            if _bf_compat(mu1, mu2) and cond({**mu1, **mu2})
        ]
        out.extend(ext if ext else [mu1])
    return out


def _bf_minus(A, B):
    """Minus(A, B) (§18.5): keep mu1 unless some mu2 is compatible AND
    shares at least one bound variable (the domain-overlap rule)."""
    return [
        mu1
        for mu1 in A
        if all(
            not _bf_compat(mu1, mu2) or not (mu1.keys() & mu2.keys())
            for mu2 in B
        )
    ]


def _sols_of_df(df):
    return sorted(
        tuple(sorted((k, v) for k, v in r.asDict().items() if v is not None))
        for r in df.collect()
    )


def _sols_of_bf(sols, projected):
    return sorted(
        tuple(sorted((k, v) for k, v in mu.items() if k in projected))
        for mu in sols
    )


_small_triples = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.sampled_from(["p", "q"]),
        st.sampled_from(["x", "y", "a", "b"]),
    ),
    min_size=1,
    max_size=10,
)


def _both_engines(spark, data):
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.engine import SparqlEngine

    triples = spark.createDataFrame(
        sorted(set(data)), "s string, p string, o string"
    )
    d = build_dictionary(triples)
    return [
        SparqlEngine(triples, collect_stats=False),
        EncodedSparqlEngine(encode_triples(triples, d), d, collect_stats=False),
    ]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=_small_triples)
def test_optional_filter_condition_matches_bruteforce(spark, data):
    """§18.2.2.5: a FILTER inside OPTIONAL referencing an outer variable
    is the LeftJoin CONDITION (the r6 fix) — engine == brute force on
    random graphs, both engines."""
    data = sorted(set(data))
    A = _bf_bgp(data, [("?s", "p", "?o")])
    B = _bf_bgp(data, [("?s", "q", "?o2")])
    want = _sols_of_bf(
        _bf_leftjoin(A, B, lambda m: m["o2"] != m["o"]), {"s", "o", "o2"}
    )
    q = ("SELECT ?s ?o ?o2 WHERE { ?s <p> ?o "
         "OPTIONAL { ?s <q> ?o2 FILTER(?o2 != ?o) } }")
    for e in _both_engines(spark, data):
        assert _sols_of_df(e.query(q)) == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=_small_triples)
def test_minus_domain_rules_match_bruteforce(spark, data):
    """MINUS domain-overlap rule: a shared-variable right removes exactly
    the compatible solutions; a disjoint-domain right removes NOTHING."""
    data = sorted(set(data))
    A = _bf_bgp(data, [("?s", "p", "?o")])
    shared = _sols_of_bf(_bf_minus(A, _bf_bgp(data, [("?s", "q", "?z")])), {"s", "o"})
    disjoint = _sols_of_bf(_bf_minus(A, _bf_bgp(data, [("?a", "q", "?b")])), {"s", "o"})
    for e in _both_engines(spark, data):
        got_shared = _sols_of_df(
            e.query("SELECT ?s ?o WHERE { ?s <p> ?o MINUS { ?s <q> ?z } }")
        )
        got_disjoint = _sols_of_df(
            e.query("SELECT ?s ?o WHERE { ?s <p> ?o MINUS { ?a <q> ?b } }")
        )
        assert got_shared == shared
        assert got_disjoint == disjoint


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=_small_triples)
def test_optional_then_minus_matches_bruteforce(spark, data):
    """Composition: MINUS over a partially-OPTIONAL left — the right
    shares ?s (always bound) and ?c (maybe unbound), exercising the
    compatibility join + overlap rule on NULL-bearing columns."""
    data = sorted(set(data))
    A = _bf_leftjoin(
        _bf_bgp(data, [("?s", "p", "?o")]), _bf_bgp(data, [("?o", "q", "?c")])
    )
    want = _sols_of_bf(
        _bf_minus(A, _bf_bgp(data, [("?s", "q", "?c")])), {"s", "o", "c"}
    )
    q = ("SELECT ?s ?o ?c WHERE { ?s <p> ?o OPTIONAL { ?o <q> ?c } "
         "MINUS { ?s <q> ?c } }")
    for e in _both_engines(spark, data):
        assert _sols_of_df(e.query(q)) == want


def _bf_filter(sols, cond):
    """FILTER at group tail: an expression error (unbound var) is false."""
    return [mu for mu in sols if cond(mu)]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data(), triples=_small_triples)
def test_random_optional_minus_filter_query_matches_bruteforce(spark, data, triples):
    """Randomized OPTIONAL/MINUS/FILTER queries (random pattern shapes,
    shared/disjoint variables, constants, repeated variables) rendered to
    SPARQL text and compared against the brute-force algebra evaluator on
    random graphs — both engines. Generalizes the three fixed properties
    above to the whole fragment, and exercises the parser on every case."""
    triples = sorted(set(triples))
    draw = data.draw
    TERMS = ["?a", "?b", "?c", "?d", "x", "y", "a"]

    def pats(n_max=2):
        return [
            (draw(st.sampled_from(TERMS)),
             draw(st.sampled_from(["p", "q"])),
             draw(st.sampled_from(TERMS)))
            for _ in range(draw(st.integers(1, n_max)))
        ]

    def render_pat(p):
        f = lambda t: t if t.startswith("?") else f"<{t}>"
        return f"{f(p[0])} <{p[1]}> {f(p[2])} ."

    def filt_parts():
        v = draw(st.sampled_from(["?a", "?b", "?c", "?d"]))
        rhs = draw(st.sampled_from(["?a", "?b", "x", "y"]))
        op = draw(st.sampled_from(["=", "!="]))
        return v, op, rhs

    def filt_cond(v, op, rhs):
        def cond(mu):
            left = mu.get(v[1:])
            right = mu.get(rhs[1:]) if rhs.startswith("?") else rhs
            if left is None or right is None:
                return False  # unbound -> type error -> false
            return (left == right) if op == "=" else (left != right)
        return cond

    main = pats(2)
    opt = pats(2) if draw(st.booleans()) else None
    opt_f = filt_parts() if opt is not None and draw(st.booleans()) else None
    minus = pats(2) if draw(st.booleans()) else None
    tail_f = filt_parts() if draw(st.booleans()) else None

    # brute force
    sols = _bf_bgp(triples, main)
    if opt is not None:
        cond = filt_cond(*opt_f) if opt_f else (lambda mu: True)
        sols = _bf_leftjoin(sols, _bf_bgp(triples, opt), cond)
    if minus is not None:
        sols = _bf_minus(sols, _bf_bgp(triples, minus))
    if tail_f is not None:
        sols = _bf_filter(sols, filt_cond(*tail_f))

    # SPARQL text (project only vars the main/optional patterns can bind)
    proj_vars = sorted({
        t[1:] for p in main + (opt or []) for t in (p[0], p[2])
        if t.startswith("?")
    })
    body = " ".join(render_pat(p) for p in main)
    if opt is not None:
        inner = " ".join(render_pat(p) for p in opt)
        if opt_f:
            v, op, rhs = opt_f
            rr = rhs if rhs.startswith("?") else f"<{rhs}>"
            inner += f" FILTER({v} {op} {rr})"
        body += f" OPTIONAL {{ {inner} }}"
    if minus is not None:
        body += " MINUS { " + " ".join(render_pat(p) for p in minus) + " }"
    if tail_f is not None:
        v, op, rhs = tail_f
        rr = rhs if rhs.startswith("?") else f"<{rhs}>"
        body += f" FILTER({v} {op} {rr})"
    q = f"SELECT {' '.join('?' + v for v in proj_vars)} WHERE {{ {body} }}"

    want = _sols_of_bf(sols, set(proj_vars))
    for e in _both_engines(spark, triples):
        assert _sols_of_df(e.query(q)) == want, q


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data(), quads=st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.sampled_from(["p", "q"]),
        st.sampled_from(["x", "y", "a", "b"]),
        st.sampled_from(["g1", "g2"]),
    ),
    min_size=1, max_size=10,
))
def test_random_graph_var_fragment_matches_bruteforce(spark, data, quads):
    """GRAPH ?g { <random OPTIONAL/MINUS/FILTER fragment> } vs the spec
    semantics evaluated per graph and joined with {?g -> gi} — the
    brute-force check of the single-plan hidden-g route (star scans,
    LeftJoin compatibility, MINUS correlation, filters under GRAPH), on
    both engines over a quad store."""
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.engine import SparqlEngine

    quads = sorted(set(quads))
    draw = data.draw
    TERMS = ["?a", "?b", "?c", "x", "y", "a"]

    def pats(n_max=2):
        return [
            (draw(st.sampled_from(TERMS)),
             draw(st.sampled_from(["p", "q"])),
             draw(st.sampled_from(TERMS)))
            for _ in range(draw(st.integers(1, n_max)))
        ]

    def render_pat(p):
        f = lambda t: t if t.startswith("?") else f"<{t}>"
        return f"{f(p[0])} <{p[1]}> {f(p[2])} ."

    main = pats(2)
    opt = pats(1) if draw(st.booleans()) else None
    minus = pats(1) if draw(st.booleans()) else None

    def eval_fragment(triples):
        sols = _bf_bgp(triples, main)
        if opt is not None:
            sols = _bf_leftjoin(sols, _bf_bgp(triples, opt))
        if minus is not None:
            sols = _bf_minus(sols, _bf_bgp(triples, minus))
        return sols

    # spec: eval per graph, then join each solution with {?g -> gi}
    want_sols = []
    for gi in sorted({g for *_, g in quads}):
        triples = [(s, p, o) for (s, p, o, g) in quads if g == gi]
        for mu in eval_fragment(triples):
            if mu.get("g", gi) != gi:
                continue
            want_sols.append({**mu, "g": gi})

    proj_vars = sorted({
        t[1:] for p in main + (opt or []) for t in (p[0], p[2])
        if t.startswith("?")
    } | {"g"})
    body = " ".join(render_pat(p) for p in main)
    if opt is not None:
        body += " OPTIONAL { " + " ".join(render_pat(p) for p in opt) + " }"
    if minus is not None:
        body += " MINUS { " + " ".join(render_pat(p) for p in minus) + " }"
    q = (f"SELECT {' '.join('?' + v for v in proj_vars)} "
         f"WHERE {{ GRAPH ?g {{ {body} }} }}")
    want = _sols_of_bf(want_sols, set(proj_vars))

    qdf = spark.createDataFrame(quads, "s string, p string, o string, g string")
    d = build_dictionary(qdf)
    engines = [
        SparqlEngine(qdf, collect_stats=False),
        EncodedSparqlEngine(encode_triples(qdf, d), d, collect_stats=False),
    ]
    for e in engines:
        assert _sols_of_df(e.query(q)) == want, q


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data(), quads=st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.sampled_from(["p", "q"]),
        st.sampled_from(["x", "y", "a", "b"]),
        st.sampled_from(["g1", "g2", "g3"]),
    ),
    min_size=1, max_size=12,
))
def test_random_nested_graph_matches_bruteforce(spark, graph_loops, data, quads):
    """r8 (VERDICT r7 #7): GRAPH ?g { [main .] GRAPH ?h|?g { inner } } vs
    the spec semantics — outer union over graphs gi of Join(eval(D(gi),
    child), {?g -> gi}), where the nested node is itself a union over gj
    of Join(eval(D(gj), inner), {?h -> gj}) INDEPENDENT of gi. Randomizes
    the nested variable (fresh ?h vs shadowing ?g), presence of sibling
    main patterns (none -> the one-row-per-graph extension device), and
    pattern shapes, on both engines. The single plan must bind both graph
    variables from quad columns with no driver loop."""
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.engine import SparqlEngine

    quads = sorted(set(quads))
    draw = data.draw
    TERMS = ["?a", "?b", "?c", "x", "y", "a"]

    def pats(n_max=2):
        return [
            (draw(st.sampled_from(TERMS)),
             draw(st.sampled_from(["p", "q"])),
             draw(st.sampled_from(TERMS)))
            for _ in range(draw(st.integers(1, n_max)))
        ]

    def render_pat(p):
        f = lambda t: t if t.startswith("?") else f"<{t}>"
        return f"{f(p[0])} <{p[1]}> {f(p[2])} ."

    main = pats(2) if draw(st.booleans()) else None
    inner = pats(2)
    hvar = draw(st.sampled_from(["h", "g"]))
    graphs = sorted({g for *_, g in quads})

    def gslice(gi):
        return [(s, p, o) for (s, p, o, g) in quads if g == gi]

    # nested node: union over gj, extend with {hvar -> gj}
    inner_sols = []
    for gj in graphs:
        for mu in _bf_bgp(gslice(gj), inner):
            if mu.get(hvar, gj) != gj:
                continue  # ?h/?g also used as a pattern term in inner
            inner_sols.append({**mu, hvar: gj})
    # outer: per gi, join main (or unit) with the nested sols, then {g->gi}
    want_sols = []
    for gi in graphs:
        A = _bf_bgp(gslice(gi), main) if main is not None else [{}]
        for mu1 in A:
            for mu2 in inner_sols:
                if not _bf_compat(mu1, mu2):
                    continue
                mu = {**mu1, **mu2}
                if mu.get("g", gi) != gi:
                    continue
                want_sols.append({**mu, "g": gi})

    proj_vars = sorted({
        t[1:] for p in (main or []) + inner for t in (p[0], p[2])
        if t.startswith("?")
    } | {"g", hvar})
    body = " ".join(render_pat(p) for p in main) if main is not None else ""
    body += f" GRAPH ?{hvar} {{ " + " ".join(render_pat(p) for p in inner) + " }"
    q = (f"SELECT {' '.join('?' + v for v in proj_vars)} "
         f"WHERE {{ GRAPH ?g {{ {body} }} }}")
    want = _sols_of_bf(want_sols, set(proj_vars))

    qdf = spark.createDataFrame(quads, "s string, p string, o string, g string")
    d = build_dictionary(qdf)
    engines = [
        SparqlEngine(qdf, collect_stats=False),
        EncodedSparqlEngine(encode_triples(qdf, d), d, collect_stats=False),
    ]
    before = len(graph_loops)
    for e in engines:
        assert _sols_of_df(e.query(q)) == want, q
    assert len(graph_loops) == before  # single plan, no driver loop
