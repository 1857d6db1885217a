"""EncodedSparqlEngine: SPARQL over the dictionary-encoded store must give
byte-identical answers to the lexical engine (after decode)."""

import pytest

from d_sparq_spark.encoded_engine import EncodedSparqlEngine
from d_sparq_spark.engine import SparqlEngine
from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples
from tests.test_sparql_golden import TRIPLES


@pytest.fixture(scope="module")
def engines(spark):
    triples = spark.createDataFrame(TRIPLES, "s string, p string, o string")
    d = build_dictionary(triples).cache()
    enc = encode_triples(triples, d).cache()
    return SparqlEngine(triples), EncodedSparqlEngine(enc, d)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


QUERIES = [
    'SELECT ?n ?c WHERE { ?x ex:name ?n ; ex:city ?c . ?x ex:age "25" }',
    "SELECT ?xn ?zn WHERE { ?x ex:knows ?y . ?y ex:knows ?z . "
    "?x ex:name ?xn . ?z ex:name ?zn }",
    "SELECT ?n ?age WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?age } }",
    'SELECT ?v WHERE { { ?x ex:city ?v } UNION { ?x ex:age ?v } }',
    'SELECT ?x WHERE { ?x ex:city "Paris" MINUS { ?x ex:age "25" } }',
    "SELECT ?n WHERE { ?x ex:name ?n FILTER EXISTS { ?x ex:knows ?y } }",
    # top-level value filter: runs after decode
    "SELECT ?n WHERE { ?x ex:name ?n ; ex:age ?a FILTER(?a > 26) }",
    "SELECT DISTINCT ?c WHERE { ?x ex:city ?c }",
    "SELECT ?n WHERE { ?x ex:name ?n } ORDER BY ?n LIMIT 2 OFFSET 1",
    'SELECT ?n WHERE { VALUES ?c { "Paris" "London" } ?x ex:city ?c ; ex:name ?n }',
    'ASK { ?x ex:city "Paris" }',
    "SELECT ?c (COUNT(*) AS ?n) WHERE { ?x ex:city ?c } GROUP BY ?c",
    # aggregate-before-decode path: COUNT / MIN / MAX group-bys
    "SELECT ?c (COUNT(DISTINCT ?x) AS ?n) WHERE { ?x ex:city ?c } GROUP BY ?c",
    "SELECT ?x (MIN(?n) AS ?lo) (MAX(?n) AS ?hi) (COUNT(*) AS ?c) "
    "WHERE { ?x ex:knows ?y . ?y ex:name ?n } GROUP BY ?x",
    "SELECT ?c (COUNT(*) AS ?n) WHERE { ?x ex:city ?c } GROUP BY ?c "
    "HAVING (?n > 1) ORDER BY ?c",
    # SPARQL 1.1 path forms
    "SELECT ?n WHERE { p:alice (ex:knows|ex:name) ?n }",
    "SELECT ?x WHERE { p:carol ^ex:knows ?x }",
    "SELECT ?o WHERE { p:eve !(rdf:type|ex:name) ?o }",
    "SELECT ?o WHERE { p:bob !(^ex:city) ?o }",  # inverse negated member
    "SELECT ?y WHERE { p:alice ex:knows? ?y }",
    "SELECT DISTINCT ?n WHERE { p:alice (ex:name|ex:knows/ex:name) ?n }",
]


QUERIES += [
    # r7 scoping corners (probed MATCH on both engines; pinned as goldens)
    # BIND var reused across UNION branches — separate scopes, legal
    "SELECT ?n WHERE { { ?x ex:name ?n } UNION "
    "{ ?x ex:city ?c BIND(UCASE(?c) AS ?n) } }",
    # outer FILTER over a subquery aggregate alias
    "SELECT ?c ?n WHERE { { SELECT ?c (COUNT(?x) AS ?n) "
    "WHERE { ?x ex:city ?c } GROUP BY ?c } FILTER(?n > 1) }",
    # VALUES placed AFTER the patterns (join, not leading table)
    'SELECT ?n WHERE { ?x ex:name ?n ; ex:city ?c VALUES ?c { "Paris" } }',
    # GROUP BY expression key consumed by HAVING
    "SELECT ?k (COUNT(*) AS ?n) WHERE { ?x ex:city ?c } "
    "GROUP BY (UCASE(?c) AS ?k) HAVING(?n >= 1)",
    # ORDER BY expression with a tiebreak
    "SELECT ?n WHERE { ?x ex:name ?n } ORDER BY DESC(STRLEN(?n)) ?n",
    # nested OPTIONAL chain
    "SELECT ?n ?c ?a WHERE { ?x ex:name ?n "
    "OPTIONAL { ?x ex:city ?c OPTIONAL { ?x ex:age ?a } } }",
    # ex:city occurs only inside an alternative path in an EXISTS group
    # under OPTIONAL: the constant-to-id lookup must still reach it
    # (answer: Alice keeps p:bob, whose city is London)
    "SELECT ?n ?y WHERE { ?x ex:name ?n OPTIONAL { ?x ex:knows ?y "
    "FILTER EXISTS { ?y (ex:city|ex:knows/ex:city) ?c } } }",
]


@pytest.mark.parametrize("q", QUERIES)
def test_encoded_matches_lexical(engines, q):
    lexical, encoded = engines
    assert rows(encoded.query(q)) == rows(lexical.query(q))


def test_unknown_constant_yields_empty(engines):
    _, encoded = engines
    assert encoded.query('SELECT ?x WHERE { ?x ex:city "Atlantis" }').count() == 0


def test_nested_value_filter_matches_lexical(engines):
    # value FILTER inside OPTIONAL: evaluated in place over the encoded
    # store via shadow-column decode of just ?a (no full-store decode)
    lexical, encoded = engines
    q = "SELECT ?n ?a WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?a FILTER(?a > 26) } }"
    assert rows(encoded.query(q)) == rows(lexical.query(q))


def test_nested_filter_column_pruned_decode_no_fallback(engines, monkeypatch):
    """VERDICT r2 #3: a value-FILTER-under-OPTIONAL decodes ONLY the
    variables the expression references (one broadcast dict join each) —
    the whole-store fallback must not run, and the filter's sibling
    binding ?n must stay encoded through the join."""
    import d_sparq_spark.encoded_engine as ee

    lexical, encoded = engines
    calls: list[tuple] = []
    orig = ee._EncodedTranslator._decode_shadow

    def spy(self, df, variables):
        calls.append(tuple(variables))
        return orig(self, df, variables)

    monkeypatch.setattr(ee._EncodedTranslator, "_decode_shadow", spy)

    def no_fallback(self, tree):
        raise AssertionError("whole-store decode fallback must not run")

    monkeypatch.setattr(ee.EncodedSparqlEngine, "_lexical_fallback", no_fallback)
    q = "SELECT ?n ?a WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?a FILTER(?a > 26) } }"
    assert rows(encoded.query(q)) == rows(lexical.query(q))
    assert calls == [("a",)]  # exactly the referenced variable, nothing else


def test_nested_filter_under_graph_var_column_pruned(quad_engines, monkeypatch):
    import d_sparq_spark.encoded_engine as ee

    lexical, encoded = quad_engines

    def no_fallback(self, tree):
        raise AssertionError("whole-store decode fallback must not run")

    monkeypatch.setattr(ee.EncodedSparqlEngine, "_lexical_fallback", no_fallback)
    q = "SELECT ?g ?x WHERE { GRAPH ?g { ?x ex:age ?a FILTER(?a > 26) } }"
    assert rows(encoded.query(q)) == rows(lexical.query(q))
    assert len(rows(encoded.query(q))) > 0


def test_nested_bind_shadow_decode_no_fallback(engines, monkeypatch):
    """r7 (VERDICT r6 #7): a nested BIND whose variable never feeds an ID
    join runs via shadow columns — inputs decode per-column, the output
    stays a lexical binding, the surrounding ID joins survive (no
    whole-store decode fallback)."""
    import d_sparq_spark.encoded_engine as ee

    lexical, encoded = engines

    def no_fallback(self, tree):
        raise AssertionError("whole-store decode fallback must not run")

    monkeypatch.setattr(ee.EncodedSparqlEngine, "_lexical_fallback", no_fallback)
    queries = [
        # string BIND under OPTIONAL (the shape that used to fall back)
        "SELECT ?n ?u WHERE { ?x ex:name ?n "
        "OPTIONAL { ?x ex:city ?c BIND(UCASE(?c) AS ?u) } }",
        # numeric BIND (bigint output — the final decode must SKIP it,
        # not null it out against the dictionary)
        "SELECT ?n ?a2 WHERE { ?x ex:name ?n . ?x ex:age ?a "
        "BIND(xsd:integer(?a) * 2 AS ?a2) "
        "FILTER(?a2 > 50) }",
        # BINDs in both UNION branches, one consumed by a nested FILTER
        # (lexical ?u meets lexical ?u — no ID join involved)
        'SELECT ?n ?u WHERE { { ?x ex:name ?n BIND(UCASE(?n) AS ?u) '
        'FILTER(?u != "ALICE") } UNION '
        '{ ?x ex:age ?a . ?x ex:name ?n BIND(CONCAT(?n, "!") AS ?u) } }',
        # review r7: a NESTED filter reading a numeric (bigint) bind
        # output must use the value directly — shadow-decoding it against
        # the dictionary nulled every OPTIONAL row
        "SELECT ?n ?a2 WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?a "
        "BIND(xsd:integer(?a) AS ?a2) FILTER(?a2 > 25) } }",
        # review r7: chained nested BIND reading the earlier bigint bind
        "SELECT ?n ?b WHERE { ?x ex:name ?n . ?x ex:age ?a "
        "BIND(xsd:integer(?a) AS ?a2) BIND(?a2 + 1 AS ?b) }",
        # review r7: MIN over a numeric bind column — the Group peel must
        # not decode the aggregate alias against the dictionary
        "SELECT (MIN(?a2) AS ?m) WHERE { { ?x ex:age ?a "
        "BIND(xsd:integer(?a) AS ?a2) } UNION { ?y ex:age ?c "
        "BIND(xsd:integer(?c) AS ?a2) } }",
    ]
    for q in queries:
        assert rows(encoded.query(q)) == rows(lexical.query(q)), q
        assert len(rows(encoded.query(q))) > 0, q


def test_nested_bind_id_join_survives_in_plan(engines, monkeypatch):
    """The ID joins around a shadow-decoded nested BIND stay joins over
    LONGS: the join keys in the executed plan are bigint, and only the
    BIND's referenced variable is shadow-decoded."""
    import d_sparq_spark.encoded_engine as ee

    _, encoded = engines
    calls = []
    orig = ee._EncodedTranslator._decode_shadow

    def spy(self, df, variables):
        calls.append(tuple(variables))
        return orig(self, df, variables)

    monkeypatch.setattr(ee._EncodedTranslator, "_decode_shadow", spy)

    def no_fallback(self, tree):
        raise AssertionError("whole-store decode fallback must not run")

    monkeypatch.setattr(ee.EncodedSparqlEngine, "_lexical_fallback", no_fallback)
    df = encoded.query(
        "SELECT ?xn ?zn ?u WHERE { ?x ex:knows ?y . ?y ex:knows ?z . "
        "?x ex:name ?xn . ?z ex:name ?zn "
        "OPTIONAL { ?x ex:city ?c BIND(UCASE(?c) AS ?u) } }"
    )
    assert calls == [("c",)]  # only the BIND input, nothing else
    plan = df._jdf.queryExecution().executedPlan().toString()
    # dictionary joins in the plan are exactly: 1 shadow decode for the
    # BIND input (?c) + 2 output decodes (?xn, ?zn; ?u is lexical and
    # skipped) — a decode-before-join regression would add one per
    # pattern variable (the decode join keys are the __did_<col> columns)
    import re

    decode_joins = set(re.findall(r"__did_\w+", plan))
    assert len(decode_joins) == 3, decode_joins
    assert len(rows(df)) > 0


def test_nested_count_group_runs_encoded(engines, monkeypatch):
    """r7: a COUNT-only subquery aggregate nested in the structural tree
    runs over IDs (bijection preserves per-group multiplicities; counts
    are plain longs the decode skips) — no whole-store fallback."""
    import d_sparq_spark.encoded_engine as ee

    lexical, encoded = engines

    def no_fallback(self, tree):
        raise AssertionError("whole-store decode fallback must not run")

    monkeypatch.setattr(ee.EncodedSparqlEngine, "_lexical_fallback", no_fallback)
    queries = [
        # subquery count joined back to a pattern
        "SELECT ?n ?cnt WHERE { ?x ex:name ?n "
        "{ SELECT ?x (COUNT(?y) AS ?cnt) WHERE { ?x ex:knows ?y } GROUP BY ?x } }",
        # count DISTINCT + a nested filter over the count output
        "SELECT ?n ?cnt WHERE { ?x ex:name ?n "
        "{ SELECT ?x (COUNT(DISTINCT ?y) AS ?cnt) WHERE { ?x ex:knows ?y } "
        "GROUP BY ?x } FILTER(?cnt >= 1) }",
    ]
    for q in queries:
        assert rows(encoded.query(q)) == rows(lexical.query(q)), q
        assert len(rows(encoded.query(q))) > 0, q


NESTED_VALUE_AGG_QUERIES = [
    # MIN/MAX over a pattern variable (the r7 fallback shape)
    "SELECT ?n ?m WHERE { ?x ex:name ?n "
    "{ SELECT ?x (MIN(?y) AS ?m) WHERE { ?x ex:knows ?y } GROUP BY ?x } }",
    "SELECT ?n ?m WHERE { ?x ex:name ?n "
    "{ SELECT ?x (MAX(?c) AS ?m) WHERE { ?x ex:city ?c } GROUP BY ?x } }",
    # SUM / AVG over numeric values of terms
    "SELECT ?n ?s WHERE { ?x ex:name ?n "
    "{ SELECT ?x (SUM(?a) AS ?s) WHERE { ?x ex:age ?a } GROUP BY ?x } }",
    "SELECT ?n ?s WHERE { ?x ex:name ?n "
    "{ SELECT ?x (AVG(?a) AS ?s) WHERE { ?x ex:age ?a } GROUP BY ?x } }",
    # GROUP_CONCAT + mixed with COUNT in one nested group
    "SELECT ?n ?g ?c WHERE { ?x ex:name ?n "
    '{ SELECT ?x (GROUP_CONCAT(?y; separator=",") AS ?g) '
    "(COUNT(?y) AS ?c) WHERE { ?x ex:knows ?y } GROUP BY ?x } }",
    # expression argument
    "SELECT ?n ?s WHERE { ?x ex:name ?n "
    "{ SELECT ?x (SUM(?a + 1) AS ?s) WHERE { ?x ex:age ?a } GROUP BY ?x } }",
    # nested value FILTER over a MIN output (shadow-decodes the id output)
    "SELECT ?n ?m WHERE { ?x ex:name ?n "
    "{ SELECT ?x (MIN(?y) AS ?m) WHERE { ?x ex:knows ?y } GROUP BY ?x } "
    'FILTER(STR(?m) != "") }',
]


def test_nested_value_aggregates_run_encoded(engines, monkeypatch):
    """r8 (VERDICT r7 #3): nested value aggregates no longer take the
    whole-store decode fallback — MIN/MAX ride the rank-ordered ids,
    SUM/AVG/GROUP_CONCAT the shadow-decode device — with lexical-engine
    parity. The no-fallback sentinel makes a silently re-tightened gate
    (or a silently re-relaxed one routing wrong) visible."""
    import d_sparq_spark.encoded_engine as ee

    lexical, encoded = engines

    def no_fallback(self, tree):
        raise AssertionError("whole-store decode fallback must not run")

    monkeypatch.setattr(ee.EncodedSparqlEngine, "_lexical_fallback", no_fallback)
    for q in NESTED_VALUE_AGG_QUERIES:
        got = rows(encoded.query(q))
        assert got == rows(lexical.query(q)), q
        assert len(got) > 0, q


def test_nested_minmax_output_feeds_id_join(engines, monkeypatch):
    """A nested MAX output on the rank-ordered path is a GENUINE
    dictionary id — it may seed a later triple pattern (an ID join) and
    must decode with the other bindings. No fallback."""
    import d_sparq_spark.encoded_engine as ee

    lexical, encoded = engines

    def no_fallback(self, tree):
        raise AssertionError("whole-store decode fallback must not run")

    monkeypatch.setattr(ee.EncodedSparqlEngine, "_lexical_fallback", no_fallback)
    q = (
        "SELECT ?m ?mn WHERE { "
        "{ SELECT ?x (MAX(?y) AS ?m) WHERE { ?x ex:knows ?y } GROUP BY ?x } "
        "?m ex:name ?mn }"
    )
    got = rows(encoded.query(q))
    assert got == rows(lexical.query(q))
    assert len(got) > 0


def test_nested_sum_output_feeding_id_join_falls_back(engines, monkeypatch):
    """A SUM output is a lexical value — if its variable is also bound by
    a triple pattern, the value would join against ids, so the decode-
    early fallback must run (recording sentinel) and stay answer-exact."""
    import d_sparq_spark.encoded_engine as ee

    lexical, encoded = engines
    calls = []
    orig = ee.EncodedSparqlEngine._lexical_fallback

    def spy(self, tree):
        calls.append(1)
        return orig(self, tree)

    monkeypatch.setattr(ee.EncodedSparqlEngine, "_lexical_fallback", spy)
    q = (
        "SELECT ?s WHERE { "
        "{ SELECT ?x (SUM(?a) AS ?s) WHERE { ?x ex:age ?a } GROUP BY ?x } "
        "?s ex:name ?n }"
    )
    got = rows(encoded.query(q))
    assert calls == [1]
    assert got == rows(lexical.query(q))


def test_nested_minmax_value_order_unsafe_takes_shadow_path(spark, monkeypatch):
    """With numeric TYPED literals in the dictionary, id rank order is
    not value order (\"10\"^^xsd:integer ranks before \"9\"^^xsd:integer
    but 9 < 10 by value) — nested MIN must take the shadow-decode path
    and still answer by VALUE, no whole-store fallback, both for a
    typed-numeric dictionary and for dict_rank_ordered=False."""
    import d_sparq_spark.encoded_engine as ee

    rows_t = [
        ("p:a", "ex:score", '"10"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("p:a", "ex:score", '"9"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("p:a", "ex:name", "alice"),
        ("p:b", "ex:score", '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("p:b", "ex:name", "bob"),
    ]
    triples = spark.createDataFrame(rows_t, "s string, p string, o string")
    d = build_dictionary(triples)
    enc = encode_triples(triples, d)
    lexical = SparqlEngine(triples, collect_stats=False)

    def no_fallback(self, tree):
        raise AssertionError("whole-store decode fallback must not run")

    monkeypatch.setattr(ee.EncodedSparqlEngine, "_lexical_fallback", no_fallback)
    q = (
        "SELECT ?n ?m WHERE { ?x ex:name ?n "
        "{ SELECT ?x (MIN(?v) AS ?m) WHERE { ?x ex:score ?v } GROUP BY ?x } }"
    )
    want = rows(lexical.query(q))
    assert any('"9"' in str(r) for r in want)  # MIN by value, not rank
    for eng in (
        ee.EncodedSparqlEngine(enc, d, collect_stats=False),
        ee.EncodedSparqlEngine(
            enc, d, collect_stats=False, dict_rank_ordered=False
        ),
    ):
        assert rows(eng.query(q)) == want


def test_nested_minmax_feeding_id_join_reencodes_no_fallback(spark, monkeypatch):
    """r9 (VERDICT r8 #5, the last decode-early shape): a nested
    MIN/MAX/SAMPLE output feeding an ID join on a NON-value-order-safe
    dictionary (typed numerics present / append-ordered) no longer falls
    back — the shadow aggregate's output is provably one of its input
    terms, so the translator re-encodes it term->id and the ID join runs
    over genuine ids. Sentinel asserts no whole-store decode; answers are
    lexical-engine exact on both the typed-numeric dictionary and the
    dict_rank_ordered=False engine."""
    import d_sparq_spark.encoded_engine as ee

    rows_t = [
        ("p:a", "ex:knows", "p:b"),
        ("p:a", "ex:knows", "p:c"),
        ("p:d", "ex:knows", "p:b"),
        ("p:b", "ex:name", "bob"),
        ("p:c", "ex:name", "carol"),
        # typed numeric literal: value order != id rank order, so the
        # MIN/MAX-over-ids route is OFF and the re-encode route must run
        ("p:a", "ex:score", '"10"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ]
    triples = spark.createDataFrame(rows_t, "s string, p string, o string")
    d = build_dictionary(triples)
    enc = encode_triples(triples, d)
    lexical = SparqlEngine(triples, collect_stats=False)

    def no_fallback(self, tree):
        raise AssertionError("whole-store decode fallback must not run")

    monkeypatch.setattr(ee.EncodedSparqlEngine, "_lexical_fallback", no_fallback)
    queries = [
        # MAX output seeds a later triple pattern (the ID join)
        "SELECT ?x ?mn WHERE { "
        "{ SELECT ?x (MAX(?y) AS ?m) WHERE { ?x ex:knows ?y } GROUP BY ?x } "
        "?m ex:name ?mn }",
        # MIN variant
        "SELECT ?x ?mn WHERE { "
        "{ SELECT ?x (MIN(?y) AS ?m) WHERE { ?x ex:knows ?y } GROUP BY ?x } "
        "?m ex:name ?mn }",
        # SAMPLE (deterministic = lexical min) feeding the join
        "SELECT ?x ?mn WHERE { "
        "{ SELECT ?x (SAMPLE(?y) AS ?m) WHERE { ?x ex:knows ?y } GROUP BY ?x } "
        "?m ex:name ?mn }",
    ]
    for engine in (
        ee.EncodedSparqlEngine(enc, d, collect_stats=False),
        ee.EncodedSparqlEngine(enc, d, collect_stats=False, dict_rank_ordered=False),
    ):
        for q in queries:
            got = rows(engine.query(q))
            assert got == rows(lexical.query(q)), q
            assert len(got) > 0, q


def test_nested_bind_feeding_id_join_still_falls_back(engines):
    """A BIND whose variable is also bound by a pattern would put a
    lexical value into an ID join — that shape must keep the decode-early
    fallback and still be answer-exact."""
    lexical, encoded = engines
    q = ("SELECT ?v WHERE { { ?x ex:city ?v } UNION "
         '{ ?y ex:name ?n BIND(UCASE(?n) AS ?v) } }')
    assert rows(encoded.query(q)) == rows(lexical.query(q))
    assert len(rows(encoded.query(q))) > 0


def test_join_keys_stay_long_until_decode(engines, spark):
    _, encoded = engines
    df = encoded.query('SELECT ?x WHERE { ?x ex:city "Paris" }')
    # output decoded to strings
    assert dict(df.dtypes)["x"] == "string"


# ---- GRAPH over the encoded quad store (B17, encoded path) ----


@pytest.fixture(scope="module")
def quad_engines(spark):
    quads = spark.createDataFrame(
        [(s, p, o, "g:a" if s in ("p:alice", "p:bob") else "g:b") for s, p, o in TRIPLES],
        "s string, p string, o string, g string",
    )
    d = build_dictionary(quads).cache()
    enc = encode_triples(quads, d).cache()
    return SparqlEngine(quads, collect_stats=False), EncodedSparqlEngine(enc, d, collect_stats=False)


QUAD_QUERIES = [
    'SELECT ?n WHERE { GRAPH "g:a" { ?x ex:name ?n } }',
    "SELECT ?g ?n WHERE { GRAPH ?g { ?x ex:name ?n } }",
    'ASK { GRAPH "g:b" { ?x ex:city "Paris" } }',
    # r4: subquery wrappers under GRAPH ?g on the single-plan route —
    # grouped, keyless (empty-graph COUNT()=0 fill), and sliced
    "SELECT ?g ?x ?c WHERE { GRAPH ?g { ?x ex:name ?n "
    "{ SELECT ?x (COUNT(?k) AS ?c) WHERE { ?x ex:knows ?k } GROUP BY ?x } } }",
    "SELECT ?g ?c WHERE { GRAPH ?g "
    "{ { SELECT (COUNT(?k) AS ?c) WHERE { ?x ex:knows ?k } } } }",
]


@pytest.mark.parametrize("q", QUAD_QUERIES)
def test_encoded_graph_matches_lexical(quad_engines, q):
    lexical, encoded = quad_engines
    assert rows(encoded.query(q)) == rows(lexical.query(q))


def test_encoded_graph_unknown_graph_empty(quad_engines):
    _, encoded = quad_engines
    assert encoded.query('SELECT ?x WHERE { GRAPH "g:none" { ?x ex:name ?n } }').count() == 0


def test_encoded_describe_matches_lexical(engines):
    lexical, encoded = engines
    q = "DESCRIBE p:alice p:eve"
    assert rows(encoded.query(q)) == rows(lexical.query(q))


def test_encoded_describe_var_where(engines):
    lexical, encoded = engines
    q = 'DESCRIBE ?x WHERE { ?x ex:city "Paris" }'
    assert rows(encoded.query(q)) == rows(lexical.query(q))


def test_encoded_composite_closure(spark):
    triples = spark.createDataFrame(
        [("a", "ex:p", "b"), ("b", "ex:q", "c"), ("c", "ex:p", "d"), ("d", "ex:q", "e")],
        "s string, p string, o string",
    )
    d = build_dictionary(triples).cache()
    enc = encode_triples(triples, d).cache()
    q = "SELECT ?x ?y WHERE { ?x (ex:p/ex:q)+ ?y }"
    lex = SparqlEngine(triples, collect_stats=False)
    enc_e = EncodedSparqlEngine(enc, d, collect_stats=False)
    assert rows(enc_e.query(q)) == rows(lex.query(q)) == [("a", "c"), ("a", "e"), ("c", "e")]


def test_graph_nested_value_filter_matches_lexical(quad_engines):
    # ADVICE r1 (high): unary structural root (GRAPH) must not skip the
    # structural check — encoded eval would compare long IDs to literals.
    # Now handled in place by shadow-column decode (_EncodedTranslator).
    lexical, encoded = quad_engines
    q = 'SELECT ?x WHERE { GRAPH "g:a" { ?x ex:age ?a FILTER(?a > 26) } }'
    assert rows(encoded.query(q)) == rows(lexical.query(q))
    assert len(rows(encoded.query(q))) > 0


def test_exists_nested_value_filter_matches_lexical(engines):
    lexical, encoded = engines
    q = ("SELECT ?n WHERE { ?x ex:name ?n "
         "FILTER EXISTS { ?x ex:age ?a FILTER(?a > 26) } }")
    assert rows(encoded.query(q)) == rows(lexical.query(q))


def test_service_falls_back_to_decode_early(engines, spark):
    # federation over the encoded store: endpoint dictionaries are foreign,
    # so the engine decodes early and federates lexically
    lexical, encoded = engines
    remote = spark.createDataFrame(
        [("p:alice", "ex:team", "core"), ("p:bob", "ex:team", "infra")],
        "s string, p string, o string",
    )
    encoded.services["remote"] = remote
    lex_with = SparqlEngine(
        lexical._translator.triples, collect_stats=False, services={"remote": remote}
    )
    q = ('SELECT ?x ?t WHERE { ?x ex:city "Paris" . '
         "SERVICE <remote> { ?x ex:team ?t } }")
    assert rows(encoded.query(q)) == rows(lex_with.query(q))
    assert len(rows(encoded.query(q))) > 0


def test_encoded_ask_with_value_filter_matches_lexical(engines):
    # ASK/CONSTRUCT have no wrapper-peeling: a value FILTER in their group
    # runs via shadow-column decode, never compares IDs to literals
    lexical, encoded = engines
    q = "ASK { ?x ex:age ?a FILTER(?a > 26) }"
    assert rows(encoded.query(q)) == rows(lexical.query(q))
    q_false = "ASK { ?x ex:age ?a FILTER(?a > 1000) }"
    assert rows(encoded.query(q_false)) == rows(lexical.query(q_false))


def test_encoded_construct_with_value_filter_matches_lexical(engines):
    lexical, encoded = engines
    q = ('CONSTRUCT { ?x ex:grownup "yes" } '
         "WHERE { ?x ex:age ?a FILTER(?a > 26) }")
    assert rows(encoded.query(q)) == rows(lexical.query(q))
    assert len(rows(encoded.query(q))) > 0


# ---- round-3 review regressions: VALUES / CONSTRUCT / decode collisions ----

def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_values_decodes_and_absent_terms_fall_back(engines):
    lex, enc = engines
    # present term: must decode back to the lexical form, not leak an ID
    q1 = 'SELECT ?c ?n WHERE { VALUES ?c { "Paris" } ?x ex:city ?c ; ex:name ?n }'
    assert _rows(enc.query(q1)) == _rows(lex.query(q1))
    # absent term: the row still exists and projects its lexical form
    q2 = 'SELECT ?c WHERE { VALUES ?c { "NotInStore" } }'
    assert _rows(enc.query(q2)) == _rows(lex.query(q2)) == [("NotInStore",)]
    # two DIFFERENT absent terms must not join as equal sentinel IDs
    q3 = ('SELECT ?x WHERE { VALUES ?x { "AbsentA" } '
          '{ SELECT ?x WHERE { VALUES ?x { "AbsentB" } } } }')
    assert _rows(enc.query(q3)) == _rows(lex.query(q3)) == []


def test_construct_mixed_constant_variable_template(engines):
    lex, enc = engines
    q = ('CONSTRUCT { ?x ex:hasName ?n . ?x ex:type "person" } '
         'WHERE { ?x ex:name ?n }')
    assert _rows(enc.query(q)) == _rows(lex.query(q))
    assert len(_rows(enc.query(q))) > 0


def test_variable_named_term_decodes(engines):
    lex, enc = engines
    q = 'SELECT ?term WHERE { ?term ex:city "Paris" }'
    assert _rows(enc.query(q)) == _rows(lex.query(q))
    q2 = 'SELECT ?id WHERE { ?id ex:city "Paris" }'
    assert _rows(enc.query(q2)) == _rows(lex.query(q2))


def test_nested_subquery_orderby_falls_back(engines):
    lex, enc = engines
    # typed numeric ORDER BY inside a subquery: ID order != value order;
    # the encoded engine must fall back rather than sort by dictionary rank
    q = ('SELECT ?x WHERE { { SELECT ?x WHERE { ?x ex:age ?a } '
         'ORDER BY ?a LIMIT 2 } }')
    assert _rows(enc.query(q)) == _rows(lex.query(q))


def test_optional_disjoint_group_keeps_left_encoded(engines):
    # the disjoint-OPTIONAL fix (join_bindings honoring the join type)
    # must hold on the encoded structural path as well
    lex, enc = engines
    q = 'SELECT ?n ?v WHERE { p:alice ex:name ?n OPTIONAL { ?z ex:nothere ?v } }'
    assert _rows(enc.query(q)) == _rows(lex.query(q)) == [("Alice", None)]


def test_encoded_describe_expands_bnode_cbd(spark):
    """Review r4 (reproduced): encoded DESCRIBE returned only the subject
    triples — the inherited CBD loop's string probe bailed on the bigint
    store, silently dropping blank-node closure triples. The encoded
    translator now sources bnode-ness from the dictionary and must match
    the lexical engine exactly, including a 2-level bnode chain."""
    triples = spark.createDataFrame(
        [
            ("p:alice", "ex:name", "Alice"),
            ("p:alice", "ex:addr", "_:b1"),
            ("_:b1", "ex:city", "Paris"),
            ("_:b1", "ex:geo", "_:b2"),
            ("_:b2", "ex:lat", "48.85"),
            ("p:bob", "ex:name", "Bob"),
        ],
        "s string, p string, o string",
    )
    d = build_dictionary(triples).cache()
    enc = encode_triples(triples, d, broadcast_dict=True).cache()
    lex = SparqlEngine(triples).query("DESCRIBE p:alice")
    encoded = EncodedSparqlEngine(enc, d).query("DESCRIBE p:alice")
    assert rows(encoded) == rows(lex)
    assert len(rows(lex)) == 5  # 2 subject triples + 3 through the bnode chain


def test_encoded_update_rejected_with_clear_error(engines):
    """r5 review: UPDATE through the encoded engine used to die with a raw
    eval TypeError (Modify.where never id-rewritten) — must refuse."""
    import pytest

    _, enc = engines
    with pytest.raises(NotImplementedError, match="UPDATE"):
        enc.query('INSERT DATA { <s:a> <p:b> "c" }')


# --- r6 review fixes: keyless peel, value-order MIN/MAX, no-agg GROUP BY ----


def _mini_engines(spark, rows):
    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

    triples = spark.createDataFrame(rows, "s string, p string, o string")
    d = build_dictionary(triples)
    return (
        SparqlEngine(triples, collect_stats=False),
        EncodedSparqlEngine(encode_triples(triples, d), d, collect_stats=False),
    )


def test_keyless_count_peels_no_decode_join(spark):
    """SELECT (COUNT(*) AS ?n): the Group must aggregate over encoded ids
    — the old `w.keys` guard decoded every binding column under a row
    count (review r6). No join of any kind belongs in this plan."""
    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

    triples = spark.createDataFrame(
        [("s:a", "p:x", "1"), ("s:b", "p:y", "2")], "s string, p string, o string"
    )
    d = build_dictionary(triples).localCheckpoint()
    # materialize the store so the plan under inspection holds ONLY the
    # query's own operators, not the in-memory encode lineage's joins
    store = encode_triples(triples, d).localCheckpoint()
    enc = EncodedSparqlEngine(store, d, collect_stats=False)
    out = enc.query("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")
    assert [tuple(r) for r in out.collect()] == [(2,)]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan


def test_min_max_typed_numeric_value_order_both_engines(spark):
    """MIN/MAX over typed numeric literals compare by VALUE, agreeing
    with ORDER BY (review r6: '"10"^^xsd:int' < '"9"^^xsd:int'
    lexically); the encoded engine must reach the same answer, which
    forces its rank-order peel OFF for stores holding such terms."""
    rows = [
        ("s:a", "p:v", '"9"^^xsd:int'), ("s:b", "p:v", '"10"^^xsd:int'),
        ("s:c", "p:v", '"2"^^xsd:int'),
    ]
    q = "SELECT (MIN(?o) AS ?lo) (MAX(?o) AS ?hi) WHERE { ?s <p:v> ?o }"
    for eng in _mini_engines(spark, rows):
        got = [tuple(r) for r in eng.query(q).collect()]
        assert got == [('"2"^^xsd:int', '"10"^^xsd:int')], got
        first = eng.query("SELECT ?o WHERE { ?s <p:v> ?o } ORDER BY ?o LIMIT 1")
        assert [r["o"] for r in first.collect()] == ['"2"^^xsd:int']


def test_min_max_plain_strings_unchanged_and_peel_still_on(spark):
    """All-plain stores keep lexical MIN/MAX (== value order for them)
    and the encoded MIN/MAX peel stays available."""
    rows = [("s:a", "p:v", "pear"), ("s:b", "p:v", "apple")]
    q = "SELECT (MIN(?o) AS ?lo) WHERE { ?s <p:v> ?o }"
    lex, enc = _mini_engines(spark, rows)
    assert [tuple(r) for r in lex.query(q).collect()] == [("apple",)]
    assert [tuple(r) for r in enc.query(q).collect()] == [("apple",)]
    assert enc._dict_value_order_safe() is True


def test_group_by_without_aggregates_is_distinct_keys(spark):
    """SELECT ?k ... GROUP BY ?k with no aggregates: grouped solutions
    project their keys (was a Spark AssertionError, review r6)."""
    rows = [("s:a", "p:x", "1"), ("s:b", "p:x", "1"), ("s:c", "p:x", "2")]
    q = "SELECT ?o WHERE { ?s <p:x> ?o } GROUP BY ?o"
    for eng in _mini_engines(spark, rows):
        assert sorted(tuple(r) for r in eng.query(q).collect()) == [("1",), ("2",)]


def test_shared_lexical_translator_concurrent_queries(engines):
    """One EncodedSparqlEngine, two threads: a SELECT whose ORDER BY /
    LIMIT and a CONSTRUCT whose ORDER BY / LIMIT are peeled and
    re-applied over decoded bindings through the engine's one lexical
    translator (_empty_lex). Each query runs 3 times; every answer must
    equal its serial answer."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    lexical, serial = engines
    select = "SELECT ?n WHERE { ?x ex:name ?n } ORDER BY DESC(?n) LIMIT 3"
    construct = (
        "CONSTRUCT { ?x ex:label ?n } WHERE { ?x ex:name ?n } "
        "ORDER BY ?n LIMIT 3"
    )

    def answer(eng, q):
        df = eng.query(q)
        out = [tuple(r) for r in df.collect()]
        return out if q is select else sorted(out)

    expected = {q: answer(serial, q) for q in (select, construct)}
    assert expected[select] == [("Eve",), ("Dave",), ("Carol",)]
    assert len(expected[construct]) == 3
    for q in (select, construct):
        assert expected[q] == answer(lexical, q)

    shared = EncodedSparqlEngine(serial.triples, serial.dict, stats=serial._stats)

    def run(q):
        return [answer(shared, q) for _ in range(3)]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads' Python steps
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = {q: pool.submit(run, q) for q in (select, construct)}
            got = {q: f.result(timeout=600) for q, f in futures.items()}
    finally:
        sys.setswitchinterval(interval)
    for q in (select, construct):
        assert got[q] == [expected[q]] * 3, q
    assert shared._empty_lex() is shared._empty_lex()
