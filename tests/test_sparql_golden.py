"""SPARQL golden tests: tiny in-code graph, hand-verified expected bindings
(FIXTURES.md §3). One test per SURVEY.md §2.B construct, including the
MINUS vs NOT-EXISTS divergence on disjoint variable domains.
"""

import pytest

from d_sparq_spark.engine import SparqlEngine

# The 298-case golden lap is the single biggest slice of the suite's wall
# clock (VERDICT r11 #1: the driver's verify window truncated at ~64%).
# It pins SPARQL construct semantics that nothing in the fast lane probes
# per-construct, so it is slow-marked, not deleted: D_SPARQ_FULL_TESTS=1
# or `-m slow` runs it (tests/conftest.py).
pytestmark = pytest.mark.slow

TRIPLES = [
    ("p:alice", "rdf:type", "Person"), ("p:alice", "ex:name", "Alice"),
    ("p:alice", "ex:age", "30"), ("p:alice", "ex:city", "Paris"),
    ("p:alice", "ex:knows", "p:bob"), ("p:alice", "ex:knows", "p:carol"),
    ("p:bob", "rdf:type", "Person"), ("p:bob", "ex:name", "Bob"),
    ("p:bob", "ex:age", "25"), ("p:bob", "ex:city", "London"),
    ("p:bob", "ex:knows", "p:carol"),
    ("p:carol", "rdf:type", "Person"), ("p:carol", "ex:name", "Carol"),
    ("p:carol", "ex:age", "35"),
    ("p:dave", "rdf:type", "Person"), ("p:dave", "ex:name", "Dave"),
    ("p:dave", "ex:age", "25"), ("p:dave", "ex:city", "Paris"),
    ("p:eve", "rdf:type", "Person"), ("p:eve", "ex:name", "Eve"),
    ("p:eve", "ex:city", "Berlin"),
]


@pytest.fixture(scope="module")
def engine(spark):
    triples = spark.createDataFrame(TRIPLES, "s string, p string, o string")
    return SparqlEngine(triples)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_star_pattern(engine):
    out = engine.query(
        'SELECT ?n ?c WHERE { ?x ex:name ?n ; ex:city ?c . ?x ex:age "25" }'
    )
    assert rows(out) == [("Bob", "London"), ("Dave", "Paris")]


def test_path_two_hop(engine):
    out = engine.query(
        "SELECT ?xn ?zn WHERE { ?x ex:knows ?y . ?y ex:knows ?z . "
        "?x ex:name ?xn . ?z ex:name ?zn }"
    )
    assert rows(out) == [("Alice", "Carol")]


def test_type_shorthand_a(engine):
    out = engine.query("SELECT ?x WHERE { ?x a Person . ?x ex:city \"Paris\" }")
    assert rows(out) == [("p:alice",), ("p:dave",)]


def test_optional_unbound(engine):
    out = engine.query(
        "SELECT ?n ?age WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?age } }"
    )
    got = dict(rows(out))
    assert got["Eve"] is None and got["Alice"] == "30"
    assert len(got) == 5


def test_union(engine):
    out = engine.query(
        'SELECT ?v WHERE { { ?x ex:city ?v } UNION { ?x ex:age ?v } }'
    )
    vals = [r[0] for r in out.collect()]
    assert sorted(vals) == sorted(["Paris", "London", "Paris", "Berlin", "30", "25", "35", "25"])


def test_filter_numeric(engine):
    out = engine.query(
        "SELECT ?n WHERE { ?x ex:name ?n ; ex:age ?a FILTER(?a > 26) }"
    )
    assert rows(out) == [("Alice",), ("Carol",)]


def test_filter_regex_and_logic(engine):
    out = engine.query(
        'SELECT ?n WHERE { ?x ex:name ?n ; ex:age ?a '
        'FILTER(regex(?n, "^[AB]") && ?a >= 25 && ?a <= 30) }'
    )
    assert rows(out) == [("Alice",), ("Bob",)]


def test_filter_in(engine):
    out = engine.query(
        'SELECT ?n WHERE { ?x ex:name ?n ; ex:city ?c FILTER(?c IN ("Paris", "Berlin")) }'
    )
    assert rows(out) == [("Alice",), ("Dave",), ("Eve",)]


def test_distinct(engine):
    out = engine.query("SELECT DISTINCT ?c WHERE { ?x ex:city ?c }")
    assert rows(out) == [("Berlin",), ("London",), ("Paris",)]


def test_order_limit_offset(engine):
    out = engine.query(
        "SELECT ?n WHERE { ?x ex:name ?n } ORDER BY ?n LIMIT 2 OFFSET 1"
    )
    assert [r[0] for r in out.collect()] == ["Bob", "Carol"]


def test_order_desc_numeric(engine):
    out = engine.query(
        "SELECT ?n WHERE { ?x ex:name ?n ; ex:age ?a } "
        "ORDER BY DESC(xsd:double(?a)) ?n LIMIT 2"
    )
    assert [r[0] for r in out.collect()] == ["Carol", "Alice"]


def test_group_by_aggregates(engine):
    out = engine.query(
        "SELECT ?c (COUNT(*) AS ?n) (AVG(?a) AS ?avg_age) "
        "WHERE { ?x ex:city ?c ; ex:age ?a } GROUP BY ?c"
    )
    got = {r["c"]: (r["n"], r["avg_age"]) for r in out.collect()}
    assert got == {"Paris": (2, 27.5), "London": (1, 25.0)}


def test_group_concat_and_sample(engine):
    out = engine.query(
        'SELECT ?c (GROUP_CONCAT(?n; SEPARATOR=",") AS ?names) '
        "WHERE { ?x ex:city ?c ; ex:name ?n } GROUP BY ?c"
    )
    got = {r["c"]: r["names"] for r in out.collect()}
    assert got["Paris"] == "Alice,Dave"


def test_having(engine):
    out = engine.query(
        "SELECT ?c (COUNT(*) AS ?n) WHERE { ?x ex:city ?c } "
        "GROUP BY ?c HAVING (?n > 1)"
    )
    assert rows(out) == [("Paris", 2)]


def test_global_aggregate_no_group(engine):
    out = engine.query("SELECT (SUM(?a) AS ?total) WHERE { ?x ex:age ?a }")
    assert out.collect()[0]["total"] == 115.0


def test_bind(engine):
    out = engine.query(
        "SELECT ?u WHERE { ?x ex:name ?n . BIND(UCASE(?n) AS ?u) "
        'FILTER(STRSTARTS(?n, "A")) }'
    )
    assert rows(out) == [("ALICE",)]


def test_values(engine):
    out = engine.query(
        'SELECT ?n WHERE { VALUES ?c { "Paris" "London" } ?x ex:city ?c ; ex:name ?n }'
    )
    assert rows(out) == [("Alice",), ("Bob",), ("Dave",)]


def test_minus_vs_not_exists_divergence(engine):
    """MINUS with disjoint variable domains removes NOTHING; FILTER NOT
    EXISTS with a satisfiable pattern removes EVERYTHING. The classic
    SPARQL 1.1 semantics divergence (spec §8.3.3)."""
    minus = engine.query(
        'SELECT ?x WHERE { ?x ex:city "Paris" MINUS { ?y ex:age "25" } }'
    )
    assert rows(minus) == [("p:alice",), ("p:dave",)]
    ne = engine.query(
        'SELECT ?x WHERE { ?x ex:city "Paris" FILTER NOT EXISTS { ?y ex:age "25" } }'
    )
    assert rows(ne) == []


def test_minus_shared_var(engine):
    out = engine.query(
        'SELECT ?x WHERE { ?x ex:city "Paris" MINUS { ?x ex:age "25" } }'
    )
    assert rows(out) == [("p:alice",)]


def test_not_exists_shared_var(engine):
    out = engine.query(
        "SELECT ?n WHERE { ?x ex:name ?n FILTER NOT EXISTS { ?x ex:city ?c } }"
    )
    assert rows(out) == [("Carol",)]


def test_exists(engine):
    out = engine.query(
        "SELECT ?n WHERE { ?x ex:name ?n FILTER EXISTS { ?x ex:knows ?y } }"
    )
    assert rows(out) == [("Alice",), ("Bob",)]


def test_ask(engine):
    assert engine.query('ASK { ?x ex:city "Paris" }').collect()[0]["ask"] is True
    assert engine.query('ASK { ?x ex:city "Tokyo" }').collect()[0]["ask"] is False


def test_select_expression(engine):
    out = engine.query(
        "SELECT ?n ((?a * 2) AS ?double_age) WHERE { ?x ex:name ?n ; ex:age ?a }"
    )
    got = dict(rows(out))
    assert got["Alice"] == 60.0


def test_unknown_prefix_expansion(engine):
    out = engine.query(
        "PREFIX foo: <ex:> SELECT ?n WHERE { ?x foo:name ?n } ORDER BY ?n LIMIT 1"
    )
    assert [r[0] for r in out.collect()] == ["Alice"]


def test_parse_error_raises(engine):
    with pytest.raises(SyntaxError):
        engine.query("SELECT ?x WHERE { ?x ex:name }")


def test_filter_negative_number(engine):
    out = engine.query(
        "SELECT ?n WHERE { ?x ex:name ?n ; ex:age ?a FILTER(?a - 30 > -3) }"
    )
    assert rows(out) == [("Alice",), ("Carol",)]


def test_comments_in_query(engine):
    out = engine.query(
        "# leading comment\nSELECT ?n # trailing\nWHERE { ?x ex:name ?n . # mid\n ?x ex:age \"35\" }"
    )
    assert rows(out) == [("Carol",)]


def test_coalesce_and_if(engine):
    out = engine.query(
        "SELECT ?n ?o WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?a } "
        'BIND(COALESCE(?a, "none") AS ?o) }'
    )
    got = dict(rows(out))
    assert got["Eve"] == "none" and got["Alice"] == "30"


def test_strlen_and_if_expr(engine):
    out = engine.query(
        'SELECT ?n (IF(STRLEN(?n) > 4, "long", "short") AS ?len_class) '
        "WHERE { ?x ex:name ?n }"
    )
    got = dict(rows(out))
    assert got["Alice"] == "long" and got["Bob"] == "short"


# ---- SPARQL 1.1 path forms: alternative, inverse, negated set, zero-or-one ----


def test_path_alternative_propset(engine):
    out = engine.query("SELECT ?n WHERE { p:alice (ex:knows|ex:name) ?n }")
    assert rows(out) == [("Alice",), ("p:bob",), ("p:carol",)]


def test_path_inverse(engine):
    out = engine.query("SELECT ?x WHERE { p:carol ^ex:knows ?x }")
    assert rows(out) == [("p:alice",), ("p:bob",)]


def test_path_negated_propset(engine):
    out = engine.query("SELECT ?o WHERE { p:eve !(rdf:type|ex:name) ?o }")
    assert rows(out) == [("Berlin",)]


def test_path_zero_or_one(engine):
    out = engine.query("SELECT ?y WHERE { p:alice ex:knows? ?y }")
    assert rows(out) == [("p:alice",), ("p:bob",), ("p:carol",)]


def test_path_inverse_in_sequence(engine):
    out = engine.query("SELECT DISTINCT ?x ?y WHERE { ?x ex:knows/^ex:knows ?y }")
    assert rows(out) == [
        ("p:alice", "p:alice"), ("p:alice", "p:bob"),
        ("p:bob", "p:alice"), ("p:bob", "p:bob"),
    ]


def test_path_alternative_complex_branches(engine):
    out = engine.query(
        "SELECT DISTINCT ?n WHERE { p:alice (ex:name|ex:knows/ex:name) ?n }"
    )
    assert rows(out) == [("Alice",), ("Bob",), ("Carol",)]


# ---- DESCRIBE: CBD, multi-term, DESCRIBE ?var WHERE ----


def test_describe_cbd_follows_blank_nodes(spark):
    triples = spark.createDataFrame(
        [
            ("p:a", "ex:name", "Ann"), ("p:a", "ex:addr", "_:b1"),
            ("_:b1", "ex:city", "Paris"), ("_:b1", "ex:geo", "_:b2"),
            ("_:b2", "ex:lat", "48.85"),
            ("p:x", "ex:addr", "_:b9"), ("_:b9", "ex:city", "Oslo"),
        ],
        "s string, p string, o string",
    )
    out = rows(SparqlEngine(triples, collect_stats=False).query("DESCRIBE p:a"))
    assert out == [
        ("_:b1", "ex:city", "Paris"), ("_:b1", "ex:geo", "_:b2"),
        ("_:b2", "ex:lat", "48.85"),
        ("p:a", "ex:addr", "_:b1"), ("p:a", "ex:name", "Ann"),
    ]  # _:b9 belongs to p:x's description only


def test_describe_multiple_terms(engine):
    out = rows(engine.query("DESCRIBE p:eve p:carol"))
    assert ("p:eve", "ex:city", "Berlin") in out
    assert ("p:carol", "ex:age", "35") in out
    assert all(r[0] in ("p:eve", "p:carol") for r in out)


def test_describe_var_where(engine):
    out = rows(engine.query('DESCRIBE ?x WHERE { ?x ex:city "Paris" }'))
    subjects = {r[0] for r in out}
    assert subjects == {"p:alice", "p:dave"}
    assert ("p:alice", "ex:knows", "p:bob") in out


# ---- expression function surface (B4 widening) ----


def test_func_substr_strbefore_strafter(engine):
    out = engine.query(
        'SELECT ?s ?b ?a WHERE { p:alice ex:city ?c . '
        'BIND(SUBSTR(?c, 2, 3) AS ?s) BIND(STRBEFORE(?c, "r") AS ?b) '
        'BIND(STRAFTER(?c, "a") AS ?a) }'
    )
    assert rows(out) == [("ari", "Pa", "ris")]


def test_func_strbefore_absent_is_empty(engine):
    out = engine.query(
        'SELECT ?b WHERE { p:alice ex:city ?c . BIND(STRBEFORE(?c, "zz") AS ?b) }'
    )
    assert rows(out) == [("",)]


def test_func_term_kind_predicates(engine):
    out = engine.query(
        "SELECT ?x WHERE { ?x ex:knows ?y . FILTER(isIRI(?y)) }"
    )
    assert rows(out) == [("p:alice",), ("p:alice",), ("p:bob",)]
    out2 = engine.query(
        "SELECT ?n WHERE { ?x ex:name ?n . FILTER(isLiteral(?n)) }"
    )
    assert len(rows(out2)) == 5


def test_func_numeric_round_floor_ceil(engine):
    out = engine.query(
        'SELECT ?r ?f ?c WHERE { p:alice ex:age ?a . '
        "BIND(ROUND(xsd:double(?a) / 7) AS ?r) "
        "BIND(FLOOR(xsd:double(?a) / 7) AS ?f) "
        "BIND(CEIL(xsd:double(?a) / 7) AS ?c) }"
    )
    assert rows(out) == [(4.0, 4.0, 5.0)]


def test_func_hash_and_misc(engine):
    import hashlib

    out = engine.query(
        'SELECT ?m ?l ?d WHERE { p:alice ex:name ?n . '
        "BIND(MD5(?n) AS ?m) BIND(LANG(?n) AS ?l) BIND(DATATYPE(?n) AS ?d) }"
    )
    r = rows(out)[0]
    assert r == (hashlib.md5(b"Alice").hexdigest(), "", "xsd:string")


# ---- SERVICE federation (registry-backed) ----


REMOTE_TRIPLES = [
    ("p:alice", "ex:salary", "100"), ("p:bob", "ex:salary", "80"),
    ("p:zed", "ex:salary", "70"),
]


@pytest.fixture(scope="module")
def fed_engine(spark):
    local = spark.createDataFrame(TRIPLES, "s string, p string, o string")
    remote = spark.createDataFrame(REMOTE_TRIPLES, "s string, p string, o string")
    return SparqlEngine(local, collect_stats=False, services={"ex:hr": remote})


def test_service_join(fed_engine):
    out = fed_engine.query(
        "SELECT ?n ?sal WHERE { ?x ex:name ?n . SERVICE ex:hr { ?x ex:salary ?sal } }"
    )
    assert rows(out) == [("Alice", "100"), ("Bob", "80")]


def test_service_unknown_endpoint_raises(fed_engine):
    with pytest.raises(ValueError):
        fed_engine.query(
            "SELECT ?n WHERE { ?x ex:name ?n . SERVICE ex:nope { ?x ex:salary ?s } }"
        ).collect()


def test_service_silent_unknown_is_noop(fed_engine):
    out = fed_engine.query(
        "SELECT ?n WHERE { p:eve ex:name ?n . SERVICE SILENT ex:nope { ?x ex:salary ?s } }"
    )
    assert rows(out) == [("Eve",)]


# ---- closures over composite paths: (p/q)+, (p|q)*, (p/q)? ----


@pytest.fixture(scope="module")
def chain_engine(spark):
    # two alternating-predicate chains: a -p-> b -q-> c -p-> d -q-> e
    triples = spark.createDataFrame(
        [
            ("a", "ex:p", "b"), ("b", "ex:q", "c"),
            ("c", "ex:p", "d"), ("d", "ex:q", "e"),
            ("x", "ex:p", "y"),
        ],
        "s string, p string, o string",
    )
    return SparqlEngine(triples, collect_stats=False)


def test_closure_plus_over_sequence(chain_engine):
    # (p/q)+ edges: a->c, c->e (plus transitive a->e)
    out = chain_engine.query("SELECT ?x ?y WHERE { ?x (ex:p/ex:q)+ ?y }")
    assert rows(out) == [("a", "c"), ("a", "e"), ("c", "e")]


def test_closure_star_over_alternative(chain_engine):
    # (p|q) edges = all five; * adds identity on their nodes
    out = chain_engine.query("SELECT ?x ?y WHERE { ?x (ex:p|ex:q)* ?y . ?x ex:p b }")
    # ?x is 'a' (only a has p->b): a* reaches a (zero), b, c, d, e
    assert rows(out) == [("a", "a"), ("a", "b"), ("a", "c"), ("a", "d"), ("a", "e")]


def test_closure_opt_over_sequence(chain_engine):
    out = chain_engine.query("SELECT ?y WHERE { a (ex:p/ex:q)? ?y }")
    assert rows(out) == [("a",), ("c",)]


# ---- round-2 regressions (ADVICE.md) ----


def test_avg_distinct(engine):
    # ages 30, 25, 35, 25 -> distinct mean (30+25+35)/3, not 28.75
    out = engine.query("SELECT (AVG(DISTINCT ?a) AS ?m) WHERE { ?x ex:age ?a }")
    assert rows(out) == [(30.0,)]


def test_group_concat_distinct(engine):
    out = engine.query(
        'SELECT (GROUP_CONCAT(DISTINCT ?c; SEPARATOR=",") AS ?cs) '
        "WHERE { ?x ex:city ?c }"
    )
    assert rows(out) == [("Berlin,London,Paris",)]


def test_select_star_hides_fresh_path_vars(engine):
    # sequence-path desugaring introduces ?__p1; SELECT * must not expose it
    out = engine.query("SELECT * WHERE { ?x ex:knows/ex:name ?n }")
    assert set(out.columns) == {"x", "n"}


def test_having_inline_aggregate(engine):
    # spec form: the aggregate appears in HAVING, not in the SELECT list
    out = engine.query(
        "SELECT ?c WHERE { ?x ex:city ?c } GROUP BY ?c HAVING (COUNT(?x) > 1)"
    )
    assert out.columns == ["c"]
    assert rows(out) == [("Paris",)]


def test_having_inline_aggregate_reuses_selected(engine):
    out = engine.query(
        "SELECT ?c (COUNT(?x) AS ?n) WHERE { ?x ex:city ?c } "
        "GROUP BY ?c HAVING (COUNT(?x) > 1)"
    )
    assert out.columns == ["c", "n"]
    assert rows(out) == [("Paris", 2)]


def test_string_escape_escaped_backslash():
    from d_sparq_spark.plans.parser import _unquote

    # \\n is an escaped backslash followed by 'n', NOT a newline
    assert _unquote('"a\\\\nb"') == "a\\nb"
    assert _unquote('"a\\nb"') == "a\nb"
    assert _unquote('"q\\"x\\"y"') == 'q"x"y'


# ---- typed literals / language tags (round 2, SURVEY §1.2) ----

TYPED_TRIPLES = [
    ("p:a", "ex:label", '"cat"@en'),
    ("p:a", "ex:label", '"chat"@fr'),
    ("p:a", "ex:age", '"30"^^xsd:int'),
    ("p:b", "ex:label", "plain"),
    ("p:b", "ex:age", '"9"^^xsd:int'),
]


@pytest.fixture(scope="module")
def typed_engine(spark):
    triples = spark.createDataFrame(TYPED_TRIPLES, "s string, p string, o string")
    return SparqlEngine(triples, collect_stats=False)


def test_filter_by_lang(typed_engine):
    out = typed_engine.query(
        "SELECT ?l WHERE { ?x ex:label ?l FILTER(LANG(?l) = \"en\") }"
    )
    assert rows(out) == [('"cat"@en',)]


def test_langmatches_wildcard(typed_engine):
    out = typed_engine.query(
        "SELECT ?l WHERE { ?x ex:label ?l FILTER langmatches(LANG(?l), \"*\") }"
    )
    assert rows(out) == [('"cat"@en',), ('"chat"@fr',)]


def test_typed_numeric_comparison_by_value(typed_engine):
    # lexical compare would keep "9" ("9" > "10"); value compare must not
    out = typed_engine.query(
        'SELECT ?x WHERE { ?x ex:age ?a FILTER(?a > "10"^^xsd:int) }'
    )
    assert rows(out) == [("p:a",)]


def test_typed_order_by_value(typed_engine):
    out = typed_engine.query("SELECT ?a WHERE { ?x ex:age ?a } ORDER BY ?a")
    assert [r["a"] for r in out.collect()] == ['"9"^^xsd:int', '"30"^^xsd:int']


def test_datatype_and_str(typed_engine):
    out = typed_engine.query(
        "SELECT ?dt ?s WHERE { p:a ex:age ?a BIND(DATATYPE(?a) AS ?dt) "
        "BIND(STR(?a) AS ?s) }"
    )
    assert rows(out) == [("xsd:int", "30")]


def test_datatype_of_plain_and_tagged(typed_engine):
    out = typed_engine.query(
        "SELECT ?l (DATATYPE(?l) AS ?dt) WHERE { ?x ex:label ?l }"
    )
    assert rows(out) == sorted(
        [('"cat"@en', "rdf:langString"), ('"chat"@fr', "rdf:langString"),
         ("plain", "xsd:string")]
    )


def test_strlang_strdt_construct(typed_engine):
    out = typed_engine.query(
        'SELECT (STRLANG("hi", "en") AS ?a) (STRDT("5", xsd:int) AS ?b) '
        "WHERE { p:b ex:label ?l }"
    )
    assert rows(out) == [('"hi"@en', '"5"^^xsd:int')]


def test_lang_tagged_term_equality(typed_engine):
    out = typed_engine.query('SELECT ?x WHERE { ?x ex:label "cat"@en }')
    assert rows(out) == [("p:a",)]
    # plain "cat" is a DIFFERENT term than "cat"@en
    out2 = typed_engine.query('SELECT ?x WHERE { ?x ex:label "cat" }')
    assert rows(out2) == []


def test_ntriples_roundtrip_typed(spark):
    from d_sparq_spark.sources.ntriples import format_ntriples, parse_ntriples

    triples = spark.createDataFrame(TYPED_TRIPLES, "s string, p string, o string")
    lines = format_ntriples(triples)
    back = parse_ntriples(lines)
    assert rows(back) == rows(triples)
    # serialized forms are standard N-Triples
    texts = {r["value"] for r in lines.collect()}
    assert '<p:a> <ex:age> "30"^^<xsd:int> .' in texts
    assert '<p:a> <ex:label> "cat"@en .' in texts


DATETIME_TRIPLES = [
    ("e:1", "ex:when", '"2024-03-15T14:45:13"^^xsd:dateTime'),
    ("e:2", "ex:when", '"2023-12-01T09:05:59.250-05:00"^^xsd:dateTime'),
    ("e:3", "ex:when", '"2022-07-04T00:00:00Z"^^xsd:dateTime'),
]


@pytest.fixture(scope="module")
def dt_engine(spark):
    triples = spark.createDataFrame(DATETIME_TRIPLES, "s string, p string, o string")
    return SparqlEngine(triples, collect_stats=False)


def test_datetime_accessors(dt_engine):
    out = dt_engine.query(
        "SELECT ?x (YEAR(?w) AS ?y) (MONTH(?w) AS ?m) (DAY(?w) AS ?d) "
        "(HOURS(?w) AS ?h) (MINUTES(?w) AS ?mi) "
        'WHERE { ?x ex:when ?w FILTER(YEAR(?w) >= 2023) }'
    )
    got = {r[0]: tuple(r[1:]) for r in out.collect()}
    assert got["e:1"] == (2024, 3, 15, 14, 45)
    # components come from the LEXICAL form (the literal's own timezone) —
    # never normalized to the session TZ (which would make 09:05-05:00 -> 14)
    assert got["e:2"] == (2023, 12, 1, 9, 5)
    assert "e:3" not in got


def test_seconds_and_tz(dt_engine):
    out = dt_engine.query(
        "SELECT ?x (SECONDS(?w) AS ?s) (TZ(?w) AS ?tz) WHERE { ?x ex:when ?w }"
    )
    got = {r[0]: (r[1], r[2]) for r in out.collect()}
    assert got["e:1"] == (13.0, "")
    assert got["e:2"] == (59.25, "-05:00")  # fraction kept (xsd:decimal)
    assert got["e:3"] == (0.0, "Z")


def test_sha_and_iri_functions(engine):
    out = engine.query(
        'SELECT (SHA512("abc") AS ?h) (IRI("p:alice") AS ?i) '
        "WHERE { p:alice ex:name ?n }"
    )
    import hashlib

    assert rows(out) == [(hashlib.sha512(b"abc").hexdigest(), "p:alice")]


# ---------------- SPARQL 1.1 Update subset ----------------


def test_update_insert_data(engine):
    out = engine.update(
        'INSERT DATA { p:frank rdf:type Person . p:frank ex:name "Frank" . '
        'p:frank ex:name "Frank" . '  # repeated in-block: one insert
        'p:alice ex:name "Alice" }'  # existing triple: set no-op
    )
    eng2 = SparqlEngine(out, collect_stats=False)
    assert rows(eng2.query("SELECT ?x WHERE { ?x ex:name \"Frank\" }")) == [("p:frank",)]
    assert out.count() == len(TRIPLES) + 2  # duplicate insert didn't add


def test_update_delete_data(engine):
    out = engine.update(
        'DELETE DATA { p:alice ex:city "Paris" . p:zz ex:city "Nowhere" }'
    )
    assert out.count() == len(TRIPLES) - 1  # absent triple: no-op
    eng2 = SparqlEngine(out, collect_stats=False)
    assert rows(eng2.query('SELECT ?x WHERE { ?x ex:city "Paris" }')) == [("p:dave",)]


def test_update_delete_where(engine):
    out = engine.update('DELETE WHERE { ?x ex:age ?a }')
    eng2 = SparqlEngine(out, collect_stats=False)
    assert rows(eng2.query("SELECT ?a WHERE { ?x ex:age ?a }")) == []
    assert out.count() == len(TRIPLES) - 4


def test_update_modify_rename_predicate(engine):
    out = engine.update(
        "DELETE { ?x ex:city ?c } INSERT { ?x ex:location ?c } "
        "WHERE { ?x ex:city ?c }"
    )
    eng2 = SparqlEngine(out, collect_stats=False)
    assert rows(eng2.query("SELECT ?c WHERE { ?x ex:city ?c }")) == []
    assert rows(eng2.query("SELECT ?x WHERE { ?x ex:location \"Paris\" }")) == [
        ("p:alice",), ("p:dave",)
    ]
    assert out.count() == len(TRIPLES)


def test_update_insert_where_with_filter(engine):
    out = engine.update(
        'INSERT { ?x ex:senior "yes" } WHERE { ?x ex:age ?a FILTER(?a >= 30) }'
    )
    eng2 = SparqlEngine(out, collect_stats=False)
    assert rows(eng2.query('SELECT ?x WHERE { ?x ex:senior "yes" }')) == [
        ("p:alice",), ("p:carol",)
    ]


def test_update_rejects_vars_in_data_and_query_rejects_update(engine):
    with pytest.raises(SyntaxError):
        engine.update("INSERT DATA { ?x ex:name \"nope\" }")
    with pytest.raises(ValueError):
        engine.update("SELECT ?x WHERE { ?x ex:name ?n }")


def test_update_insert_bnode_fresh_per_solution(engine):
    """r4 (VERDICT r3 #4, tightened by review): a blank node in an INSERT
    template instantiates FRESH per solution AND per execution — n
    solutions yield n distinct bnodes; within one solution the label is
    shared across the template's triples; a pinned execution_id makes the
    ids deterministic (retry/replan safety), while the default mints new
    bnodes every execution per spec (re-applying the update must add new
    entities, not anti-join into a no-op)."""
    q = (
        "INSERT { ?x ex:address _:a . _:a ex:inCity ?c } "
        "WHERE { ?x ex:city ?c }"
    )
    out = engine.update(q, execution_id="exec1")
    addr = {r["s"]: r["o"] for r in out.filter("p = 'ex:address'").collect()}
    in_city = {r["s"]: r["o"] for r in out.filter("p = 'ex:inCity'").collect()}
    # 4 city-bound solutions (alice, bob, dave, eve) -> 4 DISTINCT bnodes
    assert len(addr) == 4 and len(set(addr.values())) == 4
    assert all(b.startswith("_:b") for b in addr.values())
    # same label within a solution = same bnode: _:a links the two triples
    assert {(b, in_city[b]) for b in addr.values()} == {
        (addr["p:alice"], "Paris"), (addr["p:bob"], "London"),
        (addr["p:dave"], "Paris"), (addr["p:eve"], "Berlin"),
    }
    # pinned execution_id -> deterministic ids across reruns
    rerun = {
        r["s"]: r["o"]
        for r in engine.update(q, execution_id="exec1").filter("p = 'ex:address'").collect()
    }
    assert rerun == addr
    # default (fresh execution) -> entirely NEW bnodes, disjoint from exec1
    fresh = {
        r["s"]: r["o"] for r in engine.update(q).filter("p = 'ex:address'").collect()
    }
    assert set(fresh.values()) & set(addr.values()) == set()


def test_update_insert_bnode_key_is_collision_safe(spark):
    """Review r4: bound values containing the hash separator (or equal to
    the NULL sentinel) must not make two distinct solutions share one
    'fresh' bnode — parts are length-prefixed before hashing."""
    triples = spark.createDataFrame(
        [
            ("p", "ex:tag", "q\x1fr"),
            ("p\x1fq", "ex:tag", "r"),
            ("\x00", "ex:tag", "z"),
        ],
        "s string, p string, o string",
    )
    eng = SparqlEngine(triples, collect_stats=False)
    out = eng.update(
        "INSERT { ?x ex:mark _:m } WHERE { ?x ex:tag ?t }", execution_id="e"
    )
    marks = [r["o"] for r in out.filter("p = 'ex:mark'").collect()]
    assert len(marks) == 3 and len(set(marks)) == 3


def test_update_rejects_bnode_in_delete_template(engine):
    # SPARQL 1.1 Update §3.1.3.2: bnodes are illegal in a DELETE template
    with pytest.raises(SyntaxError, match="DELETE template"):
        engine.update(
            "DELETE { ?x ex:address _:a } INSERT { ?x ex:seen \"y\" } "
            "WHERE { ?x ex:city ?c }"
        )


def test_update_rejects_path_in_template(engine):
    # ADVICE r2: a property path in a DELETE/INSERT template must be a
    # clear SyntaxError, not a downstream instantiate() crash
    with pytest.raises(SyntaxError, match="template"):
        engine.update(
            "DELETE { ?x ex:knows+ ?y } INSERT { ?x ex:met ?y } "
            "WHERE { ?x ex:knows ?y }"
        )
    # a sequence path desugars to plain triples with a fresh variable —
    # the DATA ground-triples check catches that form instead
    with pytest.raises(SyntaxError, match="template|ground triples"):
        engine.update('INSERT DATA { p:x ex:knows/ex:knows p:y }')
    with pytest.raises(SyntaxError, match="template|ground triples"):
        engine.update('DELETE DATA { p:x ex:knows+ p:y }')


def test_graph_var_subquery_stays_graph_correlated(spark):
    """A subquery under GRAPH ?g projects g away from its SELECT list; the
    single-plan route must thread g through the projection as a hidden
    column so the correlation survives (r4: these shapes left the per-graph
    fallback). x2 has a name in g:a but its age lives only in g:b: it must
    not surface under g:a."""
    quads = spark.createDataFrame(
        [
            ("x1", "ex:name", "One", "g:a"),
            ("x1", "ex:age", "30", "g:a"),
            ("x2", "ex:name", "Two", "g:a"),
            ("x2", "ex:age", "40", "g:b"),
        ],
        "s string, p string, o string, g string",
    )
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query(
        "SELECT ?g ?x WHERE { GRAPH ?g { ?x ex:name ?n "
        "{ SELECT ?x WHERE { ?x ex:age ?a } } } }"
    )
    assert rows(out) == [("g:a", "x1")]
    # single plan: no per-graph union branches
    assert "Union" not in out._jdf.queryExecution().executedPlan().toString()


_SUBQ_QUADS = [
    ("x1", "ex:score", "1", "g:a"), ("x1", "ex:score", "2", "g:a"),
    ("x2", "ex:score", "3", "g:a"),
    ("x1", "ex:name", "One", "g:a"), ("x2", "ex:name", "Two", "g:a"),
    ("x1", "ex:score", "5", "g:b"), ("x1", "ex:name", "Uno", "g:b"),
    ("x3", "ex:score", "7", "g:c"), ("x3", "ex:name", "Tre", "g:c"),
]


def test_graph_var_grouped_subquery_single_plan(spark):
    """Grouped subquery under GRAPH ?g over 3 graphs (VERDICT r3 #3): the
    graph binding joins the grouping keys, so the aggregate is per-graph
    inside ONE plan — no per-graph union."""
    quads = spark.createDataFrame(_SUBQ_QUADS, "s string, p string, o string, g string")
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query(
        "SELECT ?g ?x ?c WHERE { GRAPH ?g { ?x ex:name ?n "
        "{ SELECT ?x (COUNT(?s) AS ?c) WHERE { ?x ex:score ?s } GROUP BY ?x } } }"
    )
    assert rows(out) == [
        ("g:a", "x1", 2), ("g:a", "x2", 1), ("g:b", "x1", 1), ("g:c", "x3", 1),
    ]
    assert "Union" not in out._jdf.queryExecution().executedPlan().toString()


def test_graph_var_subquery_limit_is_per_graph(spark):
    """ORDER BY + LIMIT inside a subquery under GRAPH ?g applies per graph
    (each graph's dataset evaluates independently), as a row_number window
    partitioned by g — still one plan, no per-graph union."""
    quads = spark.createDataFrame(_SUBQ_QUADS, "s string, p string, o string, g string")
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query(
        "SELECT ?g ?x WHERE { GRAPH ?g { ?x ex:name ?n "
        "{ SELECT ?x WHERE { ?x ex:score ?s } ORDER BY DESC(?s) LIMIT 1 } } }"
    )
    assert rows(out) == [("g:a", "x2"), ("g:b", "x1"), ("g:c", "x3")]
    assert "Union" not in out._jdf.queryExecution().executedPlan().toString()


def test_graph_var_distinct_subquery_single_plan(spark):
    quads = spark.createDataFrame(_SUBQ_QUADS, "s string, p string, o string, g string")
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query(
        "SELECT ?g ?x WHERE { GRAPH ?g "
        "{ { SELECT DISTINCT ?x WHERE { ?x ex:score ?s } } } }"
    )
    assert rows(out) == [("g:a", "x1"), ("g:a", "x2"), ("g:b", "x1"), ("g:c", "x3")]
    assert "Union" not in out._jdf.queryExecution().executedPlan().toString()


def test_graph_var_keyless_agg_subquery_single_plan(spark):
    """A keyless global aggregate under GRAPH ?g must yield one solution
    per graph even when the inner pattern matches NOTHING in that graph
    (COUNT()=0). r4: this rides the single-plan route — groupBy(g)
    left-joined back onto the distinct-graph list — instead of the
    per-graph loop."""
    quads = spark.createDataFrame(
        [
            ("x1", "ex:age", "30", "g:a"), ("x2", "ex:age", "40", "g:a"),
            ("x9", "ex:name", "Nine", "g:b"),
        ],
        "s string, p string, o string, g string",
    )
    eng = SparqlEngine(quads, collect_stats=False)
    out = eng.query(
        "SELECT ?g ?c WHERE { GRAPH ?g "
        "{ { SELECT (COUNT(?a) AS ?c) WHERE { ?x ex:age ?a } } } }"
    )
    assert rows(out) == [("g:a", 2), ("g:b", 0)]
    assert "Union" not in out._jdf.queryExecution().executedPlan().toString()
    # non-count aggregates keep Spark's empty-input NULL (exactly what the
    # per-graph loop produced); counts fill 0
    out2 = eng.query(
        "SELECT ?g ?c ?m WHERE { GRAPH ?g { { SELECT (COUNT(?a) AS ?c) "
        "(MAX(?a) AS ?m) WHERE { ?x ex:age ?a } } } }"
    )
    assert rows(out2) == [("g:a", 2, "40"), ("g:b", 0, None)]


def test_strdt_xsd_string_folds_to_plain(engine):
    out = engine.query(
        'SELECT ?x WHERE { ?x ex:name ?n FILTER(STRDT("Alice", xsd:string) = ?n) }'
    )
    assert rows(out) == [("p:alice",)]


def test_func_encode_for_uri_rfc3986(engine):
    # RFC 3986 unreserved [A-Za-z0-9._~-] kept; space %20 (not '+');
    # '*' encoded (url_encode's form encoding gets all three wrong)
    out = engine.query(
        'SELECT ?e WHERE { p:alice ex:name ?n . '
        'BIND(ENCODE_FOR_URI(CONCAT(?n, " B~c*d!")) AS ?e) }'
    )
    assert rows(out) == [("Alice%20B~c%2Ad%21",)]


def test_func_timezone_duration(engine):
    q = (
        'SELECT ?t WHERE {{ p:alice ex:name ?n . '
        'BIND(TIMEZONE("{}"^^xsd:dateTime) AS ?t) }}'
    )
    cases = {
        "2011-01-10T14:45:13.815-05:00": "-PT5H",
        "2011-01-10T14:45:13+05:30": "PT5H30M",
        "2011-01-10T14:45:13Z": "PT0S",
        "2011-01-10T14:45:13+00:00": "PT0S",
    }
    for lex, want in cases.items():
        assert rows(engine.query(q.format(lex))) == [(want,)]
    # no timezone -> error -> unbound
    assert rows(engine.query(q.format("2011-01-10T14:45:13"))) == [(None,)]


# ---- round-3 review regressions: compatibility semantics ----

def test_values_undef_is_wildcard(engine):
    # UNDEF places no constraint: the row must survive, not equi-join away
    out = engine.query(
        'SELECT ?n ?c WHERE { ?x ex:name ?n ; ex:city ?c . '
        'VALUES (?n ?c) { ("Alice" UNDEF) (UNDEF "London") } }'
    )
    assert rows(out) == [("Alice", "Paris"), ("Bob", "London")]


def test_project_unbound_variable_is_null(engine):
    out = engine.query('SELECT ?n ?nothing WHERE { p:alice ex:name ?n }')
    assert rows(out) == [("Alice", None)]


def test_count_distinct_star(engine):
    # alice knows bob and carol -> two solutions, both with ?x = alice;
    # projecting the join differently: duplicate solutions via UNION
    out = engine.query(
        'SELECT (COUNT(DISTINCT *) AS ?n) WHERE { '
        '{ p:alice ex:name ?v } UNION { p:alice ex:name ?v } }'
    )
    assert rows(out) == [(1,)]
    out2 = engine.query(
        'SELECT (COUNT(*) AS ?n) WHERE { '
        '{ p:alice ex:name ?v } UNION { p:alice ex:name ?v } }'
    )
    assert rows(out2) == [(2,)]


def test_exists_with_unbound_shared_var(engine):
    # ?y unbound (OPTIONAL missed) is COMPATIBLE with every EXISTS match:
    # eve has no ex:knows, so ?y is NULL for eve — but EXISTS { ?z ex:age ?y }
    # must still hold for eve (unbound matches anything), and eve must
    # survive; an equi semi-join silently dropped her
    out = engine.query(
        'SELECT ?n WHERE { ?x ex:name ?n OPTIONAL { ?x ex:knows ?y } '
        'FILTER EXISTS { ?y rdf:type Person } }'
    )
    # alice->bob/carol (Persons), bob->carol (Person): bound matches; carol,
    # dave, eve have ?y unbound -> compatible -> kept
    assert rows(out) == [
        ("Alice",), ("Alice",), ("Bob",), ("Carol",), ("Dave",), ("Eve",)
    ]


def test_minus_partial_overlap_multivar(engine):
    # left binds (?n, ?c); right binds ?n always but ?c only sometimes.
    # bob: right row ("Bob", UNDEF-free?) — construct: MINUS group binds
    # ?n via ex:name and OPTIONALLY ?c via ex:city of a DIFFERENT person.
    # dave's right row has ?c unbound -> domains overlap on ?n only ->
    # compatible -> dave removed. An equi anti-join on (n, c) kept him.
    out = engine.query(
        'SELECT ?n ?c WHERE { ?x ex:name ?n ; ex:city ?c '
        'MINUS { ?x ex:name ?n OPTIONAL { ?x ex:age ?missing . '
        '?never ex:city ?c } } }'
    )
    # every person's MINUS row binds ?n (same ?x) with ?c unbound
    # (the OPTIONAL never matches) -> everyone removed
    assert rows(out) == []


def test_signed_number_expression(engine):
    out = engine.query(
        'SELECT ?n WHERE { ?x ex:name ?n ; ex:age ?a FILTER(?a > 20+9) }'
    )
    assert rows(out) == [("Alice",), ("Carol",)]


def test_optional_disjoint_group_keeps_left(engine):
    # review r3: OPTIONAL over a group sharing NO variables was a bare
    # crossJoin — with an empty right group every left solution vanished
    out = engine.query(
        'SELECT ?n ?v WHERE { p:alice ex:name ?n OPTIONAL { ?z ex:nothere ?v } }'
    )
    assert rows(out) == [("Alice", None)]


# ---- review r4 wave 10 regressions (parser + OPTIONAL-unit semantics) ----


def test_pname_trailing_dot_terminates_triple(engine):
    """'o.' with no space: the dot must TERMINATE the triple, not join the
    prefixed name (review r4: tokenizer produced PNAME('Person.') and the
    query silently matched nothing)."""
    out = engine.query("SELECT ?n WHERE { ?x rdf:type Person. ?x ex:name ?n }")
    assert len(out.collect()) == 5
    out2 = engine.query('SELECT ?x WHERE { ?x ex:knows p:carol. }')
    assert rows(out2) == [("p:alice",), ("p:bob",)]


def test_union_with_subquery_operand_both_sides(engine):
    """A '{ SELECT ... }' subquery must work as either UNION operand
    (review r4: right side parsed SELECT/WHERE as triple terms; left side
    raised SyntaxError on valid SPARQL)."""
    q_right = (
        "SELECT ?n WHERE { { p:eve ex:name ?n } UNION "
        "{ SELECT ?n WHERE { ?x ex:age \"25\" ; ex:name ?n } } }"
    )
    assert rows(engine.query(q_right)) == [("Bob",), ("Dave",), ("Eve",)]
    q_left = (
        "SELECT ?n WHERE { { SELECT ?n WHERE { ?x ex:age \"25\" ; ex:name ?n } } "
        "UNION { p:eve ex:name ?n } }"
    )
    assert rows(engine.query(q_left)) == [("Bob",), ("Dave",), ("Eve",)]


def test_optional_only_group_keeps_unit_solution(engine):
    """OPTIONAL over the unit solution: when the optional pattern matches
    nothing the query must yield ONE all-unbound solution, not zero rows
    (review r4). When it matches, the bindings flow through unchanged."""
    empty = engine.query(
        'SELECT ?n WHERE { OPTIONAL { ?x ex:name ?n . ?x ex:age "99" } }'
    )
    assert rows(empty) == [(None,)]
    some = engine.query(
        'SELECT ?n WHERE { OPTIONAL { ?x ex:name ?n . ?x ex:age "25" } }'
    )
    assert rows(some) == [("Bob",), ("Dave",)]


def test_limit_offset_require_integers(engine):
    for bad in ["LIMIT ?x", "LIMIT 5.5", "OFFSET banana"]:
        with pytest.raises(SyntaxError):
            engine.query(f"SELECT ?s WHERE {{ ?s ?p ?o }} {bad}")


# --- W3C-style conformance sweep (r5, VERDICT r4 #7) ------------------------
#
# Breadth goldens shaped after the public W3C SPARQL 1.1 evaluation tests,
# one per grammar/algebra corner (nested OPTIONAL scope, FILTER variable
# scoping, aggregate projection restrictions, pathological whitespace and
# comments, VALUES/UNDEF, MINUS domain rules, path corners). Every golden
# runs on BOTH engines — lexical and dictionary-encoded — with identical
# expected bindings (multiset compare; None-safe).

from collections import Counter

from d_sparq_spark.encoded_engine import EncodedSparqlEngine
from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples


@pytest.fixture(scope="module", params=["lexical", "encoded"])
def w3c_engine(spark, request):
    triples = spark.createDataFrame(TRIPLES, "s string, p string, o string")
    if request.param == "lexical":
        return SparqlEngine(triples, collect_stats=False)
    d = build_dictionary(triples).cache()
    enc = encode_triples(triples, d).cache()
    return EncodedSparqlEngine(enc, d, collect_stats=False)


def bag(df):
    return Counter(tuple(r) for r in df.collect())


W3C_GOLDENS = [
    # -- nested OPTIONAL scope ------------------------------------------------
    ("nested_optional", 
     "SELECT ?n ?c ?k WHERE { ?x ex:name ?n OPTIONAL { ?x ex:city ?c "
     "OPTIONAL { ?x ex:knows ?k } } }",
     [("Alice", "Paris", "p:bob"), ("Alice", "Paris", "p:carol"),
      ("Bob", "London", "p:carol"), ("Carol", None, None),
      ("Dave", "Paris", None), ("Eve", "Berlin", None)]),
    ("optional_filter_scoped_inside",
     'SELECT ?n ?a WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?a FILTER(?a > 26) } }',
     [("Alice", "30"), ("Bob", None), ("Carol", "35"), ("Dave", None), ("Eve", None)]),
    ("filter_after_optional_drops_unbound",
     'SELECT ?n ?a WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?a } FILTER(?a > 26) }',
     [("Alice", "30"), ("Carol", "35")]),
    ("double_optional_shared_var",
     "SELECT ?n ?v WHERE { ?x ex:name ?n OPTIONAL { ?x ex:city ?v } "
     "OPTIONAL { ?x ex:age ?v } }",
     [("Alice", "Paris"), ("Bob", "London"), ("Carol", "35"),
      ("Dave", "Paris"), ("Eve", "Berlin")]),
    ("not_bound_filter",
     "SELECT ?n WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?a } FILTER(!BOUND(?a)) }",
     [("Eve",)]),
    # -- FILTER variable scoping ----------------------------------------------
    ("filter_unbound_var_is_error_row_dropped",
     'SELECT ?n WHERE { ?x ex:name ?n FILTER(?zzz = "q") }',
     []),
    ("nested_group_filter_sees_inner_bindings",
     'SELECT ?n WHERE { { { ?x ex:name ?n . } } FILTER(STRSTARTS(?n, "A")) }',
     [("Alice",)]),
    ("exists_correlates_outer_var",
     'SELECT ?n WHERE { ?x ex:name ?n FILTER EXISTS { ?x ex:city "Paris" } }',
     [("Alice",), ("Dave",)]),
    ("not_exists_correlated",
     "SELECT ?n WHERE { ?x ex:name ?n FILTER NOT EXISTS { ?x ex:knows ?y } }",
     [("Carol",), ("Dave",), ("Eve",)]),
    # -- pathological whitespace / comments ------------------------------------
    ("comments_with_braces_and_quotes",
     'SELECT ?n # comment with { braces } and "quotes"\n'
     "\tWHERE\n{ ?x ex:name ?n .\n# mid-pattern comment\n?x ex:city \"Berlin\" }",
     [("Eve",)]),
    ("crlf_and_tab_separators",
     'SELECT\r\n?n\r\nWHERE\t{ ?x\tex:name\t?n ;\r\n\tex:age "25" . }',
     [("Bob",), ("Dave",)]),
    ("no_trailing_dot_and_extra_dots",
     'SELECT ?n WHERE { ?x ex:name ?n . ?x ex:city "Paris" . }',
     [("Alice",), ("Dave",)]),
    ("prefix_decl_accepted",
     'PREFIX foo: <http://example.org/unused#>\nSELECT ?n WHERE { ?x ex:name ?n ; ex:age "30" }',
     [("Alice",)]),
    ("semicolon_comma_object_lists",
     "SELECT ?n WHERE { ?x ex:name ?n ; ex:knows p:bob , p:carol }",
     [("Alice",)]),
    # -- aggregates -------------------------------------------------------------
    ("agg_count_star_vs_var_optional",
     "SELECT (COUNT(?a) AS ?na) (COUNT(*) AS ?nall) WHERE "
     "{ ?x ex:name ?n OPTIONAL { ?x ex:age ?a } }",
     [(4, 5)]),
    ("agg_no_groupby_empty_input",
     'SELECT (COUNT(?x) AS ?n) WHERE { ?x ex:city "Tokyo" }',
     [(0,)]),
    ("agg_min_max_over_strings",
     "SELECT (MIN(?a) AS ?mn) (MAX(?a) AS ?mx) WHERE { ?x ex:age ?a }",
     [("25", "35")]),
    ("agg_having",
     "SELECT ?c (COUNT(*) AS ?n) WHERE { ?x ex:city ?c } GROUP BY ?c "
     "HAVING (COUNT(*) > 1)",
     [("Paris", 2)]),
    ("agg_expr_over_aggregates",
     'SELECT ?c (CONCAT(MIN(?a), "-", MAX(?a)) AS ?mm) WHERE '
     "{ ?x ex:city ?c ; ex:age ?a } GROUP BY ?c",
     [("London", "25-25"), ("Paris", "25-30")]),
    ("agg_implicit_group_from_nested_only",
     'SELECT (CONCAT(MIN(?a), "/", MAX(?a)) AS ?mm) WHERE { ?x ex:age ?a }',
     [("25/35",)]),
    ("values_compatible_with_optional_unbound",
     'SELECT ?n ?a WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?a } VALUES ?a { "25" } }',
     [("Bob", "25"), ("Dave", "25"), ("Eve", "25")]),
    ("agg_count_distinct",
     "SELECT (COUNT(DISTINCT ?c) AS ?n) WHERE { ?x ex:city ?c }",
     [(3,)]),
    # -- subqueries / solution modifiers ----------------------------------------
    ("subquery_projects_subset_multiset",
     "SELECT ?n WHERE { { SELECT ?x WHERE { ?x ex:knows ?y } } ?x ex:name ?n }",
     [("Alice",), ("Alice",), ("Bob",)]),
    ("order_by_desc_expr_limit",
     "SELECT ?n WHERE { ?x ex:name ?n ; ex:age ?a } ORDER BY DESC(?a) ?n LIMIT 2",
     [("Carol",), ("Alice",)]),
    ("select_star_columns",
     "SELECT * WHERE { ?x ex:knows ?y }",
     [("p:alice", "p:bob"), ("p:alice", "p:carol"), ("p:bob", "p:carol")]),
    ("distinct_pairs",
     "SELECT DISTINCT ?c ?a WHERE { ?x ex:city ?c ; ex:age ?a }",
     [("London", "25"), ("Paris", "25"), ("Paris", "30")]),
    # -- VALUES -------------------------------------------------------------------
    ("values_multi_var",
     'SELECT ?n WHERE { VALUES (?c ?a) { ("Paris" "30") ("London" "25") } '
     "?x ex:city ?c ; ex:age ?a ; ex:name ?n }",
     [("Alice",), ("Bob",)]),
    ("values_undef_wildcard",
     'SELECT ?n WHERE { VALUES (?c ?a) { ("Paris" UNDEF) } '
     "?x ex:city ?c ; ex:age ?a ; ex:name ?n }",
     [("Alice",), ("Dave",)]),
    # r5 review finding: PROJECT the UNDEF-valued var — on the encoded
    # engine a string-NULL/bigint coalesce used to leak raw dictionary ids
    ("values_undef_projected",
     'SELECT ?n ?a WHERE { VALUES (?c ?a) { ("Paris" UNDEF) } '
     "?x ex:city ?c ; ex:age ?a ; ex:name ?n }",
     [("Alice", "30"), ("Dave", "25")]),
    ("subquery_unbound_padded_var_rejoined",
     'SELECT ?n ?a WHERE { { SELECT ?x ?a WHERE { ?x ex:city "Paris" } } '
     "?x ex:age ?a ; ex:name ?n }",
     [("Alice", "30"), ("Dave", "25")]),
    # -- MINUS domain rules --------------------------------------------------------
    ("minus_disjoint_domains_removes_nothing",
     'SELECT ?n WHERE { ?x ex:name ?n MINUS { ?y ex:city "Paris" } }',
     [("Alice",), ("Bob",), ("Carol",), ("Dave",), ("Eve",)]),
    ("minus_shared_var",
     'SELECT ?x WHERE { ?x ex:age "25" MINUS { ?x ex:city "London" } }',
     [("p:dave",)]),
    # -- property path corners --------------------------------------------------
    ("path_inverse_constant",
     "SELECT ?y WHERE { p:carol ^ex:knows ?y }",
     [("p:alice",), ("p:bob",)]),
    ("path_zero_or_one_includes_self",
     "SELECT ?y WHERE { p:alice ex:knows? ?y }",
     [("p:alice",), ("p:bob",), ("p:carol",)]),
    ("path_star_includes_self",
     "SELECT ?y WHERE { p:bob ex:knows* ?y }",
     [("p:bob",), ("p:carol",)]),
    ("path_negated_set",
     "SELECT ?o WHERE { p:eve !(ex:name) ?o }",
     [("Berlin",), ("Person",)]),
    ("path_sequence_then_name",
     "SELECT ?n WHERE { p:alice ex:knows/ex:name ?n }",
     [("Bob",), ("Carol",)]),
    # -- expressions ----------------------------------------------------------------
    ("bind_strlen_then_filter",
     "SELECT ?n ?l WHERE { ?x ex:name ?n BIND(STRLEN(?n) AS ?l) FILTER(?l = 3) }",
     [("Bob", 3), ("Eve", 3)]),
    ("in_operator",
     'SELECT ?n WHERE { ?x ex:name ?n ; ex:city ?c FILTER(?c IN ("Paris", "Berlin")) }',
     [("Alice",), ("Dave",), ("Eve",)]),
    ("coalesce_default",
     'SELECT ?n (COALESCE(?a, "none") AS ?age) WHERE '
     "{ ?x ex:name ?n OPTIONAL { ?x ex:age ?a } }",
     [("Alice", "30"), ("Bob", "25"), ("Carol", "35"), ("Dave", "25"), ("Eve", "none")]),
    ("str_functions_combo",
     'SELECT ?n WHERE { ?x ex:name ?n FILTER(CONTAINS(LCASE(?n), "a") && STRLEN(?n) >= 5) }',
     [("Alice",), ("Carol",)]),
    # -- blank node property lists (r5: [ ... ] desugars to fresh vars) -----
    ("bnpl_subject",
     'SELECT ?n WHERE { [ ex:name ?n ; ex:city "Paris" ] }',
     [("Alice",), ("Dave",)]),
    ("bnpl_object",
     'SELECT ?n WHERE { ?x ex:knows [ ex:name "Carol" ] . ?x ex:name ?n }',
     [("Alice",), ("Bob",)]),
    ("bnpl_nested",
     "SELECT ?n WHERE { [ ex:knows [ ex:knows [ ex:name ?n ] ] ] }",
     [("Carol",)]),
    ("bnpl_anon_subject",
     "SELECT ?n WHERE { [] ex:name ?n ; ex:city ?c FILTER(?c = \"Berlin\") }",
     [("Eve",)]),
    ("bnpl_bare_triple",
     'SELECT ?k WHERE { [ ex:age "30" ; ex:knows ?k ] . }',
     [("p:bob",), ("p:carol",)]),
    # r5 review finding: a group keyword may follow a bare [ ... ] without
    # a dot — it must not be consumed as a predicate
    ("bnpl_then_optional",
     "SELECT ?n ?a WHERE { [ ex:name ?n ; ex:knows ?x ] OPTIONAL { ?x ex:age ?a } }",
     [("Alice", "25"), ("Alice", "35"), ("Bob", "35")]),
    ("union_disjoint_projections",
     "SELECT ?n ?c WHERE { { ?x ex:name ?n } UNION { ?x ex:city ?c } }",
     [("Alice", None), ("Bob", None), ("Carol", None), ("Dave", None), ("Eve", None),
      (None, "Paris"), (None, "London"), (None, "Paris"), (None, "Berlin")]),
    # -- GROUP BY expressions (r6: GroupCondition grammar rule [20]) ----------
    ("group_expr_named",
     "SELECT ?ini (COUNT(*) AS ?n) WHERE { ?x ex:name ?nm } "
     "GROUP BY (SUBSTR(?nm, 1, 1) AS ?ini)",
     [("A", 1), ("B", 1), ("C", 1), ("D", 1), ("E", 1)]),
    ("group_expr_hidden_builtin",
     "SELECT (COUNT(*) AS ?n) WHERE { ?x ex:name ?nm } GROUP BY STRLEN(?nm)",
     [(1,), (2,), (2,)]),
    ("group_expr_mixed_with_var_key",
     "SELECT ?c ?short (COUNT(*) AS ?n) WHERE { ?x ex:city ?c ; ex:name ?nm } "
     "GROUP BY ?c (STRLEN(?nm) < 4 AS ?short)",
     [("Berlin", True, 1), ("London", True, 1), ("Paris", False, 2)]),
    ("group_expr_key_used_in_select_expr",
     'SELECT (CONCAT("grp:", ?ini) AS ?g) (COUNT(*) AS ?n) '
     "WHERE { ?x ex:name ?nm } GROUP BY (SUBSTR(?nm, 1, 1) AS ?ini)",
     [("grp:A", 1), ("grp:B", 1), ("grp:C", 1), ("grp:D", 1), ("grp:E", 1)]),
    ("group_expr_cast_fn_condition",
     "SELECT ?band (COUNT(*) AS ?n) WHERE { ?x ex:age ?a } "
     "GROUP BY (xsd:integer(?a) > 26 AS ?band)",
     [(True, 2), (False, 2)]),
    # -- CONSTRUCT solution modifiers (r6: grammar rule [10]) -----------------
    ("construct_order_limit",
     "CONSTRUCT { ?x ex:n ?n } WHERE { ?x ex:name ?n } ORDER BY ?n LIMIT 2",
     [("p:alice", "ex:n", "Alice"), ("p:bob", "ex:n", "Bob")]),
    ("construct_where_shorthand_offset",
     "CONSTRUCT WHERE { ?x ex:name ?n } ORDER BY ?n OFFSET 3",
     [("p:dave", "ex:name", "Dave"), ("p:eve", "ex:name", "Eve")]),
    ("construct_multi_template_limit",
     "CONSTRUCT { ?x ex:n ?n . ?x a Named } WHERE { ?x ex:name ?n } "
     "ORDER BY ?n LIMIT 2",
     [("p:alice", "ex:n", "Alice"), ("p:alice", "rdf:type", "Named"),
      ("p:bob", "ex:n", "Bob"), ("p:bob", "rdf:type", "Named")]),
    # -- scoping corners (r6) --------------------------------------------------
    ("bind_before_pattern_then_filter",
     'SELECT ?n WHERE { BIND("Alice" AS ?target) ?x ex:name ?n '
     "FILTER(?n = ?target) }",
     [("Alice",)]),
    ("subquery_inner_var_invisible_outside",
     "SELECT ?a WHERE { { SELECT ?x WHERE { ?x ex:age ?a } } }",
     [(None,), (None,), (None,), (None,)]),
    ("union_inside_optional",
     "SELECT ?n ?v WHERE { ?x ex:name ?n OPTIONAL { { ?x ex:city ?v } "
     "UNION { ?x ex:age ?v } } }",
     [("Alice", "Paris"), ("Alice", "30"), ("Bob", "London"), ("Bob", "25"),
      ("Carol", "35"), ("Dave", "Paris"), ("Dave", "25"), ("Eve", "Berlin")]),
    ("order_by_nonprojected_then_limit",
     "SELECT ?n WHERE { ?x ex:name ?n . ?x ex:age ?a } "
     "ORDER BY DESC(xsd:integer(?a)) LIMIT 2",
     [("Carol",), ("Alice",)]),
    ("construct_order_desc_expr_limit",
     "CONSTRUCT { ?x ex:top ?a } WHERE { ?x ex:age ?a . ?x ex:name ?n } "
     "ORDER BY DESC(xsd:integer(?a)) ?n LIMIT 2",
     [("p:carol", "ex:top", "35"), ("p:alice", "ex:top", "30")]),
]


@pytest.mark.parametrize(
    "qid,query,expected", W3C_GOLDENS, ids=[g[0] for g in W3C_GOLDENS]
)
def test_w3c_golden(w3c_engine, qid, query, expected):
    assert bag(w3c_engine.query(query)) == Counter(expected), qid


def test_w3c_agg_projection_restriction_raises(w3c_engine):
    """SPARQL 1.1 §18.2.4.4: a SELECT with GROUP BY may project only
    grouped variables / aggregate expressions — a bare non-grouped
    variable is a syntax-level error, not a silent ANY_VALUE."""
    with pytest.raises((SyntaxError, ValueError)):
        w3c_engine.query(
            "SELECT ?c ?x WHERE { ?x ex:city ?c } GROUP BY ?c"
        ).collect()


def test_w3c_group_by_rejects_aggregate_condition(w3c_engine):
    """SPARQL 1.1 grammar: a GroupCondition is an expression over solution
    variables — an aggregate cannot key the grouping it defines."""
    with pytest.raises(SyntaxError, match="aggregates are not allowed"):
        w3c_engine.query(
            "SELECT (COUNT(*) AS ?c) WHERE { ?x ex:age ?a } "
            "GROUP BY (SUM(?a) AS ?s)"
        )


def test_w3c_group_by_rejects_inscope_reassignment(w3c_engine):
    """SPARQL 1.1 §18.2.1: `GROUP BY (expr AS ?v)` may not reassign a
    variable already in scope — otherwise the bind silently OVERWRITES
    the pattern binding (review r6)."""
    with pytest.raises(SyntaxError, match="reassign"):
        w3c_engine.query(
            "SELECT ?nm (COUNT(*) AS ?c) WHERE { ?x ex:name ?nm } "
            "GROUP BY (STR(?x) AS ?nm)"
        )


def test_w3c_describe_group_by_error_names_describe(w3c_engine):
    with pytest.raises(SyntaxError, match="on DESCRIBE"):
        w3c_engine.query("DESCRIBE ?x WHERE { ?x ex:name ?n } GROUP BY ?n")


def test_w3c_bind_rejects_inscope_reassignment(w3c_engine):
    """§10.1: BIND's target must not already be in scope of the group up
    to the point of use."""
    with pytest.raises(SyntaxError, match="reassigns"):
        w3c_engine.query(
            'SELECT ?n WHERE { ?x ex:name ?n BIND("X" AS ?n) }'
        )
    # ...but the same name is fine when BIND comes FIRST (nothing bound yet)
    out = w3c_engine.query(
        'SELECT ?n WHERE { BIND("Eve" AS ?m) ?x ex:name ?n FILTER(?n = ?m) }'
    )
    assert rows(out) == [("Eve",)]


def test_w3c_select_as_rejects_inscope_reassignment(w3c_engine):
    """§19.8: SELECT (expr AS ?v) must not reassign a pattern variable."""
    with pytest.raises(SyntaxError, match="reassign"):
        w3c_engine.query(
            "SELECT (STRLEN(?n) AS ?n) WHERE { ?x ex:name ?n }"
        )
    with pytest.raises(SyntaxError, match="duplicate SELECT target"):
        w3c_engine.query(
            "SELECT (1 AS ?v) (2 AS ?v) WHERE { ?x ex:name ?n }"
        )


def test_w3c_group_by_requires_condition(w3c_engine):
    with pytest.raises(SyntaxError, match="at least one condition"):
        w3c_engine.query("SELECT ?n WHERE { ?x ex:name ?n } GROUP BY")


def test_w3c_construct_rejects_group_by(w3c_engine):
    with pytest.raises(SyntaxError, match="GROUP BY/HAVING on CONSTRUCT"):
        w3c_engine.query(
            "CONSTRUCT { ?x ex:n ?n } WHERE { ?x ex:name ?n } GROUP BY ?n"
        )


def test_w3c_group_expr_hidden_key_not_projectable(w3c_engine):
    """An unnamed GROUP BY expression shapes the groups but binds no
    user-visible variable — projecting the source var still raises the
    §18.2.4.4 restriction."""
    with pytest.raises((SyntaxError, ValueError)):
        w3c_engine.query(
            "SELECT ?nm (COUNT(*) AS ?n) WHERE { ?x ex:name ?nm } "
            "GROUP BY STRLEN(?nm)"
        ).collect()


def test_w3c_describe_solution_modifiers(w3c_engine):
    """DESCRIBE with ORDER BY/LIMIT (grammar [11]): modifiers slice the
    solution sequence, so only the selected solutions' resources are
    described."""
    out = w3c_engine.query("DESCRIBE ?x WHERE { ?x ex:name ?n } ORDER BY ?n LIMIT 1")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        ("p:alice", "ex:age", "30"), ("p:alice", "ex:city", "Paris"),
        ("p:alice", "ex:knows", "p:bob"), ("p:alice", "ex:knows", "p:carol"),
        ("p:alice", "ex:name", "Alice"), ("p:alice", "rdf:type", "Person"),
    ]


def test_w3c_describe_modifiers_require_where(w3c_engine):
    with pytest.raises(SyntaxError, match="require a WHERE"):
        w3c_engine.query("DESCRIBE p:alice LIMIT 2")


def test_w3c_bnpl_rejected_in_construct_template(w3c_engine):
    with pytest.raises(SyntaxError, match="blank node property list"):
        w3c_engine.query(
            "CONSTRUCT { ?x ex:via [ ex:name ?n ] } WHERE { ?x ex:name ?n }"
        )


def test_w3c_ask_true_false(w3c_engine):
    assert [tuple(r) for r in w3c_engine.query('ASK { ?x ex:city "Paris" }').collect()] == [(True,)]
    assert [tuple(r) for r in w3c_engine.query('ASK { ?x ex:city "Tokyo" }').collect()] == [(False,)]


# --- RDF collections (r5: ( e1 e2 ) desugars to rdf:first/rdf:rest) ---------

LIST_TRIPLES = [
    ("s:menu", "ex:items", "_:l1"),
    ("_:l1", "rdf:first", "a"), ("_:l1", "rdf:rest", "_:l2"),
    ("_:l2", "rdf:first", "b"), ("_:l2", "rdf:rest", "_:l3"),
    ("_:l3", "rdf:first", "c"), ("_:l3", "rdf:rest", "rdf:nil"),
    ("s:empty", "ex:items", "rdf:nil"),
]


@pytest.fixture(scope="module", params=["lexical", "encoded"])
def list_engine(spark, request):
    triples = spark.createDataFrame(LIST_TRIPLES, "s string, p string, o string")
    if request.param == "lexical":
        return SparqlEngine(triples, collect_stats=False)
    d = build_dictionary(triples).cache()
    return EncodedSparqlEngine(encode_triples(triples, d).cache(), d, collect_stats=False)


def test_collection_object_exact_match(list_engine):
    out = list_engine.query('SELECT ?s WHERE { ?s ex:items ( "a" "b" "c" ) }')
    assert rows(out) == [("s:menu",)]
    # the rdf:nil terminator makes the match EXACT-length: a prefix misses
    assert rows(list_engine.query('SELECT ?s WHERE { ?s ex:items ( "a" "b" ) }')) == []


def test_collection_empty_is_nil(list_engine):
    out = list_engine.query("SELECT ?s WHERE { ?s ex:items () }")
    assert rows(out) == [("s:empty",)]


def test_collection_variable_element(list_engine):
    out = list_engine.query('SELECT ?x WHERE { ?s ex:items ( ?x "b" "c" ) }')
    assert rows(out) == [("a",)]


def test_collection_as_subject(list_engine):
    out = list_engine.query('SELECT ?e WHERE { ( "a" "b" "c" ) rdf:first ?e }')
    assert rows(out) == [("a",)]


def test_construct_where_shorthand(w3c_engine):
    """CONSTRUCT WHERE { triples } (SPARQL 1.1 §10.2.3): the pattern
    doubles as the template; equals the explicit two-block form."""
    short = w3c_engine.query('CONSTRUCT WHERE { ?x ex:name ?n ; ex:age ?a }')
    full = w3c_engine.query(
        "CONSTRUCT { ?x ex:name ?n . ?x ex:age ?a } "
        "WHERE { ?x ex:name ?n ; ex:age ?a }"
    )
    assert bag(short) == bag(full) and short.count() == 8
    with pytest.raises(SyntaxError):
        w3c_engine.query("CONSTRUCT WHERE { ?x ex:knows+ ?y }")


# --------- SPARQL 1.1 Update: named graphs + graph management (r6) ----------

QUAD_ROWS = [
    ("s:a", "p:x", "1", "g:one"), ("s:b", "p:x", "2", "g:one"),
    ("s:c", "p:y", "3", "g:two"),
]


@pytest.fixture()
def quad_engine(spark):
    quads = spark.createDataFrame(
        QUAD_ROWS, "s string, p string, o string, g string"
    )
    return SparqlEngine(quads, collect_stats=False)


def qrows(df):
    return sorted(tuple(r) for r in df.collect())


def test_update_insert_delete_data_graph_blocks(quad_engine):
    out = quad_engine.update(
        'INSERT DATA { GRAPH <g:two> { <s:d> <p:y> "4" } '
        'GRAPH <g:one> { <s:a> <p:x> "1" } }'  # existing quad: set no-op
    )
    assert qrows(out) == sorted(QUAD_ROWS + [("s:d", "p:y", "4", "g:two")])
    out2 = SparqlEngine(out, collect_stats=False).update(
        'DELETE DATA { GRAPH <g:two> { <s:d> <p:y> "4" } '
        'GRAPH <g:nine> { <s:zz> <p:zz> "zz" } }'  # absent quad: no-op
    )
    assert qrows(out2) == sorted(QUAD_ROWS)


def test_update_with_modify_scopes_where_and_templates(quad_engine):
    out = quad_engine.update(
        "WITH <g:one> DELETE { ?s <p:x> ?o } INSERT { ?s <p:z> ?o } "
        "WHERE { ?s <p:x> ?o }"
    )
    assert qrows(out) == [
        ("s:a", "p:z", "1", "g:one"), ("s:b", "p:z", "2", "g:one"),
        ("s:c", "p:y", "3", "g:two"),
    ]


def test_update_template_graph_block_with_variable_graph(quad_engine):
    """INSERT { GRAPH ?g {...} } — the graph target is a WHERE-bound
    variable; each solution instantiates into its own graph."""
    out = quad_engine.update(
        'INSERT { GRAPH ?g { ?s <p:tag> "seen" } } '
        "WHERE { GRAPH ?g { ?s <p:x> ?o } }"
    )
    tagged = [r for r in out.collect() if r["p"] == "p:tag"]
    assert sorted((r["s"], r["g"]) for r in tagged) == [
        ("s:a", "g:one"), ("s:b", "g:one"),
    ]


def test_update_graph_management_ops(quad_engine):
    e = quad_engine
    assert qrows(e.update("CLEAR GRAPH <g:one>")) == [("s:c", "p:y", "3", "g:two")]
    assert qrows(e.update("COPY <g:one> TO <g:two>")) == [
        ("s:a", "p:x", "1", "g:one"), ("s:a", "p:x", "1", "g:two"),
        ("s:b", "p:x", "2", "g:one"), ("s:b", "p:x", "2", "g:two"),
    ]
    assert qrows(e.update("MOVE GRAPH <g:one> TO GRAPH <g:three>")) == [
        ("s:a", "p:x", "1", "g:three"), ("s:b", "p:x", "2", "g:three"),
        ("s:c", "p:y", "3", "g:two"),
    ]
    assert qrows(e.update("ADD <g:one> TO <g:two>")) == sorted(
        QUAD_ROWS + [("s:a", "p:x", "1", "g:two"), ("s:b", "p:x", "2", "g:two")]
    )
    assert e.update("DROP ALL").count() == 0
    assert e.update("DROP NAMED").count() == 0
    # CREATE: no empty-graph bookkeeping -> no-op; CLEAR DEFAULT: no
    # default graph modeled -> no-op; src == dst -> no-op
    assert qrows(e.update("CREATE GRAPH <g:new>")) == sorted(QUAD_ROWS)
    assert qrows(e.update("CLEAR DEFAULT")) == sorted(QUAD_ROWS)
    assert qrows(e.update("COPY <g:one> TO <g:one>")) == sorted(QUAD_ROWS)


def test_update_graph_management_errors(quad_engine, spark):
    e = quad_engine
    with pytest.raises(ValueError, match="does not exist"):
        e.update("CLEAR GRAPH <g:nope>")
    assert qrows(e.update("CLEAR SILENT GRAPH <g:nope>")) == sorted(QUAD_ROWS)
    with pytest.raises(ValueError, match="does not exist"):
        e.update("COPY <g:nope> TO <g:two>")
    with pytest.raises(ValueError, match="no default graph"):
        e.update("COPY DEFAULT TO <g:two>")
    with pytest.raises(SyntaxError, match="WITH does not combine"):
        e.update('WITH <g:one> INSERT DATA { <a> <b> "c" }')
    with pytest.raises(SyntaxError, match="USING"):
        e.update(
            "DELETE { ?s ?p ?o } USING <g:one> WHERE { ?s ?p ?o }"
        )
    with pytest.raises(SyntaxError, match="GRAPH inside WHERE"):
        e.update(
            "WITH <g:one> DELETE { ?s ?p ?o } WHERE { GRAPH <g:two> { ?s ?p ?o } }"
        )
    with pytest.raises(ValueError, match="no default graph"):
        # plain template triple on a quad store without WITH
        e.update('INSERT { ?s <p:t> "x" } WHERE { GRAPH <g:one> { ?s <p:x> ?o } }')
    # triple store rejections
    t3 = spark.createDataFrame([("s:a", "p:x", "1")], "s string, p string, o string")
    e3 = SparqlEngine(t3, collect_stats=False)
    with pytest.raises(ValueError, match="no g column"):
        e3.update('INSERT DATA { GRAPH <g:x> { <a> <b> "c" } }')
    with pytest.raises(ValueError, match="no g column"):
        e3.update('WITH <g:x> DELETE { ?s ?p ?o } WHERE { ?s ?p ?o }')
    with pytest.raises(ValueError, match="quad store"):
        e3.update("COPY <g:a> TO <g:b>")
    assert e3.update("CLEAR DEFAULT").count() == 0
    assert e3.update("CLEAR NAMED").count() == 1  # no named graphs: no-op


def test_update_load_into_graph(quad_engine, spark, tmp_path):
    nt = tmp_path / "load.nt"
    nt.write_text('<s:new> <p:x> "9" .\n<s:a> <p:x> "1" .\n')
    out = quad_engine.update(f"LOAD <file://{nt}> INTO GRAPH <g:one>")
    assert qrows(out) == sorted(QUAD_ROWS + [
        ("s:a", "p:x", "1", "g:one"), ("s:new", "p:x", "9", "g:one"),
    ])[1:]  # the duplicate (s:a...) quad inserted once (set semantics)
    # triple store LOAD (default graph)
    t3 = spark.createDataFrame([("s:a", "p:x", "1")], "s string, p string, o string")
    e3 = SparqlEngine(t3, collect_stats=False)
    out3 = e3.update(f"LOAD <file://{nt}>")
    assert sorted(tuple(r) for r in out3.collect()) == [
        ("s:a", "p:x", "1"), ("s:new", "p:x", "9"),
    ]
    # LOAD SILENT of an unreadable document keeps the store
    assert e3.update("LOAD SILENT <file:///nope/missing.nt>").count() == 1
    with pytest.raises(Exception):
        e3.update("LOAD <file:///nope/missing.nt>")


def test_update_load_silent_corrupt_content_keeps_store(spark, tmp_path):
    """advice r6: SILENT must also cover CONTENT-level failures, which
    only surface when the parse executes (malformed *lines* are regexp-
    dropped by design, but a corrupt compressed file raises at read
    time) — the eager checkpoint inside update() forces them into the
    request-time try so the store is kept."""
    t3 = spark.createDataFrame(
        [("s:a", "p:x", "1")], "s string, p string, o string"
    )
    e3 = SparqlEngine(t3, collect_stats=False)
    bad = tmp_path / "bad.nt.gz"  # .gz extension, not actually gzip
    bad.write_bytes(b"definitely not gzip content")
    out = e3.update(f"LOAD SILENT <file://{bad}>")
    assert sorted(tuple(r) for r in out.collect()) == [("s:a", "p:x", "1")]
    # non-SILENT stays lazy: the same corrupt load raises at execution
    with pytest.raises(Exception):
        e3.update(f"LOAD <file://{bad}>").collect()


def test_update_copy_silent_absent_source_is_noop(quad_engine):
    """review r6: COPY/MOVE SILENT of an absent source must leave the
    store unchanged — not execute only the destructive half and wipe the
    destination graph."""
    e = quad_engine
    assert qrows(e.update("COPY SILENT <g:nope> TO <g:one>")) == sorted(QUAD_ROWS)
    assert qrows(e.update("MOVE SILENT <g:nope> TO <g:two>")) == sorted(QUAD_ROWS)


def test_update_load_dedups_within_document(quad_engine, tmp_path):
    nt = tmp_path / "dup.nt"
    nt.write_text('<s:n> <p:x> "9" .\n<s:n> <p:x> "9" .\n')
    out = quad_engine.update(f"LOAD <file://{nt}> INTO GRAPH <g:one>")
    assert out.filter("s = 's:n'").count() == 1


def test_update_delete_where_graph_blocks(quad_engine):
    """DELETE WHERE { GRAPH <g> { ... } } (grammar [40] QuadPattern) —
    including the variable-graph form."""
    out = quad_engine.update("DELETE WHERE { GRAPH <g:one> { ?s <p:x> ?o } }")
    assert qrows(out) == [("s:c", "p:y", "3", "g:two")]
    out2 = quad_engine.update("DELETE WHERE { GRAPH ?g { ?s ?p ?o } }")
    assert out2.count() == 0


def test_update_insert_data_bnodes_fresh_delete_data_bnodes_illegal(engine):
    out = engine.update(
        "INSERT DATA { _:n rdf:type Person }", execution_id="e1"
    )
    out2 = SparqlEngine(out, collect_stats=False).update(
        "INSERT DATA { _:n rdf:type Person }", execution_id="e2"
    )
    # two executions mint two DISTINCT fresh nodes, not a verbatim-label
    # no-op (review r6)
    fresh = [r["s"] for r in out2.filter("p = 'rdf:type' AND o = 'Person'").collect()
             if r["s"].startswith("_:")]
    assert len(fresh) == 2 and len(set(fresh)) == 2
    with pytest.raises(SyntaxError, match="DELETE DATA"):
        engine.update('DELETE DATA { _:n ex:name "x" }')


def test_update_graph_named_like_sentinel_is_not_the_keyword(spark):
    """review r6: a graph literally named <ALL> must not alias the ALL
    keyword — CLEAR GRAPH <ALL> clears that one graph only."""
    quads = spark.createDataFrame(
        [("s:a", "p:x", "1", "ALL"), ("s:b", "p:x", "2", "g:keep")],
        "s string, p string, o string, g string",
    )
    e = SparqlEngine(quads, collect_stats=False)
    out = e.update("CLEAR GRAPH <ALL>")
    assert qrows(out) == [("s:b", "p:x", "2", "g:keep")]
    assert e.update("CLEAR ALL").count() == 0


def test_update_quad_store_with_shuffled_column_order(spark):
    """review r6: ground rows are built (s,p,o,g) — a store whose columns
    arrive in another order must not get its values scrambled."""
    quads = spark.createDataFrame(
        [("g:one", "s:a", "p:x", "1")], "g string, s string, p string, o string"
    )
    e = SparqlEngine(quads, collect_stats=False)
    out = e.update('INSERT DATA { GRAPH <g:two> { <s:b> <p:y> "2" } }')
    got = {(r["s"], r["p"], r["o"], r["g"]) for r in out.collect()}
    assert got == {("s:a", "p:x", "1", "g:one"), ("s:b", "p:y", "2", "g:two")}


# --- r6 translate review fixes ------------------------------------------------


def test_optional_filter_referencing_left_vars(w3c_engine):
    """§18.2.2.5 LeftJoin(A, B, F): a FILTER inside OPTIONAL that
    references A-side variables evaluates over the MERGED solution — it
    used to read them as unbound inside the group and kill every right
    row (review r6)."""
    out = w3c_engine.query(
        "SELECT ?n ?k WHERE { ?x ex:name ?n ; ex:age ?a "
        "OPTIONAL { ?x ex:knows ?k FILTER(xsd:integer(?a) > 26) } }"
    )
    assert bag(out) == Counter([
        ("Alice", "p:bob"), ("Alice", "p:carol"),
        ("Bob", None), ("Carol", None), ("Dave", None),
    ])


def test_optional_over_ground_pattern_that_matches_nothing(w3c_engine):
    """A ground (all-constant) left pattern matching nothing must make
    the whole OPTIONAL empty — the old unit-solution branch returned the
    right side's rows instead (review r6)."""
    ask = w3c_engine.query(
        'ASK { p:alice ex:age "99" OPTIONAL { ?s ex:name ?n } }'
    )
    assert [tuple(r) for r in ask.collect()] == [(False,)]
    ask2 = w3c_engine.query(
        'ASK { p:alice ex:age "30" OPTIONAL { ?s ex:name ?n } }'
    )
    assert [tuple(r) for r in ask2.collect()] == [(True,)]


def test_construct_unbound_template_var_omits_instance(w3c_engine):
    """Solutions with an unbound template variable instantiate nothing
    (but only for THAT pattern); a template variable bound nowhere is
    legal and yields zero instances, not a crash (review r6)."""
    out = w3c_engine.query(
        "CONSTRUCT { ?x ex:n ?n . ?x ex:c ?c } "
        "WHERE { ?x ex:name ?n OPTIONAL { ?x ex:city ?c } }"
    )
    rows_ = [tuple(r) for r in out.collect()]
    assert ("p:carol", "ex:n", "Carol") in rows_  # other pattern survives
    assert not any(v is None for r in rows_ for v in r)  # no NULL terms
    assert len([r for r in rows_ if r[1] == "ex:c"]) == 4  # carol has no city
    empty = w3c_engine.query(
        "CONSTRUCT { ?x ex:y ?nowhere } WHERE { ?x ex:name ?n }"
    )
    assert empty.count() == 0


def test_minus_under_graph_var_disjoint_domains(spark):
    """MINUS inside GRAPH ?g with disjoint USER variable domains removes
    nothing — the hidden g column must not satisfy the overlap rule
    (review r6: it did, and same-graph right matches wiped the left)."""
    quads = spark.createDataFrame(
        [("s:a", "p:x", "1", "g1"), ("s:b", "p:y", "2", "g1"),
         ("s:c", "p:x", "3", "g2")],
        "s string, p string, o string, g string",
    )
    e = SparqlEngine(quads, collect_stats=False)
    out = e.query(
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s <p:x> ?o MINUS { ?c <p:y> ?z } } }"
    )
    assert sorted(tuple(r) for r in out.collect()) == [("g1", "s:a"), ("g2", "s:c")]
    # sanity: an overlapping variable still removes within the same graph
    out2 = e.query(
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s ?p ?o MINUS { ?s <p:y> ?z } } }"
    )
    assert sorted(tuple(r) for r in out2.collect()) == [
        ("g1", "s:a"), ("g2", "s:c")
    ]


def test_contains_slice_detects_limit_under_join():
    """advice r6: the multi-template CONSTRUCT re-execution pin must see a
    LIMIT hiding in a subquery UNDER A JOIN, not only on the child spine —
    the nondeterministic-slice hazard is the same wherever the Slice sits."""
    from d_sparq_spark.plans.parser import parse_sparql
    from d_sparq_spark.plans.translate import Translator

    node = parse_sparql(
        "CONSTRUCT { ?s <p:x> ?o . ?s <p:y> ?o } WHERE "
        "{ { SELECT ?s WHERE { ?s <p:a> ?v } LIMIT 5 } ?s <p:b> ?o }"
    )
    assert Translator._contains_slice(node.child)
    plain = parse_sparql(
        "CONSTRUCT { ?s <p:x> ?o } WHERE { ?s <p:b> ?o }"
    )
    assert not Translator._contains_slice(plain.child)


def test_graph_var_pattern_free_group_single_plan(spark, graph_loops):
    """r7 (VERDICT r6 #4): a pattern-free group under GRAPH ?g binds ?g
    from the store's distinct-g relation as a plain column join — ONE
    plan, no per-graph driver loop (asserted by a spy on the loop),
    on both engines."""
    quads = spark.createDataFrame(
        [("s:a", "p:x", "1", "g:a"), ("s:b", "p:x", "2", "g:b"),
         ("s:c", "p:y", "3", "g:c")],
        "s string, p string, o string, g string",
    )
    engines = [SparqlEngine(quads, collect_stats=False)]
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

    d = build_dictionary(quads)
    engines.append(
        EncodedSparqlEngine(encode_triples(quads, d), d, collect_stats=False)
    )
    before = len(graph_loops)
    for e in engines:
        # empty group: one solution per named graph
        out = e.query("SELECT ?g WHERE { GRAPH ?g {} }")
        assert sorted(r["g"] for r in out.collect()) == ["g:a", "g:b", "g:c"]
        # VALUES-only group: cross product with the graph list
        out2 = e.query(
            'SELECT ?g ?x WHERE { GRAPH ?g { VALUES ?x { "1" "2" } } }'
        )
        assert out2.count() == 6
        # VALUES binding ?g itself: bound rows must name an existing
        # graph; UNDEF rows expand to one row per graph
        out3 = e.query(
            "SELECT ?g ?x WHERE { GRAPH ?g { VALUES (?g ?x) "
            '{ (<g:a> "p") (<g:nope> "q") (UNDEF "r") } } }'
        )
        got = sorted(tuple(r) for r in out3.collect())
        assert got == [
            ("g:a", "p"), ("g:a", "r"), ("g:b", "r"), ("g:c", "r")
        ]
    assert len(graph_loops) == before  # no driver loop engaged


def test_nested_graph_single_plan_both_engines(spark, graph_loops):
    """r8 (VERDICT r7 #7): a nested GRAPH ?h under GRAPH ?g with a
    pattern-bearing child binds BOTH graph variables from quad columns in
    ONE plan — no per-graph driver loop (a spy on the loop pins it), on both
    engines. Before r8 every nested shape fell to the loop, which drops
    the g column and made nested GRAPH raise outright."""
    quads = spark.createDataFrame(
        [("s:a", "p:x", "o:1", "g:a"), ("s:b", "p:x", "o:2", "g:b"),
         ("o:1", "p:y", "o:3", "g:b"), ("s:a", "p:z", "o:4", "g:a")],
        "s string, p string, o string, g string",
    )
    engines = [SparqlEngine(quads, collect_stats=False)]
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

    d = build_dictionary(quads)
    engines.append(
        EncodedSparqlEngine(encode_triples(quads, d), d, collect_stats=False)
    )
    before = len(graph_loops)
    for e in engines:
        # sibling pattern + nested GRAPH ?h: join across graphs on ?o
        out = e.query(
            "SELECT ?g ?h ?s ?o2 WHERE { GRAPH ?g { ?s <p:x> ?o . "
            "GRAPH ?h { ?o <p:y> ?o2 } } }"
        )
        assert sorted(tuple(r) for r in out.collect()) == [
            ("g:a", "g:b", "s:a", "o:3")
        ]
        # nested-only: ?g ranges over ALL named graphs (solutions are
        # independent of the enclosing active graph)
        out2 = e.query("SELECT ?g ?h WHERE { GRAPH ?g { GRAPH ?h { ?s <p:y> ?o } } }")
        assert sorted(tuple(r) for r in out2.collect()) == [
            ("g:a", "g:b"), ("g:b", "g:b")
        ]
        # shadowing GRAPH ?g under GRAPH ?g: same column, natural join
        # implements the spec's same-graph correlation
        out3 = e.query(
            "SELECT ?g ?s WHERE { GRAPH ?g { ?s <p:x> ?o . "
            "GRAPH ?g { ?s <p:z> ?o2 } } }"
        )
        assert sorted(tuple(r) for r in out3.collect()) == [("g:a", "s:a")]
        # nested GRAPH under OPTIONAL: unmatched graphs keep the left row
        out4 = e.query(
            "SELECT ?g ?s ?o2 WHERE { GRAPH ?g { ?s <p:x> ?o . "
            "OPTIONAL { GRAPH ?h { ?o <p:y> ?o2 } } } }"
        )
        assert sorted(tuple(r) for r in out4.collect() ) == [
            ("g:a", "s:a", "o:3"), ("g:b", "s:b", None)
        ]
        # constant graph nested under GRAPH ?g
        out5 = e.query(
            "SELECT ?g WHERE { GRAPH ?g { GRAPH <g:a> { ?s <p:z> ?o } } }"
        )
        assert sorted(r["g"] for r in out5.collect()) == ["g:a", "g:b"]
        # review r8: a nested child BINDING ?g itself (VALUES) must pass
        # the named-graph compatibility rule — a fabricated binding that
        # names no graph yields NOTHING (the guarded route's semi-join),
        # one that names a real graph joins normally
        out6 = e.query(
            "SELECT ?g WHERE { GRAPH ?g { GRAPH ?h { ?s <p:y> ?o "
            'VALUES ?g { "zzz" } } } }'
        )
        assert out6.count() == 0
        out7 = e.query(
            "SELECT ?g WHERE { GRAPH ?g { GRAPH ?h { ?s <p:y> ?o "
            'VALUES ?g { "g:a" } } } }'
        )
        assert sorted(r["g"] for r in out7.collect()) == ["g:a"]
        # review r8: a UNION branch whose store touches all sit under a
        # nested GRAPH leaves ?g NULL before the guard — those rows must
        # expand to one per named graph, per the spec's per-graph union
        out8 = e.query(
            "SELECT ?g ?s WHERE { GRAPH ?g { { ?s <p:z> ?o } UNION "
            "{ GRAPH ?h { ?s <p:y> ?o2 } } } }"
        )
        assert sorted(tuple(r) for r in out8.collect()) == [
            ("g:a", "o:1"), ("g:a", "s:a"), ("g:b", "o:1")
        ]
    assert len(graph_loops) == before  # no driver loop engaged


def test_graph_projecting_subquery_single_plan(spark, graph_loops):
    """r9 (VERDICT r8 #6): a subselect under GRAPH ?g whose SELECT list
    names ?g explicitly projects the hidden quad column (the active
    graph) and stays on the SINGLE-PLAN route — the loop spy stays
    empty on both engines. A COMPUTED alias (expr AS ?g) is an arbitrary
    value and must keep the per-graph loop (the spy sees it), still
    answer-correct under the compatibility rule."""
    quads = spark.createDataFrame(
        [("s:a", "p:x", "o:1", "g:a"), ("s:b", "p:x", "o:2", "g:b"),
         ("o:1", "p:y", "o:3", "g:b"), ("s:a", "p:z", "o:4", "g:a")],
        "s string, p string, o string, g string",
    )
    engines = [SparqlEngine(quads, collect_stats=False)]
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

    d = build_dictionary(quads)
    engines.append(
        EncodedSparqlEngine(encode_triples(quads, d), d, collect_stats=False)
    )
    before = len(graph_loops)
    for e in engines:
        # plain projecting subselect: ?g is the active graph
        out = e.query(
            "SELECT ?g ?s WHERE { GRAPH ?g { "
            "{ SELECT ?g ?s WHERE { ?s <p:x> ?o } } } }"
        )
        assert sorted(tuple(r) for r in out.collect()) == [
            ("g:a", "s:a"), ("g:b", "s:b"),
        ]
        # DISTINCT subselect projecting ?g: per-graph distinct
        out2 = e.query(
            "SELECT ?g ?s WHERE { GRAPH ?g { "
            "{ SELECT DISTINCT ?g ?s WHERE { ?s ?p ?o } } } }"
        )
        assert sorted(tuple(r) for r in out2.collect()) == [
            ("g:a", "s:a"), ("g:b", "o:1"), ("g:b", "s:b"),
        ]
        # ORDER BY + LIMIT subselect projecting ?g: the limit applies PER
        # GRAPH (each graph's dataset evaluated independently)
        out3 = e.query(
            "SELECT ?g ?s WHERE { GRAPH ?g { "
            "{ SELECT ?g ?s WHERE { ?s ?p ?o } ORDER BY ?s LIMIT 1 } } }"
        )
        assert sorted(tuple(r) for r in out3.collect()) == [
            ("g:a", "s:a"), ("g:b", "o:1"),
        ]
    assert len(graph_loops) == before  # no driver loop engaged

    # computed alias (expr AS ?g): stays on the per-graph loop; a value
    # naming no graph yields nothing under the compatibility rule
    for e in engines:
        loops0 = len(graph_loops)
        out4 = e.query(
            "SELECT ?g WHERE { GRAPH ?g { "
            "{ SELECT (STR(?o) AS ?g) WHERE { ?s <p:y> ?o } } } }"
        )
        assert out4.count() == 0
        assert len(graph_loops) > loops0


def test_graph_term_var_optional_right_spec(spark):
    """r9 review find (PRE-EXISTING wrong answer): ?g bound by a pattern
    TERM on the right of an OPTIONAL under GRAPH ?g used to ride the
    single plan, where the scan eagerly equates the term with the quad
    column — an outer-join filter pushdown. Spec (per-graph evaluation +
    graph join): a compatible right match whose ?g names ANOTHER graph
    merges and is then dropped by the graph join — the left row must NOT
    come back NULL-extended. Pinned on both engines; inner-position term
    ?g (the subselect shadow) stays single-plan and spec-equal."""
    quads = spark.createDataFrame(
        [("x1", "ex:a", "y1", "gA"), ("x1", "ex:b", "gB", "gA"),
         ("x2", "ex:a", "y2", "gB"), ("x3", "ex:b", "gA", "gA")],
        "s string, p string, o string, g string",
    )
    engines = [SparqlEngine(quads, collect_stats=False)]
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

    d = build_dictionary(quads)
    engines.append(
        EncodedSparqlEngine(encode_triples(quads, d), d, collect_stats=False)
    )
    for e in engines:
        got = sorted(tuple(r) for r in e.query(
            "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <ex:a> ?y "
            "OPTIONAL { ?x <ex:b> ?g } } }"
        ).collect())
        # gA: x1's OPTIONAL match binds ?g=gB (compatible inside the
        # graph, dropped by the graph join) -> the x1 solution is GONE;
        # gB: x2 has no match -> kept NULL-extended with ?g=gB
        assert got == [("gB", "x2", "y2")], got
        # nested-GRAPH binding inside the OPTIONAL right: same semantics
        got2 = sorted(tuple(r) for r in e.query(
            "SELECT ?g ?x WHERE { GRAPH ?g { ?x <ex:a> ?y "
            "OPTIONAL { GRAPH ?h { ?x <ex:b> ?g } } } }"
        ).collect())
        assert got2 == [("gB", "x2")], got2
        # inner-position term ?g: subject must EQUAL the graph name (no
        # subject here is named gA/gB -> empty), eager equality is the
        # spec's graph join
        assert e.query(
            "SELECT ?g WHERE { GRAPH ?g { { SELECT ?g WHERE "
            "{ ?g <ex:b> ?s } } } }"
        ).count() == 0
    # positive twin: a subject that IS a graph name matches via the same
    # eager equality (inner position)
    quads2 = quads.unionByName(
        spark.createDataFrame([("gA", "ex:x", "v", "gA")],
                              "s string, p string, o string, g string")
    )
    d2 = build_dictionary(quads2)
    for e in (
        SparqlEngine(quads2, collect_stats=False),
        EncodedSparqlEngine(encode_triples(quads2, d2), d2, collect_stats=False),
    ):
        got = sorted(tuple(r) for r in e.query(
            "SELECT ?g ?o WHERE { GRAPH ?g { ?g <ex:x> ?o } }"
        ).collect())
        assert got == [("gA", "v")], got


def test_nested_graph_matches_per_graph_brute_force(spark):
    """The nested-GRAPH single plan against a brute-force evaluation of
    the SPARQL algebra (outer union over named graphs gi of
    Join(eval(D(gi), child), {g -> gi}), inner likewise) on a denser quad
    fixture — the same oracle style the GRAPH fuzz lap uses."""
    rows = []
    for gi in range(4):
        for i in range(6):
            rows.append((f"s:{i}", "p:x", f"o:{(i + gi) % 5}", f"g:{gi}"))
            if i % 2 == 0:
                rows.append((f"o:{i % 5}", "p:y", f"v:{i}", f"g:{(gi + 1) % 4}"))
    quads = spark.createDataFrame(rows, "s string, p string, o string, g string")
    e = SparqlEngine(quads, collect_stats=False)
    got = sorted(
        tuple(r)
        for r in e.query(
            "SELECT ?g ?h ?s ?o ?v WHERE { GRAPH ?g { ?s <p:x> ?o . "
            "GRAPH ?h { ?o <p:y> ?v } } }"
        ).collect()
    )
    # brute force over pandas
    pdf = quads.toPandas()
    graphs = sorted(pdf["g"].unique())
    want = []
    for gi in graphs:
        sl = pdf[pdf["g"] == gi]
        px = sl[sl["p"] == "p:x"]
        for gj in graphs:
            sl2 = pdf[pdf["g"] == gj]
            py = sl2[sl2["p"] == "p:y"]
            for _, a in px.iterrows():
                for _, b in py.iterrows():
                    if a["o"] == b["s"]:
                        want.append((gi, gj, a["s"], a["o"], b["o"]))
    assert got == sorted(want)
    assert len(want) > 0  # vacuity guard


def test_minus_under_graph_var_explicit_g_in_right(spark):
    """The GRAPH variable used EXPLICITLY inside MINUS's right pattern is
    spec-scoped to the MINUS right: within each graph it ranges FREELY
    over matching terms (the {?g -> graph} binding joins in only at the
    Graph node, and MINUS-right bindings never escape), and since the
    left does not mention ?g it is not in dom(mu1) — so a right solution
    overlapping on ?o alone removes the left row even when its free ?g
    binding differs from the enclosing graph (advice r6: the scan used
    to force ?g == graph, wrongly keeping s:b)."""
    quads = spark.createDataFrame(
        [("s:a", "p:x", "o1", "g1"), ("s:b", "p:x", "o2", "g1"),
         ("g1", "p:y", "o1", "g1"), ("s:z", "p:y", "o2", "g1"),
         ("s:c", "p:x", "o1", "g2")],
        "s string, p string, o string, g string",
    )
    query = (
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s <p:x> ?o MINUS { ?g <p:y> ?o } } }"
    )
    e = SparqlEngine(quads, collect_stats=False)
    assert sorted(tuple(r) for r in e.query(query).collect()) == [("g2", "s:c")]
    # encoded-engine parity on the same shape
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

    d = build_dictionary(quads)
    enc = EncodedSparqlEngine(encode_triples(quads, d), d, collect_stats=False)
    assert sorted(tuple(r) for r in enc.query(query).collect()) == [("g2", "s:c")]


def test_minus_under_graph_var_explicit_g_both_sides(spark):
    """?g explicit on BOTH sides of MINUS under GRAPH ?g: the left's ?g
    is pinned to the enclosing graph (the outer Graph join would do it
    anyway), the right's ranges freely, and ?g IS in dom(mu1) ∩ dom(mu2)
    so it participates in compatibility: a right row whose free ?g
    binding differs from the graph is incompatible and removes nothing."""
    quads = spark.createDataFrame(
        [("g1", "p:x", "o1", "g1"), ("s:b", "p:x", "o2", "g1"),
         ("g1", "p:y", "o1", "g1"), ("s:z", "p:y", "o3", "g1"),
         ("g2", "p:x", "o3", "g2"),
         # g3: the right's only candidate binds ?g to a NON-graph term ->
         # incompatible on ?g -> the left row survives
         ("g3", "p:x", "o4", "g3"), ("s:w", "p:y", "o4", "g3")],
        "s string, p string, o string, g string",
    )
    e = SparqlEngine(quads, collect_stats=False)
    out = e.query(
        "SELECT ?g ?o WHERE { GRAPH ?g { ?g <p:x> ?o MINUS { ?g <p:y> ?o } } }"
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        ("g2", "o3"), ("g3", "o4")
    ]


def test_altpath_repeated_endpoint_variable(w3c_engine):
    out = w3c_engine.query("SELECT ?x WHERE { ?x (ex:knows|ex:city) ?x }")
    assert rows(out) == []  # no self-loops in the fixture; must not crash


def test_if_error_condition_is_error(w3c_engine):
    """§17.4.1.2: IF with a type-error condition is itself an error
    (unbound result), not the else branch (review r6)."""
    out = w3c_engine.query(
        "SELECT ?n ?r WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?a } "
        'BIND(IF(xsd:integer(?a) > 26, "old", "young") AS ?r) }'
    )
    assert bag(out) == Counter([
        ("Alice", "old"), ("Bob", "young"), ("Carol", "old"),
        ("Dave", "young"), ("Eve", None),
    ])


def test_lang_of_iri_is_error(w3c_engine):
    """LANG of an IRI is a type error (row dropped in FILTER), not ''."""
    out = w3c_engine.query(
        'SELECT ?k WHERE { ?x ex:knows ?k FILTER(LANG(?k) = "") }'
    )
    assert rows(out) == []  # ex:knows objects are IRIs
    out2 = w3c_engine.query(
        'SELECT ?n WHERE { ?x ex:name ?n FILTER(LANG(?n) = "") }'
    )
    assert out2.count() == 5  # plain literals keep LANG() = ''


def test_string_functions_use_lexical_form(spark):
    """String functions operate on the lexical form of tagged/typed
    literals and rebuild the wrapper on value-returning results
    (review r6: STRLEN('"chat"@en') counted the quotes and tag)."""
    from d_sparq_spark.encoded_engine import EncodedSparqlEngine
    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

    triples = spark.createDataFrame(
        [("s:a", "p:l", '"chat"@en'), ("s:b", "p:l", "cat"),
         ("s:c", "p:l", '"42"^^xsd:int')],
        "s string, p string, o string",
    )
    d = build_dictionary(triples)
    engines = [
        SparqlEngine(triples, collect_stats=False),
        EncodedSparqlEngine(encode_triples(triples, d), d, collect_stats=False),
    ]
    q = (
        "SELECT ?s (STRLEN(?v) AS ?len) (UCASE(?v) AS ?up) "
        '(STRSTARTS(?v, "c") AS ?sc) '
        "WHERE { ?s <p:l> ?v }"
    )
    want = sorted([
        ("s:a", 4, '"CHAT"@en', True),
        ("s:b", 3, "CAT", True),
        ("s:c", 2, '"42"^^xsd:int', False),
    ])
    for eng in engines:
        assert sorted(tuple(r) for r in eng.query(q).collect()) == want


# --- r6 review round 2 ---------------------------------------------------------


def test_min_skips_unbound_solutions(w3c_engine):
    """MIN/MAX ignore solutions where the variable is unbound (review r6
    round 2: the value-order min_by key made MIN return NULL whenever any
    OPTIONAL row missed)."""
    out = w3c_engine.query(
        "SELECT (MIN(?c) AS ?lo) (MAX(?c) AS ?hi) WHERE "
        "{ ?x ex:name ?n OPTIONAL { ?x ex:city ?c } }"
    )
    assert [tuple(r) for r in out.collect()] == [("Berlin", "Paris")]


def test_optional_filter_var_maybe_unbound_inside_but_left_bound(w3c_engine):
    """A filter var that is maybe-unbound INSIDE the group but bound on
    the LEFT merges from the left — the hoist decision must key on the
    left's scope, not the group's (review r6 round 2)."""
    out = w3c_engine.query(
        "SELECT ?n ?k WHERE { ?x ex:name ?n . ?x ex:city ?c "
        "OPTIONAL { ?x ex:knows ?k OPTIONAL { ?k ex:city ?c } "
        'FILTER(?c = "Paris") } }'
    )
    got = {(r["n"], r["k"]) for r in out.collect()}
    # alice (Paris): the carol edge leaves ?c unbound inside, merges
    # Paris from the left, F holds -> kept; the bob edge binds
    # ?c=London, INCOMPATIBLE with the left's Paris -> never joins.
    # bob (London): the merge takes London, F fails -> null-extended.
    assert got == {
        ("Alice", "p:carol"), ("Bob", None), ("Dave", None), ("Eve", None),
    }


def test_optional_filter_hoist_is_order_independent(w3c_engine):
    """A plain outer-var filter hoists regardless of its position
    relative to an EXISTS filter in the same OPTIONAL group (review r6
    round 2: the peel used to STOP at the first EXISTS)."""
    q1 = (
        "SELECT ?n ?k WHERE { ?x ex:name ?n ; ex:age ?a OPTIONAL { "
        "?x ex:knows ?k FILTER(xsd:integer(?a) > 26) "
        "FILTER EXISTS { ?k ex:name ?n2 } } }"
    )
    q2 = (
        "SELECT ?n ?k WHERE { ?x ex:name ?n ; ex:age ?a OPTIONAL { "
        "?x ex:knows ?k FILTER EXISTS { ?k ex:name ?n2 } "
        "FILTER(xsd:integer(?a) > 26) } }"
    )
    a, b = bag(w3c_engine.query(q1)), bag(w3c_engine.query(q2))
    assert a == b
    assert ("Alice", "p:bob") in a and ("Bob", None) in a


def test_select_plain_var_after_as_duplicate_raises(w3c_engine):
    with pytest.raises(SyntaxError, match="duplicate SELECT target"):
        w3c_engine.query("SELECT (1 AS ?v) ?v WHERE { ?x ex:name ?n }")


def test_graph_over_reasoned_quad_store_spec(spark):
    """r10 (VERDICT r9 #8): quad-aware reasoning semantics. An inferred
    triple lives in the NAMED GRAPH its premise came from — rdfs_derive
    rides g through every rule join as a passenger. Rule unarity makes the
    per-graph closures simultaneously exact under GRAPH ?g AND equal, as a
    union, to the closure of the union view (the Jena/rdf4j default-union
    inference semantics) — asserted both ways here, on both engines."""
    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples
    from d_sparq_spark.operators.reasoning import rdfs_entailment

    ont = [
        ("c:Mgr", "rdfs:subClassOf", "c:Emp"),
        ("p:worksAt", "rdfs:domain", "c:Emp"),
        ("p:worksAt", "rdfs:subPropertyOf", "p:affil"),
    ]
    rows = [
        ("s:a", "p:worksAt", "s:acme", "g:hr"),
        ("s:b", "rdf:type", "c:Mgr", "g:crm"),
        ("s:a", "p:likes", "s:b", "g:crm"),
    ]
    quads = spark.createDataFrame(rows, "s string, p string, o string, g string")
    reasoned = rdfs_entailment(quads, ont)

    # spec truth: each entailment under its premise's graph, nothing else
    want = sorted(
        rows
        + [
            ("s:a", "p:affil", "s:acme", "g:hr"),   # rdfs7, premise in g:hr
            ("s:a", "rdf:type", "c:Emp", "g:hr"),   # rdfs2, premise in g:hr
            ("s:b", "rdf:type", "c:Emp", "g:crm"),  # rdfs9, premise in g:crm
        ]
    )
    assert sorted(map(tuple, reasoned.collect())) == want

    # union-view equivalence (rule unarity): dropping g and deduping gives
    # exactly the closure of the union graph
    u = rdfs_entailment(quads.drop("g"), ont)
    assert sorted(map(tuple, reasoned.drop("g").dropDuplicates().collect())) \
        == sorted(map(tuple, u.collect()))

    # GRAPH ?g over the reasoned dataset, both engines
    q = "SELECT ?g ?s WHERE { GRAPH ?g { ?s <rdf:type> <c:Emp> } }"
    expected = [("g:crm", "s:b"), ("g:hr", "s:a")]
    lex = SparqlEngine(reasoned, collect_stats=False)
    assert sorted(map(tuple, lex.query(q).collect())) == expected
    d = build_dictionary(reasoned)
    enc = EncodedSparqlEngine(
        encode_triples(reasoned, d, broadcast_dict=True), d, collect_stats=False
    )
    assert sorted(map(tuple, enc.query(q).collect())) == expected

    # no cross-graph leakage: the g:crm slice holds no s:a entailment
    q2 = 'SELECT ?s WHERE { GRAPH <g:crm> { ?s <rdf:type> <c:Emp> } }'
    assert sorted(r["s"] for r in lex.query(q2).collect()) == ["s:b"]
    assert sorted(r["s"] for r in enc.query(q2).collect()) == ["s:b"]
