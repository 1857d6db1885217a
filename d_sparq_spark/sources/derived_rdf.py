"""Derived RDF triples view over the relational test tables (FIXTURES.md §2).

D-SPARQ's data model is a single logical triples(s, p, o) relation (the
ISWC 2013 paper; SURVEY.md §1.1). To make every RDF operator checkable by
the DuckDB oracle, tests derive a deterministic triples relation from
customer/nation/region; a star query over "c:*" subjects is then exactly a
SQL query over customer, and a path query customer->nation->region is the
3-way relational join.

Numeric literals are rendered with printf('%.2f') on both engines — a bare
double->string cast formats differently in Spark vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d_sparq_spark.sources.tables import load_table

# Predicates: rdf:type, foaf:name, ex:nation, ex:acctbal, ex:mktsegment, ex:region

TRIPLES_SQL = """
SELECT 'c:' || c_custkey AS s, 'rdf:type' AS p, 'Customer' AS o FROM customer
UNION ALL
SELECT 'c:' || c_custkey, 'foaf:name', c_name FROM customer
UNION ALL
SELECT 'c:' || c_custkey, 'ex:nation', 'n:' || c_nationkey FROM customer
UNION ALL
SELECT 'c:' || c_custkey, 'ex:acctbal', printf('%.2f', c_acctbal) FROM customer
UNION ALL
SELECT 'c:' || c_custkey, 'ex:mktsegment', c_mktsegment FROM customer
UNION ALL
SELECT 'n:' || n_nationkey, 'rdf:type', 'Nation' FROM nation
UNION ALL
SELECT 'n:' || n_nationkey, 'foaf:name', n_name FROM nation
UNION ALL
SELECT 'n:' || n_nationkey, 'ex:region', 'r:' || n_regionkey FROM nation
UNION ALL
-- successor chain over nation keys: the multi-hop graph for property-path
-- (p+) tests; its transitive closure is exactly the i<j key pairs.
SELECT 'n:' || n_nationkey, 'ex:next', 'n:' || (n_nationkey + 1)
FROM nation WHERE n_nationkey + 1 IN (SELECT n_nationkey FROM nation)
UNION ALL
SELECT 'r:' || r_regionkey, 'rdf:type', 'Region' FROM region
UNION ALL
SELECT 'r:' || r_regionkey, 'foaf:name', r_name FROM region
"""


def derive_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quad view for named-graph tests (SPARQL GRAPH, B17): each triple is
    assigned to a named graph by its source entity — g:customer / g:nation
    / g:region."""
    t = derive_triples(spark, sf_dir)
    g = (
        F.when(F.col("s").startswith("c:"), "g:customer")
        .when(F.col("s").startswith("n:"), "g:nation")
        .otherwise("g:region")
    )
    return t.withColumn("g", g)


def _cache_key(spark: SparkSession, *parts) -> tuple:
    """(applicationId, *parts): id(spark) can alias a NEW session after the
    old object is garbage-collected (stale hits), and keying on the dead
    session would pin its cached DataFrames forever. Inserting under a new
    application evicts every other application's entries — cached plans of
    a stopped session are unusable anyway."""
    app = spark.sparkContext.applicationId
    for cache in (_CACHE, _ENC_CACHE, _ENC_QUAD_CACHE, _CATALOG_CACHE,
                  _STATS_CACHE):
        for k in [k for k in cache if k[0] != app]:
            del cache[k]
    return (app, *parts)


_CACHE: dict[tuple, DataFrame] = {}


def derive_triples_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """derive_triples + .cache(), memoized per (session, sf_dir): the RDF
    harness queries all start from this view and the driver runs dozens of
    them in one session — deriving and caching once cuts each query's time
    roughly in half. The cached view is ~5 small-dim tables exploded, well
    under executor memory at any test SF."""
    key = _cache_key(spark, sf_dir)
    if key not in _CACHE:
        _CACHE[key] = derive_triples(spark, sf_dir).cache()
    return _CACHE[key]


_ENC_QUAD_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}


def encoded_quad_store_cached(spark: SparkSession, sf_dir: str):
    """(quads_enc, dictionary) for GRAPH-over-encoded-store queries (B17):
    graph names are dictionary terms like any other, so GRAPH slicing is an
    equality filter on a long — partition-prunable if the store is written
    partitionBy('g')."""
    key = _cache_key(spark, sf_dir)
    if key not in _ENC_QUAD_CACHE:
        from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

        quads = derive_quads(spark, sf_dir)
        # localCheckpoint over cache: plan-lineage truncation, same
        # rationale as encoded_store_cached (r12)
        d = build_dictionary(quads).localCheckpoint()
        enc = encode_triples(quads, d, broadcast_dict=True).localCheckpoint()
        _ENC_QUAD_CACHE[key] = (enc, d)
    return _ENC_QUAD_CACHE[key]


def derive_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical triples(s string, p string, o string) from the test tables."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")

    def t(s, p, o):
        return F.struct(s.alias("s"), p.alias("p"), o.alias("o"))

    c_s = F.concat(F.lit("c:"), F.col("c_custkey").cast("string"))
    n_s = F.concat(F.lit("n:"), F.col("n_nationkey").cast("string"))
    r_s = F.concat(F.lit("r:"), F.col("r_regionkey").cast("string"))

    cust = c.select(
        F.explode(
            F.array(
                t(c_s, F.lit("rdf:type"), F.lit("Customer")),
                t(c_s, F.lit("foaf:name"), F.col("c_name")),
                t(c_s, F.lit("ex:nation"), F.concat(F.lit("n:"), F.col("c_nationkey").cast("string"))),
                t(c_s, F.lit("ex:acctbal"), F.format_string("%.2f", F.col("c_acctbal"))),
                t(c_s, F.lit("ex:mktsegment"), F.col("c_mktsegment")),
            )
        ).alias("tr")
    )
    nat = n.select(
        F.explode(
            F.array(
                t(n_s, F.lit("rdf:type"), F.lit("Nation")),
                t(n_s, F.lit("foaf:name"), F.col("n_name")),
                t(n_s, F.lit("ex:region"), F.concat(F.lit("r:"), F.col("n_regionkey").cast("string"))),
            )
        ).alias("tr")
    )
    succ = n.select((F.col("n_nationkey") - 1).alias("_prev"))
    nxt = (
        n.join(succ, n.n_nationkey == succ._prev, "left_semi")
        .select(
            F.explode(
                F.array(
                    t(
                        n_s,
                        F.lit("ex:next"),
                        F.concat(F.lit("n:"), (F.col("n_nationkey") + 1).cast("string")),
                    )
                )
            ).alias("tr")
        )
    )
    reg = r.select(
        F.explode(
            F.array(
                t(r_s, F.lit("rdf:type"), F.lit("Region")),
                t(r_s, F.lit("foaf:name"), F.col("r_name")),
            )
        ).alias("tr")
    )
    return (
        cust.unionByName(nat).unionByName(nxt).unionByName(reg).select("tr.s", "tr.p", "tr.o")
    )


def derive_typed_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-literal variant of the derived view (SURVEY §1.2): customer
    names as @en language-tagged literals, balances as ^^xsd:decimal typed
    literals — the store's inline term syntax (plans/translate.py §typed),
    so lang()/datatype()/typed comparisons are exercised against a
    relational oracle."""
    c = load_table(spark, sf_dir, "customer")
    c_s = F.concat(F.lit("c:"), F.col("c_custkey").cast("string"))

    def t(s, p, o):
        return F.struct(s.alias("s"), p.alias("p"), o.alias("o"))

    return c.select(
        F.explode(
            F.array(
                t(
                    c_s,
                    F.lit("foaf:name"),
                    F.concat(F.lit('"'), F.col("c_name"), F.lit('"@en')),
                ),
                t(
                    c_s,
                    F.lit("ex:bal"),
                    F.concat(
                        F.lit('"'),
                        F.format_string("%.2f", F.col("c_acctbal")),
                        F.lit('"^^xsd:decimal'),
                    ),
                ),
            )
        ).alias("tr")
    ).select("tr.s", "tr.p", "tr.o")


_CATALOG_CACHE: dict[tuple[int, str, str], object] = {}


def catalog_cached(spark: SparkSession, sf_dir: str, flavor: str = "pt"):
    """StoreCatalog (plans/catalog.py) per (session, sf_dir, flavor),
    built over the derived store once and reused by every catalog-routed
    query — materializing alternative layouts is load-time work, same as
    the dictionary. Two flavors because the PT route shadows ExtVP for
    qualifying stars, and the registry wants to demonstrate each:

    - 'pt': property table over the store's functional predicates
      (all of them, in this corpus) — qualifying stars run with 0 joins.
    - 'extvp': in-memory SS/OS semi-join reductions over the customer-star
      predicates — each star pattern scans a reduction instead of the
      full store (e.g. SS(foaf:name, ex:mktsegment) drops the nation and
      region names the join would discard anyway).
    """
    key = _cache_key(spark, sf_dir, flavor)
    if key not in _CATALOG_CACHE:
        from d_sparq_spark.plans.catalog import StoreCatalog

        if flavor not in ("pt", "extvp"):
            raise ValueError(f"catalog_cached: unknown flavor {flavor!r} (pt|extvp)")
        t = derive_triples_cached(spark, sf_dir)
        cat = StoreCatalog()
        if flavor == "pt":
            cat.add_property_table(t)
        else:
            cat.add_extvp(
                t,
                predicates=["foaf:name", "ex:acctbal", "ex:mktsegment", "ex:region"],
            )
        _CATALOG_CACHE[key] = cat
    return _CATALOG_CACHE[key]


def encoded_catalog_cached(spark: SparkSession, sf_dir: str):
    """Property-table StoreCatalog over the ENCODED store: pivot columns
    are str(predicate_id), cell values are object IDs (longs) — the same
    zero-join star route as the lexical PT, but with 8-byte columns, and
    decode stays at the edge as usual (encoded_engine.py)."""
    key = _cache_key(spark, sf_dir, "enc_pt")
    if key not in _CATALOG_CACHE:
        from d_sparq_spark.plans.catalog import StoreCatalog

        enc, _d = encoded_store_cached(spark, sf_dir)
        _CATALOG_CACHE[key] = StoreCatalog().add_property_table(enc)
    return _CATALOG_CACHE[key]


_ENC_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}


def encoded_store_cached(spark: SparkSession, sf_dir: str):
    """(triples_enc, dictionary), dictionary-encoded from the derived view,
    cached per (session, sf_dir) — the encoded engine's harness queries
    share one encode pass the way a real deployment shares one load."""
    key = _cache_key(spark, sf_dir)
    if key not in _ENC_CACHE:
        from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples

        triples = derive_triples_cached(spark, sf_dir)
        # localCheckpoint, NOT cache (r12, guide §7.3/§3.3): .cache()
        # keeps the full derive+encode lineage in the logical plan, so
        # EVERY downstream join/filter re-runs Catalyst analysis over the
        # whole derived-union tree — measured 1.7 s of pure driver-side
        # py4j/analysis per encoded-star call (5 joins x ~200 ms), vs
        # 0.4 s over the checkpoint's LogicalRDD leaf. Same in-session
        # materialization status as the cache (a load-phase artifact the
        # bench warms outside timed regions); plan truncation is the only
        # semantic difference.
        d = build_dictionary(triples).localCheckpoint()
        enc = encode_triples(triples, d, broadcast_dict=True).localCheckpoint()
        _ENC_CACHE[key] = (enc, d)
    return _ENC_CACHE[key]


_STATS_CACHE: dict[tuple, dict] = {}


def planning_stats_cached(spark: SparkSession, sf_dir: str) -> dict:
    """The A7/A11 planning-stats dict {p: (cnt, ndv_s, ndv_o)} over the
    cached derived triples, memoized per (session, sf_dir): the harness
    constructs one engine per query call over the SAME store, and the
    stats aggregation (count + HLL ndv) is identical every time — collect
    once, hand the dict to every engine."""
    key = _cache_key(spark, sf_dir, "stats")
    if key not in _STATS_CACHE:
        from d_sparq_spark.operators.rdf_patterns import _stats_dict, planning_stats

        _STATS_CACHE[key] = _stats_dict(
            planning_stats(derive_triples_cached(spark, sf_dir))
        )
    return _STATS_CACHE[key]


def encoded_planning_stats_cached(spark: SparkSession, sf_dir: str) -> dict:
    """planning_stats_cached twin over the encoded store (keys are
    dictionary ids, not terms)."""
    key = _cache_key(spark, sf_dir, "enc_stats")
    if key not in _STATS_CACHE:
        from d_sparq_spark.operators.rdf_patterns import _stats_dict, planning_stats

        enc, _d = encoded_store_cached(spark, sf_dir)
        _STATS_CACHE[key] = _stats_dict(planning_stats(enc))
    return _STATS_CACHE[key]


def encoded_dict_meta_cached(spark: SparkSession, sf_dir: str) -> tuple:
    """(n_terms, plain) of the cached encoded store's dictionary — the
    two engine-construction probes (broadcast-size count, typed-literal
    plainness take(1)) that a loaded store reads from its manifest and
    the harness's derived store amortizes here (r12, VERDICT r11 #3):
    load-time facts, computed once per (session, sf_dir) like the
    planning stats, handed to every per-call engine."""
    key = _cache_key(spark, sf_dir, "dict_meta")
    if key not in _STATS_CACHE:
        from d_sparq_spark.operators.dictionary import numeric_typed_literal

        _enc, d = encoded_store_cached(spark, sf_dir)
        _STATS_CACHE[key] = (
            d.count(),
            not d.filter(numeric_typed_literal("term")).take(1),
        )
    return _STATS_CACHE[key]
