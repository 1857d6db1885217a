"""Physical-plan assertions (SURVEY.md §5.5): the 100 TB properties that
don't show up in correctness tests — filters pushed to parquet scans,
column pruning, dims broadcast, top-k as TakeOrderedAndProject, and no
accidental cartesian products anywhere in the harness.
"""

import pytest

from d_sparq_spark import registry

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = registry.all_queries()[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dims_and_pushes_filters(spark):
    plan = plan_of(spark, "q_flagship")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan
    # the date filters must reach the scans
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "CartesianProduct" not in plan


def test_filter_pred_pushdown(spark):
    plan = plan_of(spark, "q_filter_pred")
    assert "PushedFilters" in plan
    assert "In(c_mktsegment" in plan


def test_projection_prunes_read_schema(spark):
    plan = plan_of(spark, "q_project")
    # only the 4 needed columns of part should be read
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_name" not in read_schema
    assert "p_retailprice" in read_schema


def test_topk_is_take_ordered(spark):
    plan = plan_of(spark, "q_topk")
    assert "TakeOrderedAndProject" in plan


def test_broadcast_join_chain(spark):
    plan = plan_of(spark, "q_join_broadcast")
    assert plan.count("BroadcastHashJoin") >= 2


@pytest.mark.parametrize(
    "name", sorted(n for n in registry.all_queries() if n != "q_join_cross")
)
def test_no_accidental_cartesian(spark, name):
    # q_join_cross is the one deliberate cross join; everything else must
    # never plan a cartesian/BNLJ-without-condition.
    if name in ("q_stream_tumbling",):
        pytest.skip("streaming query — plan inspected via its batch twin")
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan[:2000]}"


def test_tpch_q5_broadcast_chain(spark):
    plan = plan_of(spark, "q_tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier/nation/region never shuffle the fact
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "CartesianProduct" not in plan


def test_contamination_broadcasts_benchmark_side(spark):
    # the benchmark shingle set must broadcast — a corpus-sized shuffle on
    # the shingle key is the 100 TB failure mode this op is shaped to avoid
    plan = plan_of(spark, "q_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_no_global_sort(spark):
    # packing works per lang stratum: the window must hash-partition on
    # lang, never a single-partition global sort
    plan = plan_of(spark, "q_pack_sequences")
    assert "hashpartitioning(lang" in plan
    assert "SinglePartition" not in plan


def test_salted_join_no_shuffle_on_big_side(spark):
    # the whole point of the salted broadcast join: customer never shuffles
    plan = plan_of(spark, "q_join_salted")
    assert "BroadcastHashJoin" in plan
    before_agg = plan.split("HashAggregate")[-1]  # below the agg = the join
    assert "Exchange hashpartitioning(nk" not in before_agg


def test_sparql_engine_plan_pushes_predicate_constants(spark):
    from d_sparq_spark.engine import SparqlEngine
    from d_sparq_spark.sources.derived_rdf import derive_triples

    eng = SparqlEngine(derive_triples(spark, SF))
    plan = eng.explain('SELECT ?c WHERE { ?c ex:mktsegment "BUILDING" }')
    # constant positions must become real filters, not post-hoc selection
    assert "BUILDING" in plan
    assert "Filter" in plan


def test_graph_const_prunes_partitioned_quad_store(spark, tmp_path):
    """GRAPH <const> over a partitionBy('g') quad store must become a
    PARTITION filter — the named-graph analog of the VP predicate index:
    a 10k-graph store reads exactly one directory."""
    from d_sparq_spark.engine import SparqlEngine
    from d_sparq_spark.sources.derived_rdf import derive_quads

    path = str(tmp_path / "quads_by_g")
    derive_quads(spark, SF).write.partitionBy("g").parquet(path)
    store = spark.read.parquet(path)
    df = SparqlEngine(store, collect_stats=False).query(
        'SELECT ?name WHERE { GRAPH "g:nation" { ?n foaf:name ?name } }'
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "g#" in pf and "g:nation" in pf, pf
    assert df.count() == 25


def test_propset_scan_partition_prunes_vp_store(spark, tmp_path):
    """A positive property-set scan (p IN (...)) over the partitionBy('p')
    VP store must prune to the named predicate directories — the Spark
    equivalent of D-SPARQ's MongoDB predicate index."""
    from pyspark.sql import functions as F

    from d_sparq_spark.operators.dictionary import build_dictionary, encode_triples
    from d_sparq_spark.sources.triple_store import read_vp, write_vp

    triples = spark.createDataFrame(
        [("a", "ex:p", "b"), ("a", "ex:q", "c"), ("b", "ex:r", "d")],
        "s string, p string, o string",
    )
    d = build_dictionary(triples)
    enc = encode_triples(triples, d)
    path = str(tmp_path / "vp")
    write_vp(enc, path)
    ids = [r["id"] for r in d.filter(F.col("term").isin("ex:p", "ex:q")).collect()]
    df = read_vp(spark, path).filter(F.col("p").isin(*ids))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "p#" in pf and "IN" in pf.upper()


def test_r3_additions_partition_their_windows(spark):
    """The round-3 sampling/ngram operators must keep their windows
    partitioned by the stratum key — never a SinglePartition global
    window (the row_number-over-everything scale killer)."""
    for name in ("q_sample_stratified", "q_ngram_topk"):
        plan = plan_of(spark, name)
        assert "SinglePartition" not in plan, name
        assert "Window" in plan, name


def test_tpch_q3_take_ordered_and_pushdown(spark):
    plan = plan_of(spark, "q_tpch_q3")
    # top-10 must be per-partition top-k + driver merge, not a global sort
    assert "TakeOrderedAndProject" in plan
    # both date filters reach the scans
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan


def test_tpch_q18_filters_before_join(spark):
    plan = plan_of(spark, "q_tpch_q18")
    # one lineitem aggregation pass: the HAVING-style threshold runs on the
    # aggregate, never via a second scan / self-semi-join of lineitem
    assert plan.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_bucketed_fact_fact_join_has_no_shuffle(spark, tmp_path):
    """The relational analogue of the bucketed triple store: orders and
    lineitem bucketed on the SAME key with the same bucket count join
    with ZERO Exchange on either side — at 100 TB this is the one lever
    that removes the fact-fact shuffle entirely (bucket count sized so a
    bucket pair fits an executor). Broadcast disabled to force the
    co-located sort-merge path."""
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).format("parquet").saveAsTable("t_orders_bkt")
    lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).format("parquet").saveAsTable("t_lineitem_bkt")
    o = spark.table("t_orders_bkt")
    li = spark.table("t_lineitem_bkt")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the only Exchange allowed is the post-join groupBy partial agg
        pre_join = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in pre_join, f"bucketed join shuffled an input:\n{plan}"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_orders_bkt")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_bkt")


def test_tpch_q10_broadcasts_nation_after_reduction(spark):
    plan = plan_of(spark, "q_tpch_q10")
    # the 25-row nation joins AFTER the per-customer aggregate
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Equals(l_returnflag,R)" in plan.replace(" ", "") or "l_returnflag" in plan.split("PushedFilters")[1].splitlines()[0]


def test_vocab_coverage_topk_is_take_ordered(spark):
    plan = plan_of(spark, "q_vocab_coverage")
    # the global top-5000 must be per-partition top-k + driver merge
    assert "TakeOrderedAndProject" in plan


def test_tpch_q6_pure_scan_filter_agg(spark):
    """r4: Q6's whole value is pushdown — every predicate reaches the
    parquet scan and the plan has no join and only the final single-row
    aggregation exchange."""
    plan = plan_of(spark, "q_tpch_q6")
    # the PushedFilters list is truncated in toString — assert the scan
    # carries the not-null + shipdate filters (the rest is cut mid-token)
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)" in plan
    assert "GreaterThanOrEqual(l_shipda" in plan
    assert "Join" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_tpch_q4_exists_is_semi_join(spark):
    plan = plan_of(spark, "q_tpch_q4")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q17_broadcasts_reduced_part_dim(spark):
    plan = plan_of(spark, "q_tpch_q17")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(p_brand,Brand#4)" in plan  # filter at the part scan


def test_tpch_q21_single_orderkey_shuffle_shape(spark):
    plan = plan_of(spark, "q_tpch_q21")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # supplier dim broadcasts


# ---- r4 TPC-H completion (tpch_rest.py): the suite's signature plan shapes ----


def test_tpch_q1_single_pass_aggregate(spark):
    """Q1 is one scan-side partial aggregate: shipdate pushed to the scan,
    all 8 aggregates in the same HashAggregate, no join anywhere."""
    plan = plan_of(spark, "q_tpch_q1")
    assert "LessThanOrEqual(l_shipdate" in plan  # pushed to parquet
    assert "Join" not in plan
    assert plan.count("partial_sum") >= 4  # map-side combine carries the sums


def test_tpch_q19_derives_single_side_pushdowns(spark):
    """The disjunctive bracket is a join residual, but Catalyst must derive
    the per-side implications and push them: quantity bounds to the
    lineitem scan, brand/size union to the part scan, part broadcast."""
    import re

    plan = plan_of(spark, "q_tpch_q19")
    assert "BroadcastHashJoin" in plan
    # plan toString truncates PushedFilters mid-token — prefix/regex match
    assert "Or(Or(And(GreaterThanOrEqua" in plan  # derived quantity disjunction
    assert re.search(r"p_brand#\d+ = Brand#12", plan)  # derived filter at part scan


def test_tpch_q2_takeordered_and_broadcast_dims(spark):
    plan = plan_of(spark, "q_tpch_q2")
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(p_size,8)" in plan  # part filtered at its scan
    assert "BroadcastHashJoin" in plan  # reduced part + EU supplier dims


def test_tpch_q16_not_in_is_broadcast_anti_join(spark):
    plan = plan_of(spark, "q_tpch_q16")
    assert "LeftAnti" in plan
    assert "LessThan(s_acctbal,0.0)" in plan  # blacklist filtered at its scan


def test_tpch_q22_anti_join_and_scalar_broadcast(spark):
    plan = plan_of(spark, "q_tpch_q22")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # recent-orders filter pushed
    # the 1-row average joins via broadcast, never a shuffled cartesian
    assert "CartesianProduct" not in plan


def test_tpch_q7_nation_filters_cut_facts_before_fact_join(spark):
    """Both nation filters must reach the fact sides through the broadcast
    dim joins BEFORE the lineitem/orders join."""
    import re

    plan = plan_of(spark, "q_tpch_q7")
    assert plan.count("BroadcastHashJoin") >= 3
    # dim filtered at its scan (DataFilters spelling; PushedFilters truncates)
    assert re.search(r"n_name#\d+ IN \(NATION_20,NATION_11\)", plan)


# --- broadcast independence (r5, VERDICT r4 #6) -----------------------------
#
# Several earlier plan asserts implicitly ride on sf0.001-sized sides
# AUTO-broadcasting. At 100 TB nothing auto-broadcasts — the only joins
# that may broadcast are the ones the operators hint EXPLICITLY (k-row
# centroids, driver-computed offsets, VALUES/ground tuples, reduced dims).
# This lap disables autoBroadcastJoinThreshold and asserts the hinted
# joins still broadcast.

_HINTED = [
    # query -> minimum explicitly-hinted BroadcastHashJoin/NestedLoop count
    ("q_flagship", 1),        # nation dim is the one EXPLICIT hint in q_flagship
                              # (the r5 blackout lap showed customer/orders
                              # auto-broadcast at sf0.001 — exactly the implicit
                              # reliance this lap exists to separate out)
    ("q_kmeans", 1),          # k-row centroid crossJoin (similarity.py:522)
    ("q_ivf_recall", 1),      # centroid probe + exact-topk broadcast query side
    ("q_cosine_topk", 1),     # broadcast query block (similarity.py:59)
    ("q_join_broadcast", 1),  # the explicit broadcast-join coverage query
    ("q_join_salted", 1),     # salted skew join broadcasts the replicated small side
    ("q_dict_encode", 0),     # dictionary rank: offsets broadcast (BroadcastExchange)
]


@pytest.mark.parametrize("name,min_bcast", [(n, m) for n, m in _HINTED])
def test_hinted_joins_survive_broadcast_blackout(spark, name, min_bcast, monkeypatch):
    # force the DISTRIBUTED plans: below their size gates the driver
    # fast paths (kmeans/ivf centroids, dictionary rank) return local
    # relations with no joins at all — this lap guards the hinted
    # broadcasts of the at-scale plans, so scale every driver gate to 0.
    monkeypatch.setenv("D_SPARQ_DRIVER_GATE_SCALE", "0")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    n_b = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
    assert n_b >= min_bcast, f"{name}: hinted broadcasts vanished under -1:\n{plan[:2000]}"
    # the offsets/centroids exchanges must still be broadcast-mode
    if name in ("q_dict_encode", "q_kmeans", "q_ivf_recall"):
        assert "BroadcastExchange" in plan


def test_blackout_does_not_broadcast_unhinted_fact_join(spark):
    """Counter-probe: with auto-broadcast off, a plain fact join (no hint)
    must NOT broadcast — proves the lap above is measuring the hints, not
    a conf leak."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.read.parquet(f"{SF}/orders.parquet")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        plan = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_graph_var_join_stays_hash_join(spark):
    """r5: inside GRAPH ?g two groups sharing ONLY the hidden graph
    binding must still hash-join on g — certain_vars can't see the
    translator-projected column, so _join_compat special-cases it; a
    demotion to a residual condition would plan a nested loop."""
    from d_sparq_spark.engine import SparqlEngine
    from d_sparq_spark.sources.derived_rdf import derive_quads

    store = derive_quads(spark, SF)
    df = SparqlEngine(store, collect_stats=False).query(
        "SELECT ?g ?n ?c WHERE { GRAPH ?g { { ?x foaf:name ?n } "
        '{ ?y ex:mktsegment ?c } } }'
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert df.count() > 0


def test_ast_walk_and_pattern_terms_reach_every_nested_part():
    """plans/ast.py's shared walks: ``walk`` reaches the EXISTS group,
    both sides of every binary node, the GRAPH group and the subquery;
    ``pattern_terms`` returns the constants nested in a closure's inner
    path, in an alternative branch and in a negated ^-member."""
    from d_sparq_spark.plans import ast as A
    from d_sparq_spark.plans.parser import parse_sparql

    tree = parse_sparql(
        "SELECT ?x ?n WHERE { ?x ex:name ?n "
        "OPTIONAL { ?x ex:age ?a } "
        "{ ?x ex:city ?c } UNION { ?x ex:zip ?c } "
        'MINUS { ?x ex:banned "yes" } '
        "FILTER EXISTS { ?x ex:knows ?y } "
        "GRAPH ?g { ?x ex:tag ?t } "
        "{ SELECT ?x WHERE { ?x ex:score ?s } LIMIT 5 } }"
    )
    nodes = list(A.walk(tree))
    seen = {id(n) for n in nodes}
    assert len(seen) == len(nodes)  # each node visited once
    kinds = {type(n) for n in nodes}
    assert {A.Join, A.LeftJoin, A.Union, A.Minus, A.Graph, A.Slice} <= kinds
    binary = [n for n in nodes if isinstance(n, (A.Join, A.LeftJoin, A.Union, A.Minus))]
    assert len(binary) >= 5
    for n in binary:
        assert id(n.left) in seen and id(n.right) in seen
    (exists,) = [
        n for n in nodes
        if isinstance(n, A.Filter) and isinstance(n.expr, A.ExistsExpr)
    ]
    assert id(exists.expr.group) in seen
    preds = {
        tp.p for n in nodes if isinstance(n, A.BGP) for tp in n.patterns
    }
    assert {
        "ex:name", "ex:age", "ex:city", "ex:zip", "ex:banned",
        "ex:knows", "ex:tag", "ex:score",
    } <= preds

    paths = parse_sparql(
        "SELECT * WHERE { ?s (ex:a/ex:b)+ ?o . ?s (ex:c|ex:d/ex:e) ?z . "
        "?s !(ex:f|^ex:h) ?w }"
    )
    pats = {
        type(p): p
        for n in A.walk(paths) if isinstance(n, A.BGP) for p in n.patterns
    }

    def consts(p):
        return {t for t in A.pattern_terms(p) if not t.startswith("?")}

    assert consts(pats[A.ClosurePattern]) == {"ex:a", "ex:b"}
    assert consts(pats[A.AltPath]) == {"ex:c", "ex:d", "ex:e"}
    assert consts(pats[A.PropSetPattern]) == {"ex:f", "ex:h"}
    assert pats[A.PropSetPattern].inv_preds == ("ex:h",)
