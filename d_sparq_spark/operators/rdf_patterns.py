"""Triple-pattern scan, star join, path join, predicate statistics
(SURVEY §2.A A4/A5/A6/A7/A11) — the reference engine's core.

D-SPARQ answers a star (all patterns sharing one subject variable) with a
single MongoDB lookup against subject-grouped documents, and chains stars
by pipelining bindings (index nested-loop). Spark-first:

- a triple pattern is a filtered projection of the triples relation
  (constant positions -> pushed-down filters; variable positions ->
  binding columns),
- a star is a chain of self-equi-joins on the subject column; when the
  triple store is bucketed by s the joins are co-partitioned (no shuffle),
- star-to-star (path) joins are ordinary equi-joins on the shared
  variable — Spark's shuffle/broadcast hash join replaces pipelining,
- pattern order within a star is chosen by a greedy join-cardinality
  estimate over predicate count + distinct-subject/object stats (A7
  selectivity reordering driven by the A11 statistics; raw-count order
  when only counts are available); AQE/CBO refine at runtime.

Works identically over lexical (string) and encoded (long) triple stores —
patterns just carry constants of the matching type.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TriplePattern:
    """One SPARQL triple pattern. Strings starting with '?' are variables;
    anything else (str for lexical stores, int for encoded) is a constant."""

    s: object
    p: object
    o: object

    def positions(self):
        return (("s", self.s), ("p", self.p), ("o", self.o))

    def variables(self) -> list[str]:
        return [v[1:] for _, v in self.positions() if _is_var(v)]


def _is_var(term: object) -> bool:
    return isinstance(term, str) and term.startswith("?")


def match_pattern(
    triples: DataFrame, pattern: TriplePattern, graph_var: str | None = None
) -> DataFrame:
    """Bindings of one pattern: filter constants, project variables.

    Repeated variables (e.g. (?x, p, ?x)) become an intra-row equality
    filter, per SPARQL semantics. With ``graph_var`` (GRAPH ?g over a quad
    store) the g column is projected as one more binding — star joins then
    naturally include g in their keys, keeping every pattern of the group
    in the SAME named graph with one plan and zero driver-side graph
    enumeration."""
    df = triples
    positions = list(pattern.positions())
    if graph_var is not None:
        positions.append(("g", "?" + graph_var))
    proj, seen = [], {}
    for pos, term in positions:
        if _is_var(term):
            var = term[1:]
            if var in seen:
                df = df.filter(F.col(pos) == F.col(seen[var]))
            else:
                seen[var] = pos
                proj.append(F.col(pos).alias(var))
        else:
            df = df.filter(F.col(pos) == F.lit(term))
    return df.select(*proj)


def _stats_dict(stats) -> dict:
    """Normalize predicate stats to {p: cnt | (cnt, ndv_s, ndv_o)} —
    accepts the stats DataFrame (ndv columns picked up when present) or an
    already-collected dict (shared by order_by_selectivity and bgp; the
    collect is metadata-scale, bounded by #predicates)."""
    if isinstance(stats, dict):
        return stats
    if {"ndv_s", "ndv_o"} <= set(stats.columns):
        return {
            r["p"]: (r["cnt"], r["ndv_s"], r["ndv_o"])
            for r in stats.select("p", "cnt", "ndv_s", "ndv_o").collect()
        }
    return {r["p"]: r["cnt"] for r in stats.select("p", "cnt").collect()}


def _stat_row(st: dict, p) -> tuple:
    """(cnt, ndv_s | None, ndv_o | None) for one predicate. An absent
    constant predicate means ZERO triples — the most selective pattern
    there is; ordering it first makes the chain trivially empty."""
    v = st.get(p, 0)
    return v if isinstance(v, tuple) else (v, None, None)


def order_by_selectivity(
    patterns: list[TriplePattern], stats: DataFrame | dict | None
) -> list[TriplePattern]:
    """A7 + A11 (VERDICT r7 #5): order patterns to minimize ESTIMATED
    intermediate join cardinalities, not just raw predicate counts.

    With ndv statistics (predicate_stats' distinct-subject/object counts)
    the cost model is a greedy chain estimate over the shared subject key:

    - base cardinality of a pattern = cnt, divided by ndv_o when the
      object is a constant (per-object selectivity) and by ndv_s when the
      subject is (per-subject selectivity);
    - estimated subjects a pattern contributes = min(ndv_s, base card);
    - joining bindings of estimated (R rows, nd subjects) with a pattern
      of (card, ns): R' = R * card / max(nd, ns) — the textbook equi-join
      estimate — then nd' = min(nd, ns);
    - each step greedily adopts the pattern with the smallest R'.

    This beats raw-count order exactly where the r7 verdict said it would:
    a frequent but near-functional predicate (cnt high, cnt/ndv_s ~ 1)
    restricts the chain without fanout, while a mid-count predicate with
    few distinct subjects multiplies rows (tests/test_rdf_units.py pins a
    golden where the two orders disagree and ndv order wins).

    Count-only stats ({p: count} dict, or a stats frame without ndv
    columns) degrade to the original behavior: ascending raw count.
    Patterns with a variable predicate (unknown selectivity) go last in
    both models."""
    if stats is None:
        return list(patterns)
    st = _stats_dict(stats)
    known = [tp for tp in patterns if not _is_var(tp.p)]
    unknown = [tp for tp in patterns if _is_var(tp.p)]
    if not all(_stat_row(st, tp.p)[1] is not None for tp in known):
        big = max((_stat_row(st, p)[0] for p in st), default=0) + 1

        def cost(tp: TriplePattern) -> int:
            return big if _is_var(tp.p) else _stat_row(st, tp.p)[0]

        return sorted(patterns, key=cost)

    ordered, _rows, _subjects = _chain_state(known, st)
    return ordered + unknown


def _chain_state(known: list[TriplePattern], st: dict) -> tuple:
    """The r8 greedy chain model (order_by_selectivity docstring), shared
    with the r9 INTER-star ordering: returns (ordered patterns, estimated
    rows, estimated distinct subjects) for a star chain. Callers guarantee
    every pattern has a constant predicate with ndv stats present."""

    def base(tp: TriplePattern) -> tuple:
        cnt, ndv_s, ndv_o = _stat_row(st, tp.p)
        card, subj = float(cnt), float(max(ndv_s or 0, 1))
        if not _is_var(tp.o):
            card /= max(ndv_o or 0, 1)
        if not _is_var(tp.s):
            card /= max(ndv_s or 0, 1)
            subj = 1.0
        return card, min(subj, max(card, 1.0))

    ordered, remaining = [], list(known)
    rows = subjects = None
    while remaining:
        best = best_est = best_state = None
        for tp in remaining:
            card, ns = base(tp)
            if rows is None:
                est, state = card, (card, ns)
            else:
                est = rows * card / max(subjects, ns, 1.0)
                state = (est, min(subjects, ns))
            if best_est is None or est < best_est:
                best, best_est, best_state = tp, est, state
        ordered.append(best)
        remaining.remove(best)
        rows, subjects = best_state
    return ordered, rows, subjects


def estimate_star(
    patterns: list[TriplePattern], stats: DataFrame | dict | None
) -> tuple | None:
    """(estimated rows, estimated distinct subjects) of a star under the
    chain model — None when the model cannot price it (no stats, ndv
    columns missing, or a variable predicate), in which case callers
    degrade to connectivity order (r9, VERDICT r8 #7)."""
    if stats is None or not patterns:
        return None
    st = _stats_dict(stats)
    if any(_is_var(tp.p) for tp in patterns):
        return None
    if not all(_stat_row(st, tp.p)[1] is not None for tp in patterns):
        return None
    _ordered, rows, subjects = _chain_state(patterns, st)
    return float(rows), float(subjects)


def join_bindings(left: DataFrame, right: DataFrame, how: str = "inner") -> DataFrame:
    """Natural join of two binding tables on their shared variables
    (cross join when none — SPARQL cartesian BGP). With no shared
    variables the ``how`` still matters: OPTIONAL (left_outer) must keep
    every left solution when the right group is EMPTY — a bare crossJoin
    would return zero rows and silently drop the left bindings."""
    shared = sorted(set(left.columns) & set(right.columns))
    if not shared:
        if how == "inner":
            return left.crossJoin(right)
        return left.join(right, F.lit(True), how)
    return left.join(right, on=shared, how=how)


def star_join(
    triples: DataFrame,
    patterns: list[TriplePattern],
    stats: DataFrame | dict | None = None,
    graph_var: str | None = None,
    source_for=None,
) -> DataFrame:
    """Evaluate a subject-star (or any BGP fragment) as a join chain.
    ``source_for(tp) -> DataFrame | None`` lets the planner substitute a
    cheaper relation for one pattern's scan (an ExtVP semi-join reduction,
    plans/catalog.py) — None means scan ``triples``."""
    ordered = order_by_selectivity(patterns, stats)

    def src(tp: TriplePattern) -> DataFrame:
        alt = source_for(tp) if source_for is not None else None
        return alt if alt is not None else triples

    return reduce(
        join_bindings, (match_pattern(src(tp), tp, graph_var) for tp in ordered)
    )


def bgp(
    triples: DataFrame, stars: list[list[TriplePattern]], stats: DataFrame | dict | None = None
) -> DataFrame:
    """Full basic graph pattern: evaluate each star, then chain stars on
    their shared variables (the reference's pipelined inter-star join —
    here a hash join). Stats normalize to a dict ONCE here: passing the
    DataFrame down would re-run the aggregation + collect per star."""
    if stats is not None:
        stats = _stats_dict(stats)
    return reduce(join_bindings, (star_join(triples, star, stats) for star in stars))


def predicate_stats(triples: DataFrame) -> DataFrame:
    """A11: per-predicate count + exact distinct subject/object counts —
    the REPORTING operator (oracled against COUNT(DISTINCT ...) SQL).
    For join ORDERING use planning_stats instead: the optimizer only
    needs the order of magnitude, and the exact distincts triple the
    aggregation's cost (r8: passing this frame to star_join used to be
    free because Catalyst pruned the unselected ndv columns; once the
    ordering started consuming them the exact sort-distinct showed up in
    every stats-passing query's wall clock)."""
    return triples.groupBy("p").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("s").alias("ndv_s"),
        F.countDistinct("o").alias("ndv_o"),
    )


def planning_stats(triples: DataFrame) -> DataFrame:
    """predicate_stats' cheap sibling for the A7 cost model: HLL-sketched
    ndv riding the same single groupBy scan as the count — the shape the
    SPARQL engines collect at construction (engine.py), exposed for
    direct star_join/bgp callers."""
    return triples.groupBy("p").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.approx_count_distinct("s").alias("ndv_s"),
        F.approx_count_distinct("o").alias("ndv_o"),
    )


def property_table(triples: DataFrame, predicates: list) -> DataFrame:
    """Materialize a PROPERTY TABLE: one row per subject, one column per
    predicate in `predicates` (column name = str(predicate)). The closest
    Spark analog of D-SPARQ's subject-grouped MongoDB documents (SURVEY
    §1.2): a subject star over these predicates becomes a single-table
    scan + filter — ZERO joins, fully pushdown-able when persisted as
    parquet. Only valid for functional (single-valued) predicates; for
    multi-valued ones the pivot keeps an arbitrary-but-deterministic
    min value, so restrict `predicates` accordingly."""
    return (
        triples.filter(F.col("p").isin(list(predicates)))
        .groupBy("s")
        .pivot("p", [str(p) for p in predicates])
        .agg(F.min("o"))
    )


def star_over_property_table(
    pt: DataFrame, bindings: dict, subject_var: str = "s", subject_const=None
) -> DataFrame:
    """Answer a subject star from a property table: `bindings` maps
    predicate column -> '?var' (project) or constant (filter). With
    `subject_const` the star's subject is bound: only that subject's row
    is kept and only the object variables are projected (`subject_var`
    is unused). All conditions go into ONE filter: each DataFrame
    operation is a Py4J round trip that re-analyzes the plan."""
    if subject_const is None:
        cols, conds = [F.col("s").alias(subject_var)], []
    else:
        cols, conds = [], [F.col("s") == F.lit(subject_const)]
    for pred, target in bindings.items():
        if isinstance(target, str) and target.startswith("?"):
            cols.append(F.col(pred).alias(target[1:]))
            conds.append(F.col(pred).isNotNull())
        else:
            conds.append(F.col(pred) == F.lit(target))
    out = pt.filter(reduce(lambda a, b: a & b, conds)) if conds else pt
    return out.select(*cols)
