"""StoreCatalog — physical-layout metadata the SPARQL planner consults.

SURVEY.md §4's stance is "plain jobs, not Catalyst rules": the engine may
pre-materialize alternative layouts of the triple store — a PROPERTY TABLE
(one row per subject, one column per functional predicate; the Spark
analog of D-SPARQ's subject-grouped MongoDB documents) and ExtVP semi-join
reductions (S2RDF, VLDB 2016) — and the planner (Translator._bgp) should
*use* them when a query's shape qualifies. This module is the bridge: it
records what was materialized and answers, per star / per pattern, "is
there a cheaper source than the full triples relation?".

Routing rules (correctness first, each guarded by tests):

- Property table: a subject star routes to the PT iff every pattern has a
  constant predicate, all predicates are distinct, covered by the PT, and
  *functional in the data* (single-valued per subject — a pivot keeps one
  value, so multi-valued predicates would silently drop bindings), and
  the subject/objects are plain distinct variables or constants. Result:
  ZERO joins for the star — one scan + filters (a bound subject is one
  filtered row).
- ExtVP: a pattern with constant predicate p1 scans the smallest
  applicable reduction instead of the full store:
    SS(p1,p2) when a same-star peer pattern has constant predicate p2
    OS(p1,p2) when the pattern's object variable is the subject of
              another star containing constant predicate p2
  Semi-join reductions never remove a row that has a join partner, and
  stars/BGP fragments are inner-joined, so substituting a reduction is
  always answer-preserving *within one BGP* (OPTIONAL right-hand sides
  are separate BGPs and get their own routing).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from d_sparq_spark.operators.rdf_patterns import (
    _is_var,
    TriplePattern,
    property_table,
    star_over_property_table,
)



class StoreCatalog:
    def __init__(self) -> None:
        self.ptable: DataFrame | None = None
        self.pt_preds: frozenset = frozenset()
        # (kind, p1, p2) -> (reduction DataFrame, size ratio vs full slice)
        self._extvp: dict[tuple, tuple[DataFrame, float]] = {}

    # ------------- builders -------------

    def add_property_table(
        self,
        triples: DataFrame,
        predicates: list | None = None,
        functional: list | None = None,
        cache: bool = True,
    ) -> "StoreCatalog":
        """Materialize (and by default cache) the property table over the store's
        functional predicates — predicates where no subject has two values,
        checked from the data, because the pivot keeps one value per (s,p)
        and routing a multi-valued predicate through it would drop
        bindings. ``predicates`` narrows the candidate set (hot predicates
        only, the practical choice at 100 TB). ``functional``: the
        functional predicates when the caller knows them exactly (a
        loaded store's stats: count == exact distinct subjects), which
        skips the data check. ``cache=False`` leaves the pivot uncached,
        for a caller that only persists it (one write computes it)."""
        if functional is not None:
            functional = set(functional)
            if predicates is not None:
                functional &= set(predicates)
        else:
            cand = triples
            if predicates is not None:
                # narrow BEFORE the aggregation: the functionality check
                # only needs the candidates' triples, not a full-store pass
                cand = triples.filter(F.col("p").isin(list(predicates)))
            func = (
                cand.groupBy("p")
                .agg((F.count(F.lit(1)) == F.count_distinct("s")).alias("functional"))
                .filter("functional")
            )
            functional = {r["p"] for r in func.select("p").collect()}
        if functional:
            preds = sorted(functional, key=str)
            pt = property_table(triples, preds)
            self.ptable = pt.cache() if cache else pt
            self.pt_preds = frozenset(preds)
        return self

    def add_extvp(
        self,
        triples: DataFrame,
        predicates: list | None = None,
        min_selectivity: float = 0.9,
        cache: bool = True,
    ) -> "StoreCatalog":
        """Compute SS/OS reductions in-memory (cached DataFrames) for every
        ordered predicate pair, keeping genuinely-reducing ones. The
        enumeration/threshold loop is operators.extvp.iter_reductions —
        shared with the parquet materializer so in-memory and loaded
        catalogs can never drift (review r4). At 100 TB use materialize +
        load_extvp (parquet) instead so the build cost is paid once at
        load time, not per session."""
        from d_sparq_spark.operators.extvp import iter_reductions

        for kind, p1, p2, red, ratio in iter_reductions(
            triples, predicates, min_selectivity
        ):
            self._extvp[(kind, p1, p2)] = (red.cache() if cache else red, ratio)
        return self

    def save_property_table(self, store_path: str) -> "StoreCatalog":
        """Persist the PT as parquet + a manifest of its predicates (types
        preserved via JSON: encoded stores carry int predicate ids) — the
        load-pipeline artifact open_store rehydrates the catalog from."""
        if self.ptable is None:
            raise ValueError("no property table materialized")
        os.makedirs(os.path.join(store_path, "ptable"), exist_ok=True)
        self.ptable.write.mode("overwrite").parquet(
            os.path.join(store_path, "ptable", "data")
        )
        with open(os.path.join(store_path, "ptable", "manifest.json"), "w") as f:
            json.dump(sorted(self.pt_preds, key=str), f)
        return self

    def load_property_table(self, spark: SparkSession, store_path: str) -> "StoreCatalog":
        """Reopen a persisted PT: the star route then scans parquet
        directly — pushdown-able filters, no re-pivot, no cache warmup.
        The schema is declared from the manifest (no schema-inference
        job): s plus one column per predicate, all BIGINT on an encoded
        store (integer predicate ids), all STRING on a lexical one."""
        with open(os.path.join(store_path, "ptable", "manifest.json")) as f:
            preds = json.load(f)
        term = LongType() if all(isinstance(p, int) for p in preds) else StringType()
        schema = StructType(
            [StructField("s", term)] + [StructField(str(p), term) for p in preds]
        )
        self.ptable = spark.read.schema(schema).parquet(
            os.path.join(store_path, "ptable", "data")
        )
        self.pt_preds = frozenset(preds)
        return self

    def load_extvp(self, spark: SparkSession, store_path: str) -> "StoreCatalog":
        """Load parquet reductions written by operators.extvp.
        materialize_extvp — the scale path: reductions are computed once at
        load time and the planner scans them straight off parquet (the
        explain plan shows the extvp/ file path, which tests assert on)."""
        manifest = os.path.join(store_path, "extvp", "manifest.json")
        with open(manifest) as f:
            entries = json.load(f)
        from d_sparq_spark.operators.extvp import read_reduction

        for e in entries:
            red = read_reduction(spark, store_path, e["kind"], e["p1"], e["p2"])
            if red is not None:
                self._extvp[(e["kind"], e["p1"], e["p2"])] = (red, e["ratio"])
        return self

    # ------------- planner queries -------------

    def star_from_property_table(
        self, star: list[TriplePattern], graph_var: str | None
    ) -> DataFrame | None:
        """The PT route for one subject star, or None if it doesn't
        qualify: every predicate constant, distinct and in the PT, no
        object variable repeated (nor equal to the subject variable —
        that needs the join form's equality), no GRAPH, and at least two
        patterns (a single pattern saves nothing over its partition-pruned
        VP slice). A variable subject scans the whole PT and binds it; a
        BOUND subject filters the PT to that one row (pushed down as
        ``s = const`` on the parquet scan) and projects only the object
        variables — one lookup instead of one VP scan and join per
        pattern."""
        if self.ptable is None or graph_var is not None or len(star) < 2:
            return None
        subj = star[0].s
        preds = [tp.p for tp in star]
        if any(_is_var(p) for p in preds) or len(set(preds)) != len(preds):
            return None
        if not set(preds) <= self.pt_preds:
            return None
        bindings: dict = {}
        seen_vars = {subj} if _is_var(subj) else set()
        for tp in star:
            if _is_var(tp.o):
                if tp.o in seen_vars:  # repeated var: needs the join form
                    return None
                seen_vars.add(tp.o)
            bindings[str(tp.p)] = tp.o
        if _is_var(subj):
            return star_over_property_table(self.ptable, bindings, subj[1:])
        return star_over_property_table(self.ptable, bindings, subject_const=subj)

    def pattern_source(
        self,
        tp: TriplePattern,
        ss_peers: set,
        os_peers: set,
    ) -> DataFrame | None:
        """Smallest applicable ExtVP reduction for one pattern (by
        materialization-time size ratio), or None -> scan the full store.
        ``ss_peers``: constant predicates of same-star sibling patterns;
        ``os_peers``: constant predicates of the star whose subject is this
        pattern's object variable."""
        if _is_var(tp.p):
            return None
        best: tuple[DataFrame, float] | None = None
        for p2 in ss_peers:
            hit = self._extvp.get(("ss", tp.p, p2))
            if hit and (best is None or hit[1] < best[1]):
                best = hit
        for p2 in os_peers:
            hit = self._extvp.get(("os", tp.p, p2))
            if hit and (best is None or hit[1] < best[1]):
                best = hit
        return best[0] if best else None
