"""EncodedSparqlEngine — SPARQL over the dictionary-encoded triple store.

This mirrors D-SPARQ's actual execution model (SURVEY.md §3 entry 2): the
store holds 64-bit IDs, queries are rewritten term->ID up front, all joins
run on longs (at 100 TB: 8-byte shuffle keys instead of strings — smaller
exchanges, faster hashing), and only the final bindings are decoded.

Execution plan per query:
1. parse (shared parser),
2. collect the query's constant terms (bounded by QUERY size, not data)
   and look up their IDs (operators/dictionary.lookup_ids: a driver read
   of the dictionary files of a local store, else one filtered scan),
3. rewrite pattern/path constants to IDs; a constant absent from the
   dictionary means zero matches — replaced by an impossible ID,
4. evaluate the structural algebra (BGP/joins/OPTIONAL/UNION/MINUS/paths)
   over the encoded store,
5. decode binding columns via broadcast dict joins,
6. apply value-level operations (FILTER expressions, BIND, aggregates,
   ORDER BY, projection expressions) on the DECODED values — so literal
   comparisons/regex behave exactly as in the lexical engine.

Step 6's split is computed from the algebra tree: the structural prefix
(patterns/joins) runs encoded; the first value-level node becomes the
decode boundary. Queries that are pure structure (SELECT of variables
over a BGP) therefore never touch a string until the final decode.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d_sparq_spark.gates import DICT_BROADCAST_MAX_TERMS
from d_sparq_spark.localdata import arrow_df
from d_sparq_spark.operators.dictionary import (
    decode_columns,
    decode_triples,
    lookup_ids,
    numeric_typed_literal,
)
from d_sparq_spark.operators.rdf_patterns import (
    TriplePattern,
    _is_var,
    _stats_dict,
    planning_stats,
)
from d_sparq_spark.plans import ast as A
from d_sparq_spark.plans.parser import parse_sparql
from d_sparq_spark.plans.translate import Translator

_MISSING_ID = -(2**62)  # never assigned by the dictionary (ids are >= 1)

_STRUCTURAL = (A.BGP, A.Join, A.LeftJoin, A.Union, A.Minus, A.Values, A.Graph)


def _subst_expr_vars(e, mapping: dict):
    """Rewrite Var(v) -> Var(mapping[v]) throughout an expression tree
    (frozen dataclasses: rebuilds the changed spine)."""

    def sub(e):
        if isinstance(e, A.Var):
            return A.Var(mapping[e.name]) if e.name in mapping else e
        if isinstance(e, A.BinOp):
            right = (
                [sub(i) for i in e.right]
                if isinstance(e.right, (list, tuple))
                else sub(e.right)
            )
            return A.BinOp(e.op, sub(e.left), right)
        if isinstance(e, A.UnOp):
            return A.UnOp(e.op, sub(e.operand))
        if isinstance(e, A.FuncCall):
            return A.FuncCall(e.name, tuple(sub(a) for a in e.args))
        if isinstance(e, A.Aggregate) and e.arg is not None:
            return replace(e, arg=sub(e.arg))
        return e

    return sub(e)


class _EncodedTranslator(Translator):
    """Translator over the ID-encoded store that can evaluate value-level
    FILTERs nested INSIDE the structural tree (under OPTIONAL / UNION /
    MINUS / GRAPH / EXISTS groups) without decoding the whole store: the
    referenced variables get SHADOW lexical columns via one broadcast dict
    join each, the expression runs over the shadows, and the shadows are
    dropped — bindings stay encoded for every surrounding join. This is
    the column-pruned replacement for the old decode-everything fallback
    (round-2 VERDICT item 3)."""

    # shared-variable bindings are dictionary ids — compatibility merges
    # reconcile toward the id type, never string (Translator._ID_TYPED doc)
    _ID_TYPED = True

    def __init__(
        self,
        *args,
        dictionary: DataFrame | None = None,
        dict_broadcast_ok=None,
        bind_cols: set | None = None,
        value_order_safe=None,
        **kwargs,
    ):
        super().__init__(*args, **kwargs)
        self.dictionary = dictionary
        # zero-arg size gate supplied by the engine; the bare default is
        # NO hint (AQE picks) — defaulting to broadcast would reintroduce
        # the driver-OOM footgun for any direct construction that forgets
        # the kwarg (review r4)
        self.dict_broadcast_ok = dict_broadcast_ok or (lambda: False)
        # zero-arg probe: True when decode(min(id)) == min(term) (rank-
        # ordered dictionary with no numeric typed literals) — gates the
        # nested MIN/MAX-over-ids path. Defaults closed, like the
        # broadcast gate above.
        self.value_order_safe = value_order_safe or (lambda: False)
        # output columns produced by nested BIND — LEXICAL values the
        # engine's final decode must skip (a numeric BIND result is
        # bigint-typed; decoding it against the dictionary would null it
        # out). Shared with spawned sub-translators, read by the engine.
        self.bind_cols: set = bind_cols if bind_cols is not None else set()

    def _spawn(self, triples, stats, graph_var=None, quad_store=None):
        return _EncodedTranslator(
            triples, stats, services=self.services, graph_var=graph_var,
            dictionary=self.dictionary, dict_broadcast_ok=self.dict_broadcast_ok,
            pin_cache=self._pinned, bind_cols=self.bind_cols,
            value_order_safe=self.value_order_safe, quad_store=quad_store,
        )

    def eval(self, node) -> DataFrame:
        if isinstance(node, A.Bind):
            # nested BIND via shadow columns: the value is computed over
            # lexical shadows, the bindings stay encoded for every
            # surrounding join. Only reachable for binds _check_structural
            # proved never feed an ID join.
            child = self.eval(node.child)
            src, (e,) = self._shadowed(child, [node.expr])
            out = src.withColumn(node.var, self.expr(e, src))
            if src is not child:
                out = out.select(*child.columns, node.var)
            self.bind_cols.add(node.var)
            return out
        if isinstance(node, A.Group):
            # Nested aggregates over the encoded store. Per aggregate, the
            # cheapest sound route:
            # - COUNT(*/var): ids preserve multiplicity and boundness —
            #   runs over ids, output a plain long (bind_cols).
            # - MIN/MAX(var) over an id column when the engine's
            #   value_order_safe() probe passes (rank-ordered dictionary,
            #   no numeric typed literals): min(id) IS the id of
            #   min(term) — runs over ids and the output stays a genuine
            #   dictionary id (it may feed later ID joins and decodes
            #   with the other bindings).
            # - everything else (SUM/AVG/GROUP_CONCAT/SAMPLE, expression
            #   args, MIN/MAX without the order guarantee): the shadow-
            #   decode device of nested BIND/FILTER — aggregate the
            #   lexical shadows with the base translator's value
            #   semantics, output is a lexical value (bind_cols).
            #   Grouping keys stay ids either way (the dictionary is a
            #   bijection, so groups and multiplicities are identical).
            child = self.eval(node.child)
            dtypes = dict(child.dtypes)

            def _is_id(v: str) -> bool:
                return dtypes.get(v) == "bigint" and v not in self.bind_cols

            aggs = list(node.aggs)
            lexical: list = []  # indices of aggregates over lexical shadows
            id_outputs: set = set()
            reencode: set = set()
            for i, (name, a) in enumerate(aggs):
                if a.func == "count" and (
                    a.arg is None or isinstance(a.arg, A.Var)
                ):
                    continue
                over_id = (
                    a.func in ("min", "max", "sample")
                    and isinstance(a.arg, A.Var)
                    and _is_id(a.arg.name)
                )
                if over_id and self.value_order_safe():
                    # (sample == F.min: under the value-order guarantee,
                    # min(id) decodes to the lexically-min term — the same
                    # deterministic SAMPLE the lexical engine returns)
                    id_outputs.add(name)
                    continue
                if over_id:
                    # shadow aggregate, then RE-ENCODE: min_by/max_by/
                    # sample return one of their INPUT terms, so the
                    # output is guaranteed a dictionary term — the
                    # term->id join is TOTAL and the output is a genuine
                    # id again (it may feed later ID joins). NULL input
                    # (all-OPTIONAL-unbound group) stays NULL = unbound,
                    # exactly the lexical engine's semantics.
                    reencode.add(name)
                if a.arg is not None:
                    lexical.append(i)
            src, args = self._shadowed(child, [aggs[i][1].arg for i in lexical])
            for i, arg in zip(lexical, args):
                name, a = aggs[i]
                aggs[i] = (name, replace(a, arg=arg))
            g = _shallow_with_child(node, A.Precomputed(src))
            g.aggs = aggs
            # super(), not self: dispatching the rebuilt Group through
            # this method again would re-enter this branch forever
            out = super().eval(g)
            if reencode:
                out = self._encode_shadow(out, sorted(reencode))
            for name, _a in node.aggs:
                if name not in id_outputs and name not in reencode:
                    self.bind_cols.add(name)
            return out
        return super().eval(node)

    def _bnode_objects(self, result: DataFrame):
        """Encoded CBD: bnode-ness comes from the DICTIONARY ('_:' term
        prefix), so the DESCRIBE expansion fixpoint runs entirely over
        ids — parity with the lexical engine's closure (review r4: the
        inherited string probe returned early and encoded DESCRIBE
        silently dropped blank-node closure triples)."""
        if self.dictionary is None:
            return None
        bn = self.dictionary.filter(F.col("term").startswith("_:")).select(
            F.col("id").alias("n")
        )
        if self.dict_broadcast_ok():
            bn = F.broadcast(bn)
        return result.select(F.col("o").alias("n")).join(bn, "n", "left_semi")

    def _shadowed(self, df: DataFrame, exprs: list) -> tuple[DataFrame, list]:
        """The shadow-decode device for value expressions over encoded
        bindings: ``df`` plus a lexical shadow column ``__lex__v`` for
        every encoded variable the expressions read, and the expressions
        rewritten to read the shadows (_decode_shadow). A bind_cols
        column is skipped: a numeric nested-BIND output is bigint but
        holds a VALUE, not a dictionary id, and decoding it would null it
        out. With nothing to shadow, ``df`` is returned as is: each
        DataFrame operation is a Py4J round trip."""
        dtypes = dict(df.dtypes)
        enc = sorted(
            {
                v
                for e in exprs
                for v in A.expr_vars(e)
                if dtypes.get(v) == "bigint" and v not in self.bind_cols
            }
        )
        if not enc:
            return df, list(exprs)
        names = {v: f"__lex__{v}" for v in enc}
        return (
            self._decode_shadow(df, enc),
            [_subst_expr_vars(e, names) for e in exprs],
        )

    def _decode_shadow(self, df: DataFrame, variables: list[str]) -> DataFrame:
        """One dictionary join per referenced encoded column — never the
        store, never unreferenced columns; broadcast only when the
        engine's size gate allows. Delegates to decode_columns' shadow
        mode."""
        return decode_columns(
            df,
            self.dictionary,
            variables,
            broadcast_dict=self.dict_broadcast_ok(),
            out_names={v: f"__lex__{v}" for v in variables},
        )

    def _encode_shadow(self, df: DataFrame, columns: list[str]) -> DataFrame:
        """Inverse of _decode_shadow, for aggregate outputs PROVEN to be
        dictionary terms (min/max/sample over a decoded id column return
        one of their input terms): one dict term->id join per column, LEFT
        so a NULL aggregate input stays NULL/unbound. The rejoined column
        is a genuine dictionary id — downstream ID joins and the final
        decode treat it like any pattern binding."""
        for c in columns:
            d = self.dictionary.select(
                F.col("id").alias(f"__eid_{c}"), F.col("term").alias(f"__eterm_{c}")
            )
            if self.dict_broadcast_ok():
                d = F.broadcast(d)
            df = (
                df.join(d, df[c] == F.col(f"__eterm_{c}"), "left")
                .drop(c, f"__eterm_{c}")
                .withColumnRenamed(f"__eid_{c}", c)
            )
        return df

    def _apply_leftjoin_condition(self, j: DataFrame, cond) -> DataFrame:
        """OPTIONAL's LeftJoin condition over encoded bindings, through
        the shadow-decode device; the filter body stays in the base class
        so the error-to-false semantics live in one place."""
        src, (e,) = self._shadowed(j, [cond])
        out = super()._apply_leftjoin_condition(src, e)
        return out if src is j else out.select(*j.columns)

    def _filter(self, node: A.Filter) -> DataFrame:
        if isinstance(node.expr, A.ExistsExpr):
            return super()._filter(node)
        child = self.eval(node.child)
        src, (e,) = self._shadowed(child, [node.expr])
        out = src.filter(self.expr(e, src))
        return out if src is child else out.select(*child.columns)


class EncodedSparqlEngine:
    def __init__(
        self,
        triples_enc: DataFrame,
        dictionary: DataFrame,
        collect_stats: bool = True,
        catalog=None,
        services: dict | None = None,
        dict_rank_ordered: bool = True,
        stats: dict | None = None,
        dict_n_terms: int | None = None,
        dict_plain: bool | None = None,
        dict_files: list[str] | None = None,
    ):
        """triples_enc: (s,p,o) LONG columns; dictionary: (id, term[, kind]).
        dict_rank_ordered declares whether ids are LEXICOGRAPHIC-RANK-
        ordered (build_dictionary/assign_ids produce this; append_ids
        breaks it) — the MIN/MAX group peel relies on decode(min(id)) ==
        min(term); a hash- or append-ordered dictionary would silently
        return the wrong term there while decode/COUNT/DISTINCT
        (bijection-only) keep working. With the flag False
        the peel keeps only COUNT aggregates encoded and decodes before
        MIN/MAX instead — correct at the cost of a bigger decode join.
        open_store reads the flag from the store's meta/ parquet, so an
        append-loaded store degrades automatically rather than wrongly.
        catalog (plans/catalog.StoreCatalog) must be built over the SAME
        encoded store — routing is term-type-agnostic (predicate keys are
        the encoded longs, property-table columns are str(id)), so the
        planner substitutions work identically to the lexical engine.
        services maps SERVICE endpoint names to LEXICAL triples DataFrames;
        federated queries take the decode-early fallback (endpoint stores
        have their own dictionaries, so ID joins can't cross engines).
        dict_files: the local parquet files ``dictionary`` was read from,
        when the query constants' term -> id lookup may read them on the
        driver (no Spark job); None looks them up with a Spark job.
        open_store picks this once per engine (lookup_ids)."""
        if catalog is not None and "g" in triples_enc.columns:
            raise ValueError(
                "StoreCatalog routing is triple-level: a property table "
                "over a quad store pivots across ALL named graphs and "
                "changes binding multiplicity — attach the catalog to a "
                "single graph's slice instead"
            )
        self.triples = triples_enc
        self.dict_rank_ordered = dict_rank_ordered
        self.dict = dictionary.select("id", "term")
        self._dict_files = dict_files
        # load-time dictionary metadata: the broadcast-size gate and the
        # typed-literal plainness probe are engine-CONSTRUCTION costs
        # re-paid per query because the query harness builds a fresh
        # engine each call — when the caller already knows them (store
        # manifest, load stats, a shared session cache), seed them here
        # and both probe jobs disappear. None = compute lazily on first
        # use.
        self._dict_small: bool | None = (
            None if dict_n_terms is None else dict_n_terms <= DICT_BROADCAST_MAX_TERMS
        )
        self._dict_plain: bool | None = dict_plain
        # engine-lifetime pin cache shared by every per-query translator
        # (a per-translator list would never reach its eviction cap)
        self._qpins: list = []
        self._lex: Translator | None = None  # see _empty_lex
        self.catalog = catalog
        self.services = services or {}
        # a precomputed stats dict skips the per-engine aggregation (same
        # rationale as SparqlEngine)
        if stats is None and collect_stats:
            stats = _stats_dict(planning_stats(triples_enc))
        self._stats = stats

    # -- term -> id rewriting ------------------------------------------------

    @staticmethod
    def _collect_constants(node, out: set) -> None:
        for n in A.walk(node):
            if isinstance(n, A.BGP):
                for tp in n.patterns:
                    out.update(t for t in A.pattern_terms(tp) if not _is_var(t))
            if isinstance(n, A.Values):
                for row in n.rows:
                    out.update(v for v in row if v is not None)
            if isinstance(n, A.Graph) and not _is_var(n.term):
                out.add(n.term)
            if isinstance(n, A.Describe):
                out.update(t for t in n.terms if not _is_var(t))
            if isinstance(n, A.Service):
                raise NotImplementedError(
                    "EncodedSparqlEngine: SERVICE federates lexical stores — "
                    "endpoint stores have their own dictionaries (decode-early "
                    "fallback handles this internally)"
                )

    @staticmethod
    def _values_terms_present(node, ids: dict) -> bool:
        return not any(
            v is not None and v not in ids
            for n in A.walk(node)
            if isinstance(n, A.Values)
            for row in n.rows
            for v in row
        )

    def _rewrite(self, node, ids: dict):
        def rid(t):
            return t if _is_var(t) else ids.get(t, _MISSING_ID)

        if isinstance(node, A.BGP):
            pats = []
            for tp in node.patterns:
                if isinstance(tp, A.PathPattern):
                    pats.append(A.PathPattern(rid(tp.s), tp.op, rid(tp.p), rid(tp.o)))
                elif isinstance(tp, A.PropSetPattern):
                    # positive: a member absent from the dict can never match
                    # -> drop it (empty set = empty scan). negated: members
                    # must NOT be dropped — _propset decides which union
                    # components exist from member-set emptiness, so
                    # dropping an absent member would delete or flip a
                    # whole component. Absent members map to _MISSING_ID:
                    # it never occurs in data, so excluding it is the
                    # identity, and the component structure is preserved.
                    if tp.negated:
                        kept = tuple(ids.get(m, _MISSING_ID) for m in tp.preds)
                        kept_inv = tuple(
                            ids.get(m, _MISSING_ID) for m in tp.inv_preds
                        )
                    else:
                        kept = tuple(ids[m] for m in tp.preds if m in ids)
                        kept_inv = ()
                    pats.append(
                        A.PropSetPattern(
                            rid(tp.s), kept, rid(tp.o), tp.negated, kept_inv
                        )
                    )
                elif isinstance(tp, A.AltPath):
                    branches = tuple(
                        tuple(self._rewrite(A.BGP(list(br)), ids).patterns)
                        for br in tp.branches
                    )
                    pats.append(A.AltPath(rid(tp.s), branches, rid(tp.o)))
                elif isinstance(tp, A.ClosurePattern):
                    inner = tuple(
                        self._rewrite(A.BGP(list(tp.patterns)), ids).patterns
                    )
                    pats.append(
                        A.ClosurePattern(
                            rid(tp.s), tp.op, inner, tp.src_var, tp.dst_var, rid(tp.o)
                        )
                    )
                else:
                    pats.append(TriplePattern(rid(tp.s), rid(tp.p), rid(tp.o)))
            return A.BGP(pats)
        if isinstance(node, A.Values):
            node.rows = [
                tuple(None if v is None else ids.get(v, _MISSING_ID) for v in row)
                for row in node.rows
            ]
        if isinstance(node, A.Graph) and not _is_var(node.term):
            node.term = ids.get(node.term, _MISSING_ID)
        for attr in ("left", "right", "child"):
            sub = getattr(node, attr, None)
            if sub is not None and not isinstance(sub, (str, list, tuple)):
                setattr(node, attr, self._rewrite(sub, ids))
        if isinstance(node, A.Filter) and isinstance(node.expr, A.ExistsExpr):
            node.expr = A.ExistsExpr(self._rewrite(node.expr.group, ids), node.expr.negated)
        return node

    @staticmethod
    def _id_term_vars(node) -> set:
        """Variables the ENCODED evaluation binds to dictionary ids:
        triple/path pattern terms (including path branch/closure inner
        patterns), VALUES columns, GRAPH variables. A nested BIND whose
        output variable never collides with one of these stays a purely
        lexical column — safe to carry through the encoded plan."""
        out: set = set()
        for n in A.walk(node):
            if isinstance(n, A.BGP):
                out.update(
                    t[1:]
                    for p in n.patterns
                    for t in A.pattern_terms(p)
                    if _is_var(t)
                )
            if isinstance(n, A.Values):
                out |= set(n.varnames)
            if isinstance(n, A.Graph) and _is_var(n.term):
                out.add(n.term[1:])
        return out

    @staticmethod
    def _lexical_producer_vars(node) -> set:
        """Variables the encoded evaluation may bind to LEXICAL values
        rather than dictionary ids: nested BIND outputs and aggregate
        outputs (counts are longs; shadow-path aggregates are values;
        MIN/MAX-over-ids outputs are genuine ids, but including them here
        only makes the static gate conservative, never wrong)."""
        out: set = set()
        for n in A.walk(node):
            if isinstance(n, A.Bind):
                out.add(n.var)
            if isinstance(n, A.Group):
                out.update(name for name, _a in n.aggs)
        return out

    def _check_structural(self, node, id_vars: set | None = None) -> None:
        """The encoded path evaluates the structural subtree over IDs.
        Value-level FILTERs nested inside it are handled in place by
        _EncodedTranslator._filter (shadow-column decode of just the
        referenced variables); nested BINDs whose output never feeds an
        ID join run the same way (r7), and since r8 nested aggregates do
        too (_EncodedTranslator.eval's Group branch: COUNT over ids,
        MIN/MAX over ids when the dictionary is value-order-safe,
        everything else over shadow-decoded values). Since r9 a nested
        MIN/MAX/SAMPLE over a pattern variable may even feed ID joins on
        a NON-value-order-safe dictionary: its output is provably one of
        its input terms, so the translator re-encodes it (term->id, a
        total join) and the binding is a genuine id again. Remaining on
        the decode-early fallback: a BIND or computed-value aggregate
        (SUM/AVG/GROUP_CONCAT/COUNT/expression args) whose output
        collides with a pattern/VALUES/GRAPH binding — such values may
        not exist in the dictionary, so they cannot join ids."""
        if id_vars is None:
            id_vars = self._id_term_vars(node)
        if isinstance(node, A.Group):
            # Mirror of the translator's per-aggregate routing, decided
            # statically (and conservatively: arg vars that MIGHT be
            # lexical at runtime — bind/aggregate outputs — disqualify
            # the MIN/MAX-over-ids route here; at runtime the dtype check
            # routes them exactly).
            lex_vars = None
            for name, a in node.aggs:
                if (
                    a.func == "count"
                    and (a.arg is None or isinstance(a.arg, A.Var))
                    and name not in id_vars  # long must not feed an ID join
                ):
                    continue
                if a.func in ("min", "max", "sample") and isinstance(a.arg, A.Var):
                    if lex_vars is None:
                        lex_vars = self._lexical_producer_vars(node.child)
                    if a.arg.name not in lex_vars:
                        # id-safe on EITHER runtime route (r9, VERDICT r8
                        # #5): over-ids when the dictionary is value-order
                        # safe, else shadow aggregate + re-encode — the
                        # output is a genuine id and may feed ID joins
                        continue
                if (
                    a.func
                    in ("count", "min", "max", "sum", "avg", "group_concat", "sample")
                    and a.arg is not None
                    and name not in id_vars  # lexical output, no ID join
                ):
                    continue  # shadow-decode value aggregate
                raise NotImplementedError(
                    "EncodedSparqlEngine: nested aggregate "
                    f"{a.func}({name}) would feed a lexical value into an "
                    "ID join — decode-early fallback"
                )
        if isinstance(node, A.Bind) and node.var in id_vars:
            raise NotImplementedError(
                "EncodedSparqlEngine: nested BIND feeding an ID join "
                "(its variable is also bound by a pattern/VALUES/GRAPH) "
                "is not supported on the encoded store"
            )
        if isinstance(node, (A.OrderBy, A.Slice)) or (
            isinstance(node, A.Project) and node.exprs
        ):
            # nested subquery wrappers: ORDER BY over encoded IDs sorts by
            # dictionary rank, not value (typed numerics diverge), LIMIT
            # then keeps the wrong rows, and projection expressions would
            # compute over raw IDs — decode-early fallback for all three.
            # (Top-level wrappers never reach here: _split peels them and
            # they run over DECODED bindings.)
            raise NotImplementedError(
                "EncodedSparqlEngine: nested subquery ORDER BY/LIMIT/"
                "projection expressions run on values, not IDs"
            )
        for sub in A.subnodes(node):
            # subnodes includes EXISTS groups (review r4: a BIND nested
            # inside an EXISTS pattern previously slipped past this check)
            # — walking them AGAIN here doubled the visit count per
            # nesting level, 2^depth on EXISTS-in-EXISTS chains (review r5)
            self._check_structural(sub, id_vars)

    # -- structural/value split ----------------------------------------------

    def _split(self, node):
        """Return (structural_root, wrappers) where wrappers is the list of
        value-level nodes (outermost first) to re-apply after decode."""
        wrappers = []
        while True:
            if isinstance(node, _STRUCTURAL) or (
                isinstance(node, A.Filter) and isinstance(node.expr, A.ExistsExpr)
            ):
                return node, wrappers
            if not hasattr(node, "child"):
                return node, wrappers
            wrappers.append(node)
            node = node.child

    def query(self, sparql: str) -> DataFrame:
        tree = parse_sparql(sparql)
        root = tree.root if isinstance(tree, A.SelectQuery) else tree
        if isinstance(root, (A.Modify, A.InsertData, A.DeleteData, A.GraphManage)):
            # UPDATE mutates the store: the encoded engine's store is an
            # immutable relation and _rewrite never visits Modify.where
            # — fail with intent instead of a raw eval
            # TypeError (or, worse, a future encoded path matching nothing
            # because WHERE constants were never rewritten to ids)
            raise NotImplementedError(
                "EncodedSparqlEngine: SPARQL UPDATE is not supported on an "
                "encoded store — run updates through SparqlEngine and "
                "re-encode (bulk_load/append_load)"
            )

        consts: set = set()
        try:
            self._collect_constants(root, consts)
        except NotImplementedError:  # SERVICE: federate over the decoded store
            return self._lexical_fallback(tree)
        ids = lookup_ids(self.dict, consts, self._dict_files)
        if not self._values_terms_present(root, ids):
            # a VALUES term absent from the dictionary has no ID, but the
            # row must still exist (it can survive OPTIONAL/projection and
            # must decode back to its lexical form; a sentinel would also
            # make two DIFFERENT absent terms compare equal) — run lexical
            return self._lexical_fallback(tree)

        if isinstance(root, A.Describe):
            if root.child is not None:
                try:  # value-level nodes in the WHERE group: decode early
                    # DESCRIBE consumes its variable terms as IDs (they
                    # seed the description lookup) — a nested BIND
                    # producing one of them must fall back
                    dvars = {t[1:] for t in root.terms if _is_var(t)}
                    self._check_structural(
                        root.child,
                        self._id_term_vars(root.child) | dvars,
                    )
                except NotImplementedError:
                    return self._lexical_fallback(tree)
            child = self._rewrite(root.child, ids) if root.child is not None else None
            terms = tuple(
                t if _is_var(t) else ids.get(t, _MISSING_ID) for t in root.terms
            )
            tr = self._translator()
            df = tr.eval(A.Describe(terms, child))
            return self._decode(
                df, [c for c in df.columns if c not in tr.bind_cols]
            )
        if isinstance(root, (A.Ask, A.Construct)):
            # structural queries: rewrite whole tree, evaluate encoded,
            # decode output columns. Value-level FILTERs anywhere in the
            # group (including top level) shadow-decode their referenced
            # columns in place (_EncodedTranslator._filter); only nested
            # BIND/aggregates/subquery wrappers force the decode-early
            # fallback via _check_structural.
            # CONSTRUCT solution modifiers (ORDER BY/LIMIT/OFFSET) order and
            # slice the SOLUTION sequence — value-level, so they cannot run
            # over ids (dictionary rank != value order for typed numerics).
            # Peel them here and re-apply over the DECODED bindings below,
            # keeping the structural pattern on the encoded fast path.
            inner = root.child
            wrappers: list = []
            if isinstance(root, A.Construct):
                while isinstance(inner, (A.OrderBy, A.Slice)):
                    wrappers.append(inner)
                    inner = inner.child
            try:
                self._check_structural(inner)
            except NotImplementedError:
                return self._lexical_fallback(tree)
            rewritten = self._rewrite(inner, ids)
            tr = self._translator()
            if isinstance(root, A.Ask):
                return tr.eval(A.Ask(rewritten))
            # CONSTRUCT: evaluate the group encoded, decode the BINDINGS,
            # then instantiate the template lexically — template constants
            # never mix with encoded longs (a mixed union would ANSI-cast
            # the lexical constant to bigint and crash), and constants
            # absent from the dictionary need no ID at all.
            bound = tr.eval(rewritten)
            decoded = self._decode(
                bound, [c for c in bound.columns if c not in tr.bind_cols]
            )
            for w in reversed(wrappers):  # innermost (OrderBy) first
                decoded = self._reapply(w, decoded)
            if len(root.template) > 1 and any(
                isinstance(w, A.Slice) for w in wrappers
            ):
                # same re-execution hazard as Translator._construct: a
                # LIMIT re-runs per template part — pin the solution set
                decoded = decoded.localCheckpoint(eager=False)
            return self._reapply(root, decoded)

        structural, wrappers = self._split(root)
        # Check the WHOLE structural subtree, not just binary roots.
        # Nested value FILTERs are evaluated in place by _EncodedTranslator
        # (shadow decode of just the referenced columns); the remaining
        # rejected shapes (nested BIND/aggregates) DEGRADE GRACEFULLY:
        # decode the store first and run the lexical pipeline.
        try:
            self._check_structural(structural)
        except NotImplementedError:
            return self._lexical_fallback(tree)
        structural = self._rewrite(structural, ids)
        tr = self._translator()
        bound = tr.eval(structural)

        # Decode as LATE as possible: wrappers that are ID-safe run over the
        # encoded longs first, so the decode join touches the smallest
        # possible row set (groups / distinct rows / projected columns
        # instead of raw bindings). ID-safe because the dictionary is a
        # bijection (DISTINCT, COUNT, plain projection) and rank-ordered
        # (decode(min(id)) == min(term) for MIN/MAX).
        node_df, decoded_cols = bound, None
        while wrappers:
            w = wrappers[-1]
            if isinstance(w, A.Distinct) or (
                isinstance(w, A.Project) and not w.exprs
            ):
                node_df = self._reapply(wrappers.pop(), node_df)
                continue
            # MIN/MAX over ids is only order-preserving when the
            # dictionary is rank-ordered AND holds no numeric typed
            # literals (rank = lexical order; MIN/MAX compare typed
            # numerics by VALUE, matching ORDER BY) — otherwise
            # the peel is restricted to COUNT and decodes before MIN/MAX.
            # The dictionary probe runs ONLY for a peel-shaped Group with
            # min/max aggregates — any other wrapper reaching this check
            # must not pay a data-sized dict scan.
            if (
                isinstance(w, A.Group)
                and all(k in node_df.columns for k in w.keys)
                and all(
                    a.func in ("count", "min", "max")
                    and (a.arg is None or isinstance(a.arg, A.Var))
                    for _, a in w.aggs
                )
                and (
                    all(a.func == "count" for _, a in w.aggs)
                    or (self.dict_rank_ordered and self._dict_value_order_safe())
                )
            ):
                node_df = self._reapply(wrappers.pop(), node_df)
                # counts stay plain longs; only keys and min/max are IDs.
                # May legitimately be [] (keyless COUNT, the most common
                # aggregate shape: skipping its peel would decode the
                # whole store under a row count); the decode below
                # distinguishes [] from None. min/max over a nested-BIND
                # column computed a lexical VALUE, not an id — decoding
                # its alias would null it.
                decoded_cols = list(w.keys) + [
                    v
                    for v, a in w.aggs
                    if a.func in ("min", "max")
                    and not (
                        isinstance(a.arg, A.Var) and a.arg.name in tr.bind_cols
                    )
                ]
            break
        node_df = self._decode(
            node_df,
            [
                c
                for c in (node_df.columns if decoded_cols is None else decoded_cols)
                if c not in tr.bind_cols  # nested-BIND outputs are lexical
            ],
        )

        # re-apply remaining value-level nodes over the lexical bindings
        for w in reversed(wrappers):
            node_df = self._reapply(w, node_df)
        return node_df

    def _translator(self) -> "_EncodedTranslator":
        """The engine's encoded translator, constructed in ONE place —
        the r4 broadcast-gate bug lived in exactly this kind of drifted
        copy (review r6: three inline constructions)."""
        return _EncodedTranslator(
            self.triples, self._stats, catalog=self.catalog, dictionary=self.dict,
            dict_broadcast_ok=self._dict_fits_broadcast,
            pin_cache=self._qpins,
            value_order_safe=lambda: (
                self.dict_rank_ordered and self._dict_value_order_safe()
            ),
        )

    def _reapply(self, wrapper, df: DataFrame) -> DataFrame:
        """Evaluate one peeled wrapper node over already-computed
        bindings ``df``, through the engine's lexical translator."""
        return self._empty_lex().eval(
            _shallow_with_child(wrapper, A.Precomputed(df))
        )

    def _empty_lex(self) -> Translator:
        """The engine's lexical Translator over an empty store — used to
        re-apply peeled value-level wrappers and CONSTRUCT templates over
        already-decoded bindings (Precomputed leaves; the store relation
        is never touched). Built once per engine (an upload is ~35 Py4J
        calls) and shared by concurrent queries: evaluation keeps no
        per-query state on the translator. Two first calls racing may
        each build one; either is correct and one is kept."""
        if self._lex is None:
            self._lex = Translator(
                arrow_df(self.triples.sparkSession, {}, "s string, p string, o string")
            )
        return self._lex

    def _dict_value_order_safe(self) -> bool:
        """True when NO dictionary term is a numeric typed literal —
        then value order == lexical order == id rank order, and the
        MIN/MAX peel over ids is exact. One early-exit dictionary scan,
        computed lazily on the first Group peel and cached per engine
        (a store manifest flag could amortize it across sessions; the
        scan is linear and column-pruned to `term`)."""
        if self._dict_plain is None:
            self._dict_plain = not self.dict.filter(
                numeric_typed_literal("term")
            ).take(1)
        return self._dict_plain

    def _dict_fits_broadcast(self) -> bool:
        """Dictionary-broadcast size gate, computed ONCE per engine on
        first decode (the dictionary is data-sized — an unconditional
        hint OOMs the driver at scale). The cap is the loaders' encode
        gate too; the one-time count is trivial next to any decode that
        needs it."""
        if self._dict_small is None:
            self._dict_small = self.dict.count() <= DICT_BROADCAST_MAX_TERMS
        return self._dict_small

    def _lexical_fallback(self, tree) -> DataFrame:
        """Early-decode fallback for the shapes the encoded path still
        can't run: SERVICE (endpoint stores have their own dictionaries)
        and BIND/aggregates nested inside the structural pattern (their
        outputs are lexical bindings downstream ID joins can't consume).
        Decode the WHOLE store once (broadcast dict joins) and evaluate
        the original lexical tree over it. Nested value FILTERs no longer
        land here — _EncodedTranslator decodes only their referenced
        columns in place. Stats/catalog are ID-keyed and don't apply."""
        store = decode_triples(
            self.triples, self.dict, broadcast_dict=self._dict_fits_broadcast()
        )
        return Translator(store, services=self.services).eval(tree)

    def _decode(self, df: DataFrame, cols) -> DataFrame:
        # delegate to the dictionary module's single decode implementation
        # (prefixed dict columns so user variables named 'term'/'id' can't
        # collide); only bigint columns are id-typed — aggregates/counts
        # pass through untouched
        dtypes = dict(df.dtypes)
        id_cols = [c for c in cols if dtypes.get(c) == "bigint"]
        return decode_columns(
            df, self.dict, id_cols, broadcast_dict=self._dict_fits_broadcast()
        )


def _shallow_with_child(node, child):
    import copy

    n = copy.copy(node)
    n.child = child
    return n
