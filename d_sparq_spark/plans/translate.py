"""SPARQL algebra -> DataFrame translation.

The only "planner" code in the engine (SURVEY.md §4: zero custom Catalyst
rules): BGPs are decomposed into subject stars (D-SPARQ's core idea),
patterns inside a star are ordered by ascending predicate count (A7), and
stars are chained greedily so every inter-star join shares a variable
(avoiding accidental cartesians). Everything downstream — join strategy,
pushdown, pruning, skew — is Catalyst + AQE.

Numeric semantics over the lexical store: comparisons/arithmetic against
numeric literals coerce the string operand to double; SUM/AVG aggregate
through exact decimals (helpers.py rationale).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from d_sparq_spark.operators.rdf_patterns import (
    TriplePattern,
    join_bindings,
    star_join,
)
from d_sparq_spark.plans import ast as A
from d_sparq_spark.functions.numeric import DEC
from d_sparq_spark.localdata import local_df

# Diagnostics: number of times GRAPH ?g fell back to the per-graph driver
# loop (nested GRAPH/SERVICE, g-shadowing). Test introspection only —
# goldens assert the pattern-free route does NOT bump it (r7).
GRAPH_FALLBACK_LOOPS = 0

_XSD_CASTS = {
    "xsd:double": "double",
    "xsd:decimal": "double",
    "xsd:float": "double",
    "xsd:integer": "long",
    "xsd:int": "long",
    "xsd:long": "long",
    "xsd:string": "string",
    "xsd:boolean": "boolean",
}

_NUMERIC_FUNCS = {"strlen", "abs", "round", "floor", "ceil",
                  "xsd:double", "xsd:decimal", "xsd:float",
                  "xsd:integer", "xsd:int", "xsd:long"}

# Same shape the dictionary uses to classify terms (operators/dictionary.py)
_IRI_LIKE = r"^[A-Za-z][A-Za-z0-9+.-]*:"

# Typed / language-tagged literal term syntax (SURVEY §1.2). The store
# stays one lexical string column; non-plain literals carry their type
# inline in canonical form — '"5"^^xsd:int', '"chat"@en' — while plain
# literals remain unquoted ("Alice"). All term inspection is JVM regex
# (whole-stage codegen), no UDFs.
# (?s): literals may contain real newlines (\n escapes in SPARQL/N-Triples
# unescape to them) — without DOTALL a multiline tagged/typed literal would
# silently classify as a plain term (and diverge from results.py, which
# compiles the same patterns with re.DOTALL).
_TYPED_RE = r'(?s)^"(.*)"\^\^([^@]+)$'
_LANGTAG_RE = r'(?s)^"(.*)"@([A-Za-z][A-Za-z0-9-]*)$'


def _lex_form(c: Column) -> Column:
    """Lexical form of a term: strips the quotes and ^^datatype/@lang of
    typed/tagged literal syntax; plain terms (and IRIs) pass through."""
    return (
        F.when(c.rlike(_TYPED_RE), F.regexp_extract(c, _TYPED_RE, 1))
        .when(c.rlike(_LANGTAG_RE), F.regexp_extract(c, _LANGTAG_RE, 1))
        .otherwise(c)
    )


def _typed_value_key(c: Column) -> Column:
    """Numeric VALUE of a typed numeric literal, NULL otherwise — THE
    ordering key ORDER BY, MIN/MAX, and the encoded peel gate must share
    (r6: two hand-synced copies of it were exactly how MIN and ORDER BY
    first drifted apart)."""
    return F.when(
        c.rlike(_TYPED_RE), F.regexp_extract(c, _TYPED_RE, 1).try_cast("double")
    )


def _rebuild_literal(orig: Column, new_lex: Column) -> Column:
    """Rebuild a string-function result in the ORIGINAL term's form:
    tagged/typed literals keep their @lang / ^^datatype wrapper around
    the transformed lexical form (SPARQL: SUBSTR/UCASE/... return a
    literal with the first argument's language tag); plain terms return
    the bare result."""
    return (
        F.when(
            orig.rlike(_LANGTAG_RE),
            F.concat(F.lit('"'), new_lex, F.lit('"@'),
                     F.regexp_extract(orig, _LANGTAG_RE, 2)),
        )
        .when(
            orig.rlike(_TYPED_RE),
            F.concat(F.lit('"'), new_lex, F.lit('"^^'),
                     F.regexp_extract(orig, _TYPED_RE, 2)),
        )
        .otherwise(new_lex)
    )


def _is_numeric_expr(e: object) -> bool:
    if isinstance(e, A.Lit):
        return e.is_numeric
    if isinstance(e, A.BinOp):
        return e.op in ("+", "-", "*", "/")
    if isinstance(e, A.UnOp):
        return e.op == "-" or _is_numeric_expr(e.operand)
    if isinstance(e, A.FuncCall):
        return e.name in _NUMERIC_FUNCS
    return False


class Translator:
    def __init__(
        self,
        triples: DataFrame,
        stats: dict | None = None,
        services: dict | None = None,
        graph_var: str | None = None,
        catalog=None,
        pin_cache: list | None = None,
        quad_store: DataFrame | None = None,
    ):
        self.triples = triples
        self.stats = stats
        self.services = services or {}
        self.graph_var = graph_var  # GRAPH ?g: project g into every pattern
        self.catalog = catalog  # StoreCatalog: property table + ExtVP routes
        # the full quad relation, for translators whose OWN triples are a
        # per-graph slice with g dropped (the per-graph loop / constant-
        # graph spawns): a nested GRAPH inside re-activates over the whole
        # dataset, per spec — before r9 it raised "requires a quad store"
        self.quad_store = quad_store
        self.spark = triples.sparkSession
        # bounded pin cache for translate-time persisted projections
        # (_compat_semi_anti): unbounded persists leaked storage memory
        # for the session lifetime (review r6). Evicting recomputes the
        # projection if an old plan re-executes — correct, just slower.
        # SHARED with spawned sub-translators and (via pin_cache) with the
        # owning engine: per-query translator instances would each start
        # an empty list and never reach the cap (review r6 round 2).
        self._pinned: list[DataFrame] = (
            pin_cache if pin_cache is not None else []
        )

    def _pin(self, df: DataFrame, cap: int = 16) -> None:
        self._pinned.append(df)
        while len(self._pinned) > cap:
            self._pinned.pop(0).unpersist(blocking=False)

    def _spawn(
        self,
        triples: DataFrame,
        stats,
        graph_var: str | None = None,
        quad_store: DataFrame | None = None,
    ) -> "Translator":
        """Sub-translator for GRAPH evaluation — overridden by the encoded
        engine's translator so nested value filters keep their
        shadow-decode capability inside GRAPH groups."""
        return type(self)(
            triples, stats, services=self.services, graph_var=graph_var,
            pin_cache=self._pinned, quad_store=quad_store,
        )

    # ------------- algebra -------------

    def eval(self, node) -> DataFrame:
        if isinstance(node, A.Precomputed):
            return node.df
        if isinstance(node, A.BGP):
            return self._bgp(node)
        if isinstance(node, A.Join):
            return self._join_compat(
                self.eval(node.left), self.eval(node.right),
                node.left, node.right, "inner",
            )
        if isinstance(node, A.LeftJoin):
            left = self.eval(node.left)
            unit = not left.columns
            if unit:
                # zero-column left (ground pattern / unit solution): keep
                # its ROW COUNT through the join (right's rows alone would
                # survive a ground pattern that matched NOTHING, and lose
                # multiplicity otherwise). A marker column makes the
                # general left-outer path handle 0, 1, and N rows
                # uniformly.
                left = left.withColumn("__unit", F.lit(1))
            if node.cond is None:
                out = self._join_compat(
                    left, self.eval(node.right), node.left, node.right, "left_outer"
                )
            else:
                out = self._leftjoin_cond(left, node)
            return out.drop("__unit") if unit else out
        if isinstance(node, A.Union):
            l, r = self.eval(node.left), self.eval(node.right)
            return l.unionByName(r, allowMissingColumns=True)
        if isinstance(node, A.Minus):
            left = self.eval(node.left)
            gv = self.graph_var
            # the hidden GRAPH ?g column is an implementation detail, not
            # a user variable: it must NOT satisfy MINUS's domain-overlap
            # rule (with g counted, a right pattern matching
            # anything in the same graph removed left rows the spec
            # keeps), but it MUST still correlate the two sides (per-graph
            # evaluation), so it joins as an always-equal key.
            #
            # Exception: when ?g occurs EXPLICITLY in the
            # right pattern's own syntax, the spec scopes that occurrence
            # to the MINUS right — within each graph it ranges FREELY
            # over matching terms (the {?g -> graph} binding joins in
            # only outside, at the Graph node), and it is in dom(mu2).
            # So: re-evaluate the right with a FRESH hidden graph name
            # (the user's ?g then binds as an ordinary variable instead
            # of being scan-forced equal to the graph), correlate on the
            # fresh key, and count ?g toward compatibility/overlap only
            # when the LEFT's syntax also mentions it (?g in dom(mu1);
            # the left's hidden binding is spec-visible there because the
            # outer Graph join pins it to the enclosing graph anyway).
            g_explicit = (
                gv is not None
                and gv in left.columns
                and gv in A.scope_vars(node.right)
            )
            if g_explicit:
                sub = self._spawn(self.triples, self.stats, graph_var="__mg")
                right = sub.eval(node.right)
                left = left.withColumn("__mg", F.col(gv))
                gkeys = ["__mg"] if "__mg" in right.columns else []
                g_in_left = gv in A.scope_vars(node.left)
                shared_all = sorted(
                    (set(left.columns) & set(right.columns)) - {"__mg"}
                )
                shared = [v for v in shared_all if v != gv or g_in_left]
            else:
                right = self.eval(node.right)
                shared_all = sorted(set(left.columns) & set(right.columns))
                shared = [v for v in shared_all if v != gv]
                gkeys = [gv] if gv is not None and gv in shared_all else []
            if not shared:  # SPARQL MINUS with disjoint domains removes nothing
                return left.drop("__mg") if g_explicit else left
            if len(shared) == 1:
                # single shared var: the equi anti-join IS the spec — a
                # NULL on either side means no mutual binding, so the row
                # is kept, which is exactly what a non-matching NULL key
                # does (and it stays a plain hash join)
                out = left.join(right, on=shared + gkeys, how="left_anti")
            else:
                out = self._compat_semi_anti(
                    left, right, shared, anti=True, require_overlap=True,
                    equal_keys=gkeys,
                )
            return out.drop("__mg") if g_explicit else out
        if isinstance(node, A.Filter):
            return self._filter(node)
        if isinstance(node, A.Bind):
            child = self.eval(node.child)
            return child.withColumn(node.var, self.expr(node.expr, child))
        if isinstance(node, A.Values):
            # per-column type: the encoded engine rewrites VALUES terms to
            # dictionary IDs (Python ints) — a hard-coded string schema
            # would stringify them and the decode step (bigint-only) would
            # leak raw IDs into results
            def _vtype(i: int) -> str:
                vals = [row[i] for row in node.rows if row[i] is not None]
                return "bigint" if vals and all(isinstance(x, int) for x in vals) else "string"

            vdf = local_df(
                self.spark,
                node.rows,
                ", ".join(f"{v} {_vtype(i)}" for i, v in enumerate(node.varnames)),
            )
            if node.child is None:
                return vdf
            child = self.eval(node.child)
            shared = [v for v in node.varnames if v in child.columns]
            has_undef = any(
                row[i] is None
                for row in node.rows
                for i, v in enumerate(node.varnames)
                if v in shared
            )
            # the equi fast path needs compatibility to coincide with
            # equality on BOTH sides: no UNDEF in the VALUES rows AND every
            # shared variable certainly bound in the child — a child var
            # OPTIONAL left NULL is compatible with any VALUES binding and
            # an equi-join would drop that solution (the same rule
            # _join_compat applies via certain_vars)
            child_certain = A.certain_vars(node.child)
            if not has_undef and all(v in child_certain for v in shared):
                return join_bindings(child, vdf)
            # UNDEF in a shared column is compatible with ANYTHING (an
            # equi-join would treat the NULL as a never-matching key and
            # silently drop the row); VALUES is query-literal-sized, so
            # the conditioned broadcast join costs nothing at any scale.
            # Reconcile dtypes first: an all-UNDEF column types as string
            # while the child side may carry bigint ids.
            child, vdf = self._reconcile_shared_types(child, vdf, shared)
            rv = vdf
            for v in shared:
                rv = rv.withColumnRenamed(v, f"__val_{v}")
            cond = None
            for v in shared:
                c = (
                    F.col(f"__val_{v}").isNull()
                    | F.col(v).isNull()
                    | (F.col(f"__val_{v}") == F.col(v))
                )
                cond = c if cond is None else cond & c
            out = child.join(F.broadcast(rv), cond)
            for v in shared:
                out = out.withColumn(
                    v, F.coalesce(F.col(v), F.col(f"__val_{v}"))
                ).drop(f"__val_{v}")
            return out
        if isinstance(node, A.Group):
            return self._group(node)
        if isinstance(node, A.Project):
            return self._apply_project(node, self.eval(node.child))
        if isinstance(node, A.Distinct):
            return self.eval(node.child).dropDuplicates()
        if isinstance(node, A.OrderBy):
            child = self.eval(node.child)
            return child.orderBy(*self._order_cols(node.keys, child))
        if isinstance(node, A.Slice):
            gv = self.graph_var
            if gv is not None:
                return self._graph_slice(node, gv)
            child = self.eval(node.child)
            if node.offset:
                child = child.offset(node.offset)
            return child.limit(node.limit) if node.limit is not None else child
        if isinstance(node, A.Ask):
            exists = bool(self.eval(node.child).limit(1).take(1))
            return local_df(self.spark, [(exists,)], "ask boolean")
        if isinstance(node, A.SelectQuery):
            return self.eval(node.root)
        if isinstance(node, A.Construct):
            return self._construct(node)
        if isinstance(node, A.Describe):
            return self._describe(node)
        if isinstance(node, A.Graph):
            return self._graph(node)
        if isinstance(node, A.Service):
            return self._service(node)
        raise TypeError(f"SPARQL translate: unknown node {type(node).__name__}")

    def _apply_project(self, node: A.Project, child: DataFrame) -> DataFrame:
        for name, e in node.exprs:
            child = child.withColumn(name, self.expr(e, child))
        if node.vars:
            # SELECT of a variable no pattern binds is valid SPARQL:
            # every solution leaves it unbound (NULL), never an error.
            # The GRAPH variable fills with the STORE's g dtype (bigint on
            # an encoded store): the guarded compatibility route unions it
            # with real graph ids, and a string NULL would type-clash (r9)
            for v in node.vars:
                if v not in child.columns:
                    if v == self.graph_var and "g" in self.triples.columns:
                        gt = dict(self.triples.dtypes)["g"]
                        child = child.withColumn(v, F.lit(None).cast(gt))
                    else:
                        child = child.withColumn(v, F.lit(None).cast("string"))
            out = list(node.vars)
            # subquery under GRAPH ?g: the graph binding rides through the
            # projection as a hidden extra column so the whole query stays
            # ONE plan (no per-graph union) — _graph drops or exposes it at
            # the Graph node's boundary
            gv = self.graph_var
            if gv is not None and gv in child.columns and gv not in out:
                out.append(gv)
            return child.select(*out)
        # SELECT *: drop reserved internal columns (__-prefixed) —
        # parser-synthesized fresh vars from sequence-path desugaring
        # and hidden HAVING aggregates are not user-visible bindings.
        keep = [c for c in child.columns if not c.startswith("__")]
        return child.select(*keep) if keep != child.columns else child

    def _order_cols(self, keys, child: DataFrame) -> list[Column]:
        """ORDER BY sort columns. Typed numeric literals ('"5"^^xsd:int')
        order by VALUE; plain terms keep lexical order (the typed-value key
        is NULL for them, so the lexical key decides — unchanged behavior
        for untyped stores)."""
        cols = []
        for e, asc in keys:
            c = self.expr(e, child)
            if isinstance(e, A.Var) and dict(child.dtypes).get(e.name) == "string":
                tv = _typed_value_key(c)
                cols.append(tv.asc() if asc else tv.desc())
            cols.append(c.asc() if asc else c.desc())
        return cols

    def _graph_slice(self, node: A.Slice, gv: str) -> DataFrame:
        """LIMIT/OFFSET inside a subquery under GRAPH ?g, single-plan route:
        the slice applies PER GRAPH (each graph's dataset is evaluated
        independently per spec), so it becomes a row_number window
        partitioned by the graph binding instead of a global limit. The
        parser nests the modifiers as Slice(Project(OrderBy(x))) (plain) or
        Slice(OrderBy(Distinct(Project(x)))) (DISTINCT) — ORDER BY keys may
        reference pre-projection columns, so the window ranks BEFORE the
        projection and the projection re-applies after the filter. Ties
        beyond the ORDER BY keys (or a missing ORDER BY — both
        implementation-defined per spec) break deterministically on the
        remaining columns so reruns and the DuckDB oracle agree."""
        from pyspark.sql.window import Window

        inner = node.child
        project = None
        if isinstance(inner, A.OrderBy):
            base = self.eval(inner.child)
            okeys = self._order_cols(inner.keys, base)
        elif isinstance(inner, A.Project) and isinstance(inner.child, A.OrderBy):
            project = inner
            base = self.eval(inner.child.child)
            okeys = self._order_cols(inner.child.keys, base)
        else:
            base = self.eval(inner)
            okeys = []
        if gv not in base.columns:  # no graph correlation below: plain slice
            out = base
            if node.offset:
                out = out.offset(node.offset)
            if node.limit is not None:
                out = out.limit(node.limit)
            return self._apply_project(project, out) if project else out
        okeys = okeys + [F.col(c).asc() for c in base.columns if c != gv]
        w = Window.partitionBy(gv).orderBy(*okeys)
        ranked = base.withColumn("__rn", F.row_number().over(w))
        cond = F.col("__rn") > F.lit(node.offset or 0)
        if node.limit is not None:
            cond = cond & (F.col("__rn") <= F.lit((node.offset or 0) + node.limit))
        out = ranked.filter(cond).drop("__rn")
        return self._apply_project(project, out) if project else out

    def _bnode_objects(self, result: DataFrame):
        """Objects of `result` that are blank nodes, as a 1-column ('n')
        frame — or None when the store's term representation cannot
        expose bnode-ness (an encoded store with no dictionary); the CBD
        expansion then stops at the base description. The encoded
        translator overrides this with a dictionary id lookup so its
        DESCRIBE expands CBD exactly like the lexical engine (review r4:
        it previously returned early and silently dropped blank-node
        closure triples)."""
        if dict(self.triples.dtypes)["s"] != "string":
            return None
        return result.filter(F.col("o").startswith("_:")).select(F.col("o").alias("n"))

    def _describe(self, node: A.Describe) -> DataFrame:
        """DESCRIBE term+ [WHERE group] -> CBD triples (s, p, o).

        Resources = constant terms UNION the WHERE bindings of each
        described variable. Description = their subject triples, then a
        fixpoint pulling in triples of blank-node objects ('_:') already
        described — SPARQL 1.1 leaves DESCRIBE's extent to the service; CBD
        is the de-facto standard (Stickler, W3C CBD submission). The
        expansion loop is bounded by bnode-chain depth, each round one
        semi-join; stores without blank nodes exit after round 0's probe."""
        var_terms = [t for t in node.terms if isinstance(t, str) and t.startswith("?")]
        consts = [t for t in node.terms if not (isinstance(t, str) and t.startswith("?"))]
        subjects = None
        if node.child is not None and var_terms:
            bindings = self.eval(node.child)
            if self._contains_slice(node.child):
                # DESCRIBE solution modifiers: the per-variable branches,
                # the bnode-fixpoint probes, and the caller's final action
                # each re-execute the child — an un-pinned LIMIT could
                # pick DIFFERENT solutions per reader (same hazard as
                # _construct). The sliced set is small; pin it.
                bindings = bindings.localCheckpoint(eager=False)
            parts = [bindings.select(F.col(v[1:]).alias("n")) for v in var_terms]
            subjects = reduce(lambda a, b: a.unionByName(b), parts)
        if consts:
            s_type = dict(self.triples.dtypes)["s"]
            c_type = "bigint" if all(isinstance(c, int) for c in consts) else "string"
            cdf = local_df(self.spark, [(c,) for c in consts], f"n {c_type}").select(
                F.col("n").cast(s_type).alias("n")
            )
            subjects = cdf if subjects is None else subjects.unionByName(cdf)
        if subjects is None:
            return self.triples.filter(F.lit(False)).select("s", "p", "o")
        subjects = subjects.distinct()
        store = self.triples.select("s", "p", "o")
        result = store.join(subjects, store["s"] == subjects["n"], "left_semi")
        for _ in range(16):
            bnodes = self._bnode_objects(result)
            if bnodes is None:
                return result  # bnode-ness not visible in this store
            missing = bnodes.join(
                result.select(F.col("s").alias("n")), "n", "left_anti"
            ).distinct()
            add = store.join(missing, store["s"] == missing["n"], "left_semi")
            if not add.take(1):
                return result
            result = result.unionByName(add).distinct().localCheckpoint()
        raise RuntimeError("DESCRIBE: blank-node chain deeper than 16 levels")

    def _service(self, node: A.Service) -> DataFrame:
        """SERVICE: evaluate the inner pattern against the registered
        endpoint store; the result joins into the outer group like any
        bindings table (Catalyst then picks broadcast vs shuffle). Unknown
        endpoint: SILENT -> unit solution (join no-op) per spec, else error."""
        store = self.services.get(node.endpoint)
        if store is None:
            if node.silent:
                return self.spark.range(1).select()
            raise ValueError(f"SPARQL SERVICE: unknown endpoint {node.endpoint!r}")
        sub = Translator(store, services=self.services)
        return sub.eval(node.child)

    def _graph(self, node: A.Graph) -> DataFrame:
        """GRAPH over a quad store (B17). Constant graph: evaluate the
        inner pattern over that graph's slice (partition-prunable when the
        store is written partitionBy('g')). Variable graph: g is carried
        as one more BINDING COLUMN through every pattern scan — a single
        plan, no per-graph union, no driver-side graph enumeration (a
        store with 10k named graphs is one join plan, not a 10k-branch
        union). Property paths ride the same route: closure fixpoints
        take g as a group column (paths.py), so reachability is per-graph
        inside one shared loop. A pattern-free group is evaluated once
        and extended to every graph. The per-graph driver loop remains
        only for ?g-capturing wrappers (computed alias / GROUP key / BIND
        / VALUES naming ?g) and for ?g bound inside an OPTIONAL's right
        side (eager scan equality would be an illegal outer-join filter
        pushdown); the graph list there is metadata-scale, and sliced
        spawns carry quad_store so nested GRAPH inside the loop
        re-activates over the full dataset (see _graph_column_ok)."""
        if "g" in self.triples.columns:
            quads = self.triples
        elif self.quad_store is not None:
            # this translator evaluates a per-graph SLICE (g dropped); a
            # nested GRAPH re-activates over the FULL dataset, per spec
            quads = self.quad_store
        else:
            raise ValueError("SPARQL GRAPH requires a quad store (g column)")
        term = node.term
        if not (isinstance(term, str) and term.startswith("?")):
            sub = self._spawn(
                quads.filter(F.col("g") == F.lit(term)).drop("g"), self.stats,
                quad_store=quads,
            )
            return sub.eval(node.child)
        name = term[1:]
        route = self._graph_column_ok(node.child, name)
        if route:
            sub = self._spawn(quads, self.stats, graph_var=name,
                              quad_store=quads)
            out = sub.eval(node.child)
            if route == "plain" and name in out.columns:
                # g only ever comes from quad scans: a real graph by
                # construction, no compatibility extension needed
                return out
            # "guarded": a nested child may have BOUND the graph variable
            # itself (BIND/VALUES/subselect — an ordinary column, possibly
            # naming no graph), or a UNION branch without patterns may
            # have left it NULL; and when every store touch sat under a
            # nested GRAPH/SERVICE, the solutions are independent of the
            # enclosing active graph and ?g has no column at all
        elif self._pattern_free(node.child, name):
            # pattern-free group (VALUES-only / FILTER over literals /
            # empty group): its solutions are graph-INDEPENDENT, so eval
            # once — no driver collect, no per-graph plans
            out = self._spawn(quads, self.stats).eval(node.child)
        else:
            global GRAPH_FALLBACK_LOOPS
            GRAPH_FALLBACK_LOOPS += 1
            g_type = dict(quads.dtypes)["g"]  # keep lit dtype == store dtype
            gvals = sorted(
                r["g"] for r in quads.select("g").distinct().collect()
            )
            parts = []
            for gv in gvals:
                sub = self._spawn(
                    quads.filter(F.col("g") == gv).drop("g"), self.stats,
                    quad_store=quads,
                )
                part = sub.eval(node.child)
                glit = F.lit(gv).cast(g_type)
                if name in part.columns:
                    # the inner pattern reuses the graph variable:
                    # compatibility semantics — keep solutions whose
                    # binding is unbound or equals this graph, then fill
                    # (withColumn would OVERWRITE the inner binding and
                    # fabricate matches)
                    part = part.filter(
                        F.col(name).isNull() | (F.col(name) == glit)
                    ).withColumn(name, F.coalesce(F.col(name), glit))
                else:
                    part = part.withColumn(name, glit)
                parts.append(part)
            return reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
            )
        # the named-graph compatibility extension, still one plan: a
        # bound ?g must name an existing graph, an unbound one expands to
        # one row per graph
        gdf = quads.select(F.col("g").alias(name)).distinct()
        if name not in out.columns:
            return out.crossJoin(gdf)
        nn = out.filter(F.col(name).isNotNull()).join(gdf, name, "left_semi")
        nu = out.filter(F.col(name).isNull()).drop(name).crossJoin(gdf)
        return nn.unionByName(nu)

    @staticmethod
    def _pattern_free(node, gname: str) -> bool:
        """True when the group under GRAPH ?g never touches the store
        (no triple/path patterns, no nested GRAPH/SERVICE, no EXISTS)
        and never READS the graph variable in an expression — such a
        group's solutions are identical for every graph, so one
        evaluation cross-joined with the distinct-graph relation
        replaces the per-graph driver loop."""
        for n in A.walk(node):
            if isinstance(n, A.BGP) and n.patterns:
                return False
            if isinstance(n, (A.Graph, A.Service)):
                return False
            exprs: list = []
            if isinstance(n, (A.Filter, A.Bind)):
                exprs.append(n.expr)
            if isinstance(n, A.Project):
                exprs.extend(e for _, e in n.exprs)
            if isinstance(n, A.Group):
                if gname in n.keys:
                    return False
                exprs.extend(a for _, a in n.aggs)
            if isinstance(n, A.OrderBy):
                exprs.extend(e for e, _ in n.keys)
            for e in exprs:
                for x in A.expr_nodes(e):
                    if isinstance(x, A.ExistsExpr) or (
                        isinstance(x, A.Var) and x.name == gname
                    ):
                        return False
        return True

    @staticmethod
    def _graph_column_ok(node, gname: str):
        """Truthy when every scan under GRAPH ?g binds g as a column —
        "plain" (no post-processing) or "guarded" (nested nodes present,
        _graph must post-apply the named-graph compatibility rule);
        False -> pattern-free device or per-graph fallback. Plain
        triple patterns (match_pattern) AND path shapes (closure fixpoints
        carry g as a group column, paths.py). Subquery wrappers (Project/
        Group/Distinct/OrderBy/Slice) stay on the single-plan route: the
        graph binding threads through them as a hidden grouping/projection
        column (_apply_project/_group/_graph_slice). The per-graph fallback
        remains only for:

        - nested GRAPH/SERVICE (a different active graph inside),
        - pattern-free groups (nothing to bind g from),
        - wrappers that would capture/shadow the graph variable's own name
          (a projected/aggregated/bound variable named like ?g).

        Keyless global aggregates stay on the single-plan route too: _group
        left-joins the distinct-graph list back in so empty graphs still
        yield their COUNT()=0 solution.

        NESTED GRAPH/SERVICE: a nested GRAPH ?h with
        patterns is NOT a fallback reason — its child is evaluated by its
        own spawned translator (graph_var=h), binding BOTH graph variables
        from quad columns in one plan; a nested GRAPH ?g (shadowing) binds
        the same column, and the natural join implements the spec's
        same-graph correlation. A nested SERVICE is an opaque leaf (its
        solutions are independent of the active graph). When EVERY store
        touch sits under a nested node the enclosing ?g never gets a
        column — that is fine exactly when nothing reads ?g during child
        evaluation (_graph extends with one row per named graph after);
        otherwise fall back. (The per-graph driver loop drops the g column,
        which would make the nested shape unanswerable outright.)"""
        stack, saw_pattern = [node], False
        saw_nested, reads_g = False, False
        while stack:
            n = stack.pop()
            if isinstance(n, A.LeftJoin) and Translator._binds_graph_var(
                n.right, gname
            ):
                # ?g bound INSIDE an OPTIONAL's right side (pattern term or
                # nested GRAPH variable): the single plan would equate it
                # with the active-graph quad column AT THE SCAN, which is
                # an outer-join filter pushdown — it turns "a compatible
                # right match exists but the outer graph join drops the
                # merged solution" into "no right match, left row kept
                # NULL-extended" (extra rows).
                # Inner/EXISTS/MINUS positions stay eager-safe: inner joins
                # commute with the filter, EXISTS uses substitution
                # semantics, MINUS only removes compatible (g-equal) rows.
                return False
            if isinstance(n, A.BGP):
                if not n.patterns:
                    return False
                saw_pattern = True
                continue
            if isinstance(n, A.Graph):
                t = n.term
                if isinstance(t, str) and t.startswith("?"):
                    saw_nested = True
                    if t[1:] == gname:
                        # shadowing: the inner spawn binds the SAME column
                        saw_pattern = True
                    continue  # inner child belongs to its own spawn
                # constant nested graph: evaluated over that graph's slice
                # (binds nothing of gname) — but its spawn DROPS g, so a
                # still-deeper GRAPH inside cannot run there
                if Translator._contains_graph(n.child):
                    return False
                saw_nested = True
                continue
            if isinstance(n, A.Service):
                saw_nested = True
                continue  # evaluated against the service store; no g
            if isinstance(n, (A.Filter, A.Bind)) and gname in A.expr_vars(n.expr):
                reads_g = True
            if isinstance(n, A.OrderBy) and any(
                gname in A.expr_vars(e) for e, _ in n.keys
            ):
                reads_g = True
            if isinstance(n, A.Project):
                # a SELECT list that NAMES ?g projects the hidden quad
                # column itself (the active graph — _apply_project keeps
                # it), so it stays on the single-plan route. Only a
                # COMPUTED alias (expr AS ?g) is an arbitrary
                # value and must fall back.
                if any(name == gname for name, _ in n.exprs):
                    return False
                if any(gname in A.expr_vars(e) for _, e in n.exprs):
                    reads_g = True
            if isinstance(n, A.Group):
                if gname in n.keys or any(name == gname for name, _ in n.aggs):
                    return False
                if any(gname in A.expr_vars(a) for _, a in n.aggs):
                    reads_g = True
            if isinstance(n, A.Bind) and n.var == gname:
                return False
            if isinstance(n, A.Values):
                if n.child is None:
                    return False  # pattern-free leaf: g would stay unbound
                if gname in n.varnames:
                    return False
            stack.extend(A.subnodes(n))
        if saw_pattern:
            # "guarded" when nested nodes exist: a nested child can bind
            # or NULL the graph variable, so _graph must post-apply the
            # named-graph compatibility rule; "plain" (no extra join)
            # when every g binding comes from a quad scan
            return "guarded" if saw_nested else "plain"
        # no direct pattern binds g: single-plan is still sound when the
        # nested nodes carry all the store touches AND nothing reads the
        # (not-yet-bound) ?g during child evaluation — _graph supplies it
        # afterwards via the compatibility extension
        return "guarded" if saw_nested and not reads_g else False

    @staticmethod
    def _binds_graph_var(node, gname: str) -> bool:
        """True when ``gname`` is bound INSIDE this subtree by a triple/
        path pattern TERM or a nested GRAPH variable — i.e. by anything
        other than the quad column itself. Used by _graph_column_ok to
        reject the OPTIONAL-right eager-equality shape (see the LeftJoin
        branch there); Bind/Values bindings are rejected globally by the
        caller's own checks."""
        tv = "?" + gname
        return any(
            (isinstance(n, A.BGP)
             and any(tv in A.pattern_terms(p) for p in n.patterns))
            or (isinstance(n, A.Graph) and n.term == tv)
            for n in A.walk(node)
        )

    @staticmethod
    def _contains_graph(node) -> bool:
        return any(isinstance(n, (A.Graph, A.Service)) for n in A.walk(node))

    def _construct(self, node: A.Construct) -> DataFrame:
        """CONSTRUCT: instantiate each template pattern against the
        bindings, union, dedup (a graph is a set of triples)."""
        child = self.eval(node.child)
        if len(node.template) > 1 and self._contains_slice(node.child):
            # solution modifiers on CONSTRUCT: each template pattern
            # re-reads the child, and a LIMIT re-executes per reader —
            # without a total order the re-runs may pick DIFFERENT rows,
            # instantiating the template against inconsistent solution
            # sets. Pin the (small: it is post-LIMIT) solution sequence.
            child = child.localCheckpoint(eager=False)

        def term_col(term):
            if isinstance(term, str) and term.startswith("?"):
                # a template variable the WHERE binds nowhere is legal
                # SPARQL — every instance is just omitted (review r6:
                # F.col crashed on it)
                if term[1:] not in child.columns:
                    return F.lit(None).cast("string")
                return F.col(term[1:])
            return F.lit(term)

        parts = [
            child.select(
                term_col(tp.s).alias("s"), term_col(tp.p).alias("p"), term_col(tp.o).alias("o")
            # solutions with an UNBOUND template variable instantiate
            # nothing, per spec (same rule engine.update applies) —
            # na.drop per part, so one OPTIONAL-missed variable does not
            # suppress the template's OTHER patterns (review r6)
            ).na.drop()
            for tp in node.template
        ]
        return reduce(lambda a, b: a.unionByName(b), parts).dropDuplicates()

    @staticmethod
    def _contains_slice(node) -> bool:
        # Walk the FULL algebra tree, not just the `child` spine: a LIMIT
        # inside a subquery under a Join/LeftJoin (e.g. CONSTRUCT ... WHERE
        # { {SELECT ... LIMIT 5} ?s ?p ?o }) carries the same
        # nondeterministic re-execution hazard the pin exists for.
        # Conservative over-detection only costs a lazy localCheckpoint
        # on a query that has an explicit LIMIT somewhere.
        return any(isinstance(n, A.Slice) for n in A.walk(node))

    # ------------- BGP: star decomposition + greedy star chaining -------------

    def _bgp(self, node: A.BGP) -> DataFrame:
        if not node.patterns:
            # unit table: one row, zero columns
            return self.spark.range(1).select()
        _pathlike = (A.PathPattern, A.PropSetPattern, A.AltPath, A.ClosurePattern)
        paths = [p for p in node.patterns if isinstance(p, _pathlike)]
        plain = [p for p in node.patterns if not isinstance(p, _pathlike)]
        if not plain:
            base = None
            for p in paths:  # later paths seed from earlier paths' bindings
                pdf = self._path(p, base)
                base = pdf if base is None else join_bindings(base, pdf)
            return base
        by_subject: dict[object, list[TriplePattern]] = {}
        for tp in plain:
            by_subject.setdefault(tp.s, []).append(tp)
        stars = list(by_subject.values())
        ordered = self._order_stars(stars)
        base = reduce(
            join_bindings,
            (self._star(star, ordered) for star in ordered),
        )
        for p in paths:  # property paths join in after the plain BGP,
            # seeding closures from the already-bound variables
            base = join_bindings(base, self._path(p, base))
        return base

    def _order_stars(self, stars: list) -> list:
        """Inter-star join order (r9, VERDICT r8 #7). The same
        R' = R * card / max(nd, ns) chain estimate that orders patterns
        WITHIN a star (operators/rdf_patterns._chain_state) now also picks
        which star joins NEXT: each star is priced to (rows, per-variable
        ndv) — subject ndv from the chain estimate, object-variable ndv
        from the predicate's ndv_o capped at the star's rows — and the
        greedy step joins the connected star minimizing the estimated
        output rows / product over shared variables of max(ndv each side).
        Connectivity stays the HARD constraint (a star sharing a variable
        always beats a cartesian, as before). Count-only stats, missing
        ndv, or a variable predicate in any star degrade to the previous
        greedy connectivity order in registration order."""
        from d_sparq_spark.operators.rdf_patterns import (
            _is_var as _isv,
            _stat_row,
            _stats_dict,
            estimate_star,
        )

        def star_vars(st: list) -> set:
            return set().union(*(set(tp.variables()) for tp in st))

        ests = [estimate_star(s, self.stats) for s in stars]
        if len(stars) <= 1 or any(e is None for e in ests):
            # previous behavior: parse-order seed, connectivity-greedy
            stars = list(stars)
            ordered: list = [stars.pop(0)]
            bound = star_vars(ordered[0])
            while stars:
                idx = next(
                    (i for i, st in enumerate(stars) if bound & star_vars(st)),
                    0,
                )
                st = stars.pop(idx)
                ordered.append(st)
                bound |= star_vars(st)
            return ordered

        st = _stats_dict(self.stats)
        infos = []
        for s, (rows, subjects) in zip(stars, ests):
            rows = max(rows, 1.0)
            ndv: dict = {}
            if _isv(s[0].s):
                ndv[s[0].s[1:]] = max(min(subjects, rows), 1.0)
            for tp in s:
                if _isv(tp.o):
                    ndv_o = _stat_row(st, tp.p)[2] or 1
                    v = tp.o[1:]
                    cand = max(min(float(ndv_o), rows), 1.0)
                    ndv[v] = min(ndv.get(v, float("inf")), cand)
            infos.append([s, rows, ndv])
        # seed: the smallest estimated star (stable under ties)
        first_i = min(range(len(infos)), key=lambda i: infos[i][1])
        first = infos.pop(first_i)
        ordered = [first[0]]
        rows, ndv = first[1], dict(first[2])
        while infos:
            connected = [
                i for i, (s, _r, nd) in enumerate(infos) if set(nd) & set(ndv)
            ]
            candidates = connected or range(len(infos))
            best_i = best_est = None
            for i in candidates:
                _s, r, nd = infos[i]
                divisor = 1.0
                for v in set(nd) & set(ndv):
                    divisor *= max(ndv[v], nd[v], 1.0)
                est = rows * r / divisor
                if best_est is None or est < best_est:
                    best_i, best_est = i, est
            s, r, nd = infos.pop(best_i)
            ordered.append(s)
            rows = max(best_est, 1.0)
            ndv = {
                v: max(min(ndv.get(v, float("inf")), nd.get(v, float("inf")), rows), 1.0)
                for v in set(ndv) | set(nd)
            }
        return ordered

    def _star(self, star: list[TriplePattern], all_stars: list) -> DataFrame:
        """One subject star, routed through the physical layout the catalog
        says is cheapest: the PROPERTY TABLE (zero joins) when the star
        qualifies, else the join chain over per-pattern sources where each
        scan may be an ExtVP semi-join reduction instead of the full store
        (SS for same-star siblings, OS when the pattern's object is another
        star's subject variable). Both substitutions are answer-preserving
        because stars and star-chains are inner joins — see plans/catalog.py."""
        if self.catalog is None:
            return star_join(self.triples, star, self.stats, graph_var=self.graph_var)
        pt = self.catalog.star_from_property_table(star, self.graph_var)
        if pt is not None:
            return pt
        const_preds_by_subject: dict[object, set] = {}
        for st in all_stars:
            preds = {tp.p for tp in st if not isinstance(tp.p, str) or not tp.p.startswith("?")}
            const_preds_by_subject[st[0].s] = preds

        def source_for(tp: TriplePattern) -> DataFrame | None:
            if self.graph_var is not None:
                return None  # reductions are triple-level; g must ride the scan
            ss = {p for p in const_preds_by_subject.get(tp.s, set()) if p != tp.p}
            os_peers = set()
            if isinstance(tp.o, str) and tp.o.startswith("?"):
                os_peers = const_preds_by_subject.get(tp.o, set())
            return self.catalog.pattern_source(tp, ss, os_peers)

        return star_join(
            self.triples, star, self.stats, graph_var=self.graph_var, source_for=source_for
        )

    # Internal graph-binding column for the path/propset machinery. The
    # graph VARIABLE's own name must never be used as a working column on
    # the raw store or the closure pair frames — `GRAPH ?p { ... }` or
    # `GRAPH ?src { ... }` would silently overwrite a store/closure
    # column. The binding rides as _GBIND and becomes the user-visible
    # variable only in _bind_endpoints' output projection.
    _GBIND = "__gbind"

    def _pred_edges(self, pred) -> DataFrame:
        """Edge set of one predicate; under GRAPH ?g the g column rides
        along (as _GBIND) so closures stay per-graph."""
        base = self.triples.filter(F.col("p") == F.lit(pred))
        cols = [F.col("s").alias("src"), F.col("o").alias("dst")]
        if self.graph_var is not None:
            cols = [F.col("g").alias(self._GBIND)] + cols
        return base.select(*cols)

    def _path(self, p, bound: DataFrame | None = None) -> DataFrame:
        """Evaluate a path-like pattern to a bindings DataFrame. ``bound``
        is the bindings accumulated so far — closure paths whose endpoint
        is constant or already bound seed their fixpoint from it."""
        if isinstance(p, A.PropSetPattern):
            return self._propset(p)
        if isinstance(p, A.AltPath):
            return self._altpath(p)
        if isinstance(p, A.ClosurePattern):
            return self._closure(p, bound)
        edges = self._pred_edges(p.p)
        if p.op == "?":
            pairs = edges.unionByName(self._zero_pairs(edges)).distinct()
        else:
            pairs = self._closure_pairs(edges, p.op, p.s, p.o, bound)
        return self._bind_endpoints(pairs, p.s, p.o, "src", "dst")

    def _closure(self, p: A.ClosurePattern, bound: DataFrame | None = None) -> DataFrame:
        """Closure over a composite path: the inner path's BGP (evaluated
        once) IS the edge set; +/*/? then reuse the same fixpoint machinery
        as single-predicate paths. Zero-length paths are restricted to the
        edge set's domain/range (the same restriction single-predicate p*
        applies — full spec semantics would pair every term). Under GRAPH ?g
        the inner BGP binds g on every scan, so the edge set — and hence
        the fixpoint — is per-graph by construction."""
        gv = self.graph_var
        sel = ([F.col(gv).alias(self._GBIND)] if gv else []) + [
            F.col(p.src_var).alias("src"),
            F.col(p.dst_var).alias("dst"),
        ]
        edges = self._bgp(A.BGP(list(p.patterns))).select(*sel)
        if p.op == "?":
            pairs = edges.unionByName(self._zero_pairs(edges)).distinct()
        else:
            pairs = self._closure_pairs(edges, p.op, p.s, p.o, bound)
        return self._bind_endpoints(pairs, p.s, p.o, "src", "dst")

    def _zero_pairs(self, edges: DataFrame) -> DataFrame:
        """Zero-length (x, x) pairs over an edge set's domain/range,
        keeping the graph column when one rides the edges."""
        keys = [self._GBIND] if self.graph_var else []
        nodes = (
            edges.select(*keys, F.col("src").alias("n"))
            .unionByName(edges.select(*keys, F.col("dst").alias("n")))
            .distinct()
        )
        return nodes.select(*keys, F.col("n").alias("src"), F.col("n").alias("dst"))

    def _seed_df(self, term, bound: DataFrame | None) -> DataFrame | None:
        """Seed set for one closure endpoint: a constant term -> 1-row df;
        a variable the BGP already bound -> its distinct values (stays a
        DataFrame — no driver collect); else None (no seeding). Under
        GRAPH ?g a bound variable's seeds carry the g they were bound in,
        so seeding stays per-graph; a constant seeds every graph."""
        if isinstance(term, str) and term.startswith("?"):
            if bound is not None and term[1:] in bound.columns:
                gv = self.graph_var
                if gv is not None and gv in bound.columns and gv != term[1:]:
                    return bound.select(
                        F.col(gv).alias(self._GBIND), F.col(term[1:]).alias("n")
                    ).distinct()
                return bound.select(F.col(term[1:]).alias("n")).distinct()
            return None
        dt = dict(self.triples.dtypes)["s"]  # lexical: string; encoded: bigint
        return local_df(self.spark, [(term,)], f"n {dt}")

    def _closure_pairs(
        self, edges: DataFrame, op: str, s, o, bound: DataFrame | None
    ) -> DataFrame:
        """+/* reachability pairs over an edge set, seeded from a bound
        endpoint when one exists: `<x> p+ ?y` iterates a frontier from x
        (state = pairs reachable from the seeds) instead of closing the
        whole graph and filtering — the O(all reachable pairs) vs
        O(frontier) difference at 100 TB (paths.seeded_closure)."""
        from d_sparq_spark.operators.paths import seeded_closure, transitive_closure

        gv = self._GBIND if self.graph_var else None
        keys = [gv] if gv else []
        fwd = self._seed_df(s, bound)
        rev = None if fwd is not None else self._seed_df(o, bound)
        if fwd is not None:
            pairs = seeded_closure(edges, fwd, group_col=gv)
            zero_nodes = fwd
        elif rev is not None:
            rev_pairs = seeded_closure(
                edges.select(
                    *keys, F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
                rev,
                group_col=gv,
            )
            pairs = rev_pairs.select(
                *keys, F.col("dst").alias("src"), F.col("src").alias("dst")
            )
            zero_nodes = rev
        else:
            pairs = transitive_closure(edges, group_col=gv)
            zero_nodes = None
        if op == "*":
            zero = self._zero_pairs(edges)
            if zero_nodes is not None:  # only seed nodes can appear as src
                on = ["src"] + [k for k in keys if k in zero_nodes.columns]
                zero = zero.join(
                    zero_nodes.withColumnRenamed("n", "src"), on, "left_semi"
                )
            pairs = pairs.unionByName(zero).distinct()
        return pairs

    def _propset(self, p: A.PropSetPattern) -> DataFrame:
        """s (p1|p2) o / s !(p1|p2|^q1) o: predicate-set membership scans.
        At scale the positive form partition-prunes on the VP store's p
        directories; the negated form is a full scan by necessity.

        Negated sets follow SPARQL 1.1 §18.2.2.6: the forward members
        exclude forward edges, the ^-members exclude REVERSE edges, and
        the result is the bag union of whichever components have members
        (a set of only ^-members has no forward component at all)."""
        store = self.triples
        if self.graph_var is not None:
            store = store.withColumn(self._GBIND, F.col("g"))
        if not p.negated:
            df = store.filter(F.col("p").isin(list(p.preds)))
            return self._bind_endpoints(df, p.s, p.o, "s", "o")
        parts = []
        if p.preds or not p.inv_preds:  # forward component
            df = store.filter(~F.col("p").isin(list(p.preds)))
            parts.append(self._bind_endpoints(df, p.s, p.o, "s", "o"))
        if p.inv_preds:  # inverse component: endpoints swap columns
            df = store.filter(~F.col("p").isin(list(p.inv_preds)))
            parts.append(self._bind_endpoints(df, p.s, p.o, "o", "s"))
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _altpath(self, p: A.AltPath) -> DataFrame:
        """General path alternative: bag union of the branch BGPs, projected
        to the shared endpoint variables (plus g under GRAPH ?g — every
        branch binds it, so the union stays graph-correlated)."""
        out_vars = [t[1:] for t in (p.s, p.o) if isinstance(t, str) and t.startswith("?")]
        # ?x (p|q) ?x binds ONE variable (each branch BGP already applied
        # the repeated-variable equality) — selecting it twice produced a
        # duplicate-named frame that crashed downstream (review r6)
        out_vars = list(dict.fromkeys(out_vars))
        if self.graph_var is not None and self.graph_var not in out_vars:
            out_vars.append(self.graph_var)
        branches = [self._bgp(A.BGP(list(br))).select(*out_vars) for br in p.branches]
        return reduce(lambda a, b: a.unionByName(b), branches)

    def _bind_endpoints(self, df: DataFrame, s, o, s_col: str, o_col: str) -> DataFrame:
        """Bind/filter the two endpoint terms of a pair-producing operator;
        handles constants and the repeated-variable case (?x p+ ?x). Under
        GRAPH ?g the graph binding rides in as _GBIND and projects out
        under the graph variable's name — when the graph variable IS one
        of the endpoint variables (GRAPH ?x { ... p+ ?x }), SPARQL's
        repeated-variable semantics apply: equality filter, one column."""
        gv = self.graph_var if (
            self.graph_var is not None and self._GBIND in df.columns
        ) else None
        if (
            isinstance(s, str) and s.startswith("?")
            and s == o
        ):
            df = df.filter(F.col(s_col) == F.col(o_col))
            if gv is not None and gv == s[1:]:
                df = df.filter(F.col(self._GBIND) == F.col(s_col))
                return df.select(F.col(s_col).alias(s[1:]))
            out = [F.col(s_col).alias(s[1:])]
            if gv is not None:
                out.append(F.col(self._GBIND).alias(gv))
            return df.select(*out)
        cols, var_to_col = [], {}
        for endpoint, col in ((s, s_col), (o, o_col)):
            if isinstance(endpoint, str) and endpoint.startswith("?"):
                var_to_col[endpoint[1:]] = col
                cols.append(F.col(col).alias(endpoint[1:]))
            else:
                df = df.filter(F.col(col) == F.lit(endpoint))
        if gv is not None:
            if gv in var_to_col:  # graph var repeats an endpoint var
                df = df.filter(F.col(self._GBIND) == F.col(var_to_col[gv]))
            else:
                cols.append(F.col(self._GBIND).alias(gv))
        return df.select(*cols) if cols else df.select()

    # ------------- FILTER (incl. EXISTS / NOT EXISTS) -------------

    def _filter(self, node: A.Filter) -> DataFrame:
        child = self.eval(node.child)
        e = node.expr
        if isinstance(e, A.ExistsExpr):
            right = self.eval(e.group)
            shared = sorted(set(child.columns) & set(right.columns))
            if shared:
                return self._compat_semi_anti(
                    child, right, shared, anti=e.negated, require_overlap=False
                )
            nonempty = bool(right.limit(1).take(1))
            keep = nonempty != e.negated
            return child if keep else child.limit(0)
        return child.filter(self.expr(e, child))

    # Shared-variable columns in THIS engine hold lexical strings; any
    # numeric column on one side of a compatibility merge (a BIND output,
    # a padded NULL) reconciles toward string so coalesce keeps lexical
    # comparison semantics. _EncodedTranslator flips this: its bindings
    # are bigint dictionary ids and a string-typed side can only be an
    # all-NULL padding column (an all-UNDEF VALUES column, a subquery
    # projecting an unbound var) — coercing the merge to STRING there
    # turns ids into digit strings that the bigint-only decode then skips,
    # leaking raw ids into results (review r5).
    _ID_TYPED = False

    def _reconcile_shared_types(
        self, left: DataFrame, right: DataFrame, shared: list[str]
    ) -> tuple[DataFrame, DataFrame]:
        lt, rt = dict(left.dtypes), dict(right.dtypes)
        for v in shared:
            if lt[v] == rt[v]:
                continue
            target = (
                (rt[v] if lt[v] == "string" else lt[v])
                if self._ID_TYPED
                else "string"
            )
            if lt[v] != target:
                left = left.withColumn(v, F.col(v).cast(target))
            if rt[v] != target:
                right = right.withColumn(v, F.col(v).cast(target))
        return left, right

    def _join_compat(
        self, left: DataFrame, right: DataFrame, node_l, node_r, how: str
    ) -> DataFrame:
        """Join/LeftJoin under SPARQL solution COMPATIBILITY (§18.3): an
        unbound (NULL) shared variable is compatible with anything, and
        the merged solution takes whichever side bound it. A plain
        equi-join treats the NULL as a never-matching key — wrong whenever
        OPTIONAL/UNION/VALUES-UNDEF left a shared variable partially
        bound (r5 W3C sweep: double_optional_shared_var,
        values_undef_wildcard).

        Plan shape: certain_vars (static algebra analysis, zero runtime
        probes) splits the shared variables into certainly-bound — plain
        hash-join keys, which is every standard BGP chain, so the fast
        path is byte-identical to before — and maybe-unbound, which add
        IS NULL-compatible residual conditions plus a COALESCE merge.
        With at least one certain key Spark still plans a hash join with
        residuals; the all-maybe shape degrades to a conditioned join
        (query-shaped rarity; the 2^k null-pattern split of
        _compat_semi_anti is the known upgrade if it ever matters)."""
        shared = sorted(set(left.columns) & set(right.columns))
        if not shared:
            return join_bindings(left, right, how)
        cl, cr = A.certain_vars(node_l), A.certain_vars(node_r)
        # the hidden GRAPH ?g column is projected into every pattern by
        # this translator and is never NULL — certain_vars (pure algebra)
        # can't see it, and demoting it to a residual condition would turn
        # a g-only join inside GRAPH ?g into a nested loop
        maybe = [
            v for v in shared
            if (v not in cl or v not in cr) and v != self.graph_var
        ]
        if not maybe:
            return join_bindings(left, right, how)
        left, right = self._reconcile_shared_types(left, right, shared)
        rr = right
        for v in shared:
            rr = rr.withColumnRenamed(v, f"__jc_{v}")
        cond = F.lit(True)
        for v in shared:
            if v in maybe:
                c = (
                    left[v].isNull()
                    | rr[f"__jc_{v}"].isNull()
                    | (left[v] == rr[f"__jc_{v}"])
                )
            else:
                c = left[v] == rr[f"__jc_{v}"]
            cond = cond & c
        out = left.join(rr, cond, how)
        for v in shared:
            out = out.withColumn(
                v, F.coalesce(left[v], rr[f"__jc_{v}"])
            ).drop(f"__jc_{v}")
        return out

    def _leftjoin_cond(self, left: DataFrame, node: A.LeftJoin) -> DataFrame:
        """LeftJoin(A, B, F) where F references A-side variables
        (§18.2.2.5): the condition evaluates over the MERGED solution, so
        it cannot run inside the right group — there the outer variables
        read as unbound and kill every right row (review r6). Left
        solutions get a surrogate id (monotonically_increasing_id is only
        stable under reuse, hence the localCheckpoint pin); the compat
        left-outer join merges, F filters the matches, and left rows with
        NO surviving match come back null-extended — exactly the spec's
        Filter(F, Join(A,B)) ∪ Diff(A, B, F)."""
        right = self.eval(node.right).withColumn("__rm", F.lit(1))
        lid = left.withColumn(
            "__lid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=False)
        j = self._join_compat(lid, right, node.left, node.right, "left_outer")
        matched = self._apply_leftjoin_condition(j, node.cond)
        rtypes = dict(right.dtypes)
        unmatched = lid.join(matched.select("__lid"), "__lid", "left_anti")
        for c in [c for c in j.columns if c not in unmatched.columns]:
            unmatched = unmatched.withColumn(c, F.lit(None).cast(rtypes[c]))
        return (
            matched.select(*j.columns)
            .unionByName(unmatched.select(*j.columns))
            .drop("__lid", "__rm")
        )

    def _apply_leftjoin_condition(self, j: DataFrame, cond) -> DataFrame:
        """Rows of the merged left-outer frame that HAVE a right match
        (__rm) and satisfy F (error -> false). Overridden by the encoded
        translator to shadow-decode the encoded columns F references."""
        return j.filter(
            F.col("__rm").isNotNull()
            & F.coalesce(self.expr(cond, j).cast("boolean"), F.lit(False))
        )

    def _compat_semi_anti(
        self,
        child: DataFrame,
        right: DataFrame,
        shared: list[str],
        anti: bool,
        require_overlap: bool,
        equal_keys: list[str] | None = None,
    ) -> DataFrame:
        """Semi/anti join under SPARQL solution COMPATIBILITY: an unbound
        (NULL) variable is compatible with anything — equality is required
        only where BOTH sides bind. A plain equi semi/anti join treats the
        NULL as a never-matching key and silently mis-filters rows that
        OPTIONAL/UNION left partially bound.

        require_overlap=True adds MINUS's extra condition: the right
        solution must share at least one mutually BOUND variable.

        equal_keys: columns joined by PLAIN equality on every path and
        excluded from the overlap rule — the hidden GRAPH ?g binding
        (never NULL, not a user variable): it correlates the two sides
        per graph without satisfying MINUS's overlap by itself (r6).

        Plan shape (the 100 TB concern): the child is split STATICALLY by
        its null-pattern over the shared vars — 2^k branches, k = number
        of shared vars (k is query-sized, guarded <= 3) — and every branch
        is a plain HASH semi/anti join on its bound subset; no action over
        the child, no nested-loop join. Only when the RIGHT side itself
        carries NULLs in shared columns (detected with one tiny aggregate
        over its deduplicated shared projection) does the fully-
        conditioned join run — and then against that smaller projection.
        """
        from itertools import product

        how = "left_anti" if anti else "left_semi"
        # persist: the probe aggregate below MATERIALIZES this projection
        # at translate time; without the pin the whole right subplan would
        # run a second time inside the returned plan (review r4). The
        # cached set is the deduplicated shared-variable projection —
        # bounded by the distinct binding combinations, not the store.
        equal_keys = list(equal_keys or ())
        r = right.select(*(shared + equal_keys)).dropDuplicates().persist()
        self._pin(r)
        stats = r.agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.max(F.col(v).isNull().cast("int")).alias(v) for v in shared],
        ).first()
        r_nonempty = (stats["__n"] or 0) > 0
        r_has_null = any(stats[v] == 1 for v in shared)

        if r_has_null or len(shared) > 3:
            rr = r
            for v in shared + equal_keys:
                rr = rr.withColumnRenamed(v, f"__r_{v}")
            compat = None
            overlap = None
            for v in shared:
                c = (
                    F.col(v).isNull()
                    | F.col(f"__r_{v}").isNull()
                    | (F.col(v) == F.col(f"__r_{v}"))
                )
                compat = c if compat is None else compat & c
                b = F.col(v).isNotNull() & F.col(f"__r_{v}").isNotNull()
                overlap = b if overlap is None else overlap | b
            cond = compat & overlap if require_overlap else compat
            for k in equal_keys:
                cond = cond & (F.col(k) == F.col(f"__r_{k}"))
            return child.join(rr, cond, how)

        parts = []
        for mask in product((False, True), repeat=len(shared)):
            sel = None
            for v, is_null in zip(shared, mask):
                c = F.col(v).isNull() if is_null else F.col(v).isNotNull()
                sel = c if sel is None else sel & c
            sub = child.filter(sel)
            bound = [v for v, is_null in zip(shared, mask) if not is_null]
            if bound:
                on = bound + equal_keys
                parts.append(
                    sub.join(r.select(*on).dropDuplicates(), on=on, how=how)
                )
            elif require_overlap:
                parts.append(sub)  # MINUS: no mutual binding -> never removed
            elif equal_keys:
                # EXISTS with no mutually-bound user var: a compatible
                # right solution must still come from the SAME graph
                parts.append(
                    sub.join(
                        r.select(*equal_keys).dropDuplicates(),
                        on=equal_keys, how=how,
                    )
                )
            else:
                keep = r_nonempty != anti
                parts.append(sub if keep else sub.limit(0))
        return reduce(lambda a, b: a.unionByName(b), parts)

    # ------------- GROUP BY + aggregates -------------

    def _group(self, node: A.Group) -> DataFrame:
        child = self.eval(node.child)
        aggs = [self._aggregate(a, child).alias(name) for name, a in node.aggs]
        keys = list(node.keys)
        # subquery aggregation under GRAPH ?g, single-plan route: each
        # graph's dataset aggregates independently, so the graph binding
        # joins the grouping keys (it is constant within a group, so
        # COUNT(DISTINCT *) over all columns is unchanged).
        gv = self.graph_var
        if gv is not None and gv in child.columns:
            if not node.keys:
                # keyless global aggregate: every named graph must yield
                # one solution even when the inner pattern matches NOTHING
                # in it — groupBy(g) drops those graphs, so left-join the
                # distinct-graph list back in and fill what Spark's
                # empty-input aggregate would have produced (COUNT -> 0,
                # everything else NULL — identical to the per-graph loop's
                # child.agg() over an empty frame). Still ONE plan, no
                # driver-side graph enumeration.
                grouped = child.groupBy(gv).agg(*aggs)
                all_g = self.triples.select(F.col("g").alias(gv)).distinct()
                out = all_g.join(grouped, gv, "left")
                for name, a in node.aggs:
                    if a.func == "count":
                        out = out.withColumn(
                            name, F.coalesce(F.col(name), F.lit(0).cast("long"))
                        )
                return out
            if gv not in keys:
                keys.append(gv)
        if not aggs:
            # GROUP BY with no aggregates in the SELECT list: grouped
            # solutions project their keys — DISTINCT over the key
            # columns (groupBy().agg() with zero exprs is a Spark
            # AssertionError, review r6; the parser guarantees keys is
            # non-empty when aggs is)
            return child.select(*keys).dropDuplicates()
        if keys:
            return child.groupBy(*keys).agg(*aggs)
        return child.agg(*aggs)

    def _aggregate(self, a: A.Aggregate, df: DataFrame) -> Column:
        if a.func == "count":
            if a.arg is None:
                if a.distinct and df.columns:
                    # COUNT(DISTINCT *): distinct SOLUTIONS, not rows
                    return F.count_distinct(F.struct(*[F.col(c) for c in df.columns]))
                return F.count(F.lit(1))
            c = self.expr(a.arg, df)
            return F.count_distinct(c) if a.distinct else F.count(c)
        arg_numeric = a.func in ("sum", "avg") or _is_numeric_expr(a.arg)
        c = self.expr(a.arg, df, numeric=arg_numeric)
        if a.func == "sum":
            d = c.cast(DEC)
            return (F.sum_distinct(d) if a.distinct else F.sum(d)).cast("double")
        if a.func == "avg":
            # exact decimal sum / count — order-insensitive (helpers.py)
            if a.distinct:
                return F.sum_distinct(c.cast(DEC)).cast("double") / F.count_distinct(c)
            return (F.sum(c.cast(DEC)).cast("double") / F.count(c))
        if a.func in ("min", "max"):
            if isinstance(a.arg, A.Var) and dict(df.dtypes).get(a.arg.name) == "string":
                # typed numeric literals compare by VALUE (same device as
                # _order_cols, so MIN(?o) and ORDER BY ?o LIMIT 1 agree —
                # review r6 found them answering differently): the struct
                # key orders by (typed value, lexical term); plain terms
                # have a NULL value key, which sorts below every typed
                # numeric in BOTH directions (struct NULL field = smallest),
                # exactly matching ORDER BY's asc-nulls-first/desc-nulls-
                # last pair of sort keys.
                # the key must be NULL when the VALUE is NULL: min_by
                # skips null-ordered rows like plain MIN skips nulls —
                # struct(NULL, NULL) is itself non-null and would sort
                # below every real value, making MIN over a partially
                # OPTIONAL-bound column return NULL (review r6)
                key = F.when(
                    c.isNotNull(),
                    F.struct(_typed_value_key(c).alias("v"), c.alias("t")),
                )
                return F.min_by(c, key) if a.func == "min" else F.max_by(c, key)
            return F.min(c) if a.func == "min" else F.max(c)
        if a.func == "group_concat":
            # SPARQL leaves element order undefined; we sort for determinism
            coll = F.collect_set(c) if a.distinct else F.collect_list(c)
            return F.concat_ws(a.separator, F.array_sort(coll))
        if a.func == "sample":
            return F.min(c)  # deterministic SAMPLE
        raise ValueError(f"SPARQL: unsupported aggregate {a.func}")

    # ------------- expressions -------------

    def expr(self, e, df: DataFrame, numeric: bool = False) -> Column:
        if isinstance(e, A.Var):
            if e.name not in df.columns:
                # a variable bound NOWHERE in scope is unbound in every
                # solution: SPARQL evaluates it as a type error, so the
                # expression yields NULL (FILTER drops, BOUND() is false,
                # COALESCE falls through) — not an analysis crash (r5
                # W3C sweep: filter_unbound_var_is_error_row_dropped)
                return F.lit(None)
            c = F.col(e.name)
            # try_cast, not cast: under ANSI mode a pushed-down numeric
            # predicate may evaluate over non-numeric terms (e.g. pushed
            # into a dictionary-decode join) — SPARQL type errors must
            # yield unbound/false, never abort the query. _lex_form first
            # so '"5"^^xsd:int' coerces by its lexical value.
            return _lex_form(c).try_cast("double") if numeric else c
        if isinstance(e, A.Lit):
            if isinstance(e.value, bool):
                return F.lit(e.value)
            if e.is_numeric:
                return F.lit(float(e.value))
            return F.lit(e.value)
        if isinstance(e, A.UnOp):
            if e.op == "!":
                return ~self.expr(e.operand, df)
            return -self.expr(e.operand, df, numeric=True)
        if isinstance(e, A.BinOp):
            return self._binop(e, df)
        if isinstance(e, A.FuncCall):
            return self._func(e, df)
        if isinstance(e, A.Aggregate):
            return self._aggregate(e, df)
        if isinstance(e, A.ExistsExpr):
            raise ValueError("SPARQL: EXISTS only supported directly under FILTER")
        raise TypeError(f"SPARQL expr: unknown node {type(e).__name__}")

    def _binop(self, e: A.BinOp, df: DataFrame) -> Column:
        op = e.op
        if op in ("||", "&&"):
            l, r = self.expr(e.left, df), self.expr(e.right, df)
            return (l | r) if op == "||" else (l & r)
        if op == "IN":
            items = e.right
            num = any(_is_numeric_expr(i) for i in items) or _is_numeric_expr(e.left)
            l = self.expr(e.left, df, numeric=num)
            return l.isin([self.expr(i, df, numeric=num) for i in items])
        if op in ("+", "-", "*", "/"):
            l = self.expr(e.left, df, numeric=True)
            r = self.expr(e.right, df, numeric=True)
            return {"+": l + r, "-": l - r, "*": l * r, "/": l / r}[op]
        # comparisons: coerce both sides numeric if either side is numeric
        num = _is_numeric_expr(e.left) or _is_numeric_expr(e.right)
        l = self.expr(e.left, df, numeric=num)
        r = self.expr(e.right, df, numeric=num)
        return {
            "=": l == r, "!=": l != r,
            "<": l < r, "<=": l <= r, ">": l > r, ">=": l >= r,
        }[op]

    def _func(self, e: A.FuncCall, df: DataFrame) -> Column:
        name, args = e.name, e.args
        if name in _XSD_CASTS:
            return self.expr(args[0], df).try_cast(_XSD_CASTS[name])
        if name == "regex":
            pat = args[1].value if isinstance(args[1], A.Lit) else None
            if pat is None:
                raise ValueError("SPARQL regex: pattern must be a literal")
            if len(args) == 3 and isinstance(args[2], A.Lit) and "i" in str(args[2].value):
                pat = "(?i)" + pat
            return _lex_form(self.expr(args[0], df)).rlike(pat)
        if name == "bound":
            return self.expr(args[0], df).isNotNull()
        if name == "str":  # lexical form (typed/tagged literals stripped)
            return _lex_form(self.expr(args[0], df).cast("string"))
        # String functions operate on the LEXICAL FORM (review r6:
        # STRLEN('"chat"@en') used to count the quotes and tag);
        # value-returning ones rebuild the original tag/datatype wrapper.
        if name == "strlen":
            return F.length(_lex_form(self.expr(args[0], df))).cast("long")
        if name == "contains":
            return F.contains(
                _lex_form(self.expr(args[0], df)), _lex_form(self.expr(args[1], df))
            )
        if name == "strstarts":
            return F.startswith(
                _lex_form(self.expr(args[0], df)), _lex_form(self.expr(args[1], df))
            )
        if name == "strends":
            return F.endswith(
                _lex_form(self.expr(args[0], df)), _lex_form(self.expr(args[1], df))
            )
        if name == "ucase":
            orig = self.expr(args[0], df)
            return _rebuild_literal(orig, F.upper(_lex_form(orig)))
        if name == "lcase":
            orig = self.expr(args[0], df)
            return _rebuild_literal(orig, F.lower(_lex_form(orig)))
        if name == "concat":
            # simple-literal result (the all-same-tag preservation rule is
            # a documented subset restriction)
            return F.concat(*(_lex_form(self.expr(a, df)) for a in args))
        if name == "abs":
            return F.abs(self.expr(args[0], df, numeric=True))
        if name == "coalesce":
            return F.coalesce(*(self.expr(a, df) for a in args))
        if name == "if":
            # a type-error (NULL) condition makes IF itself an error
            # (§17.4.1.2) — two one-sided WHENs leave it NULL instead of
            # falling through to the else branch (review r6)
            c = self.expr(args[0], df)
            return F.when(c, self.expr(args[1], df)).when(
                ~c, self.expr(args[2], df)
            )
        if name == "sameterm":
            return self.expr(args[0], df) == self.expr(args[1], df)
        if name == "replace":
            orig = self.expr(args[0], df)
            return _rebuild_literal(
                orig,
                F.regexp_replace(
                    _lex_form(orig),
                    args[1].value if isinstance(args[1], A.Lit) else self.expr(args[1], df),
                    args[2].value if isinstance(args[2], A.Lit) else self.expr(args[2], df),
                ),
            )
        if name == "substr":  # SPARQL SUBSTR is 1-based, length optional
            orig = self.expr(args[0], df)
            s = _lex_form(orig)
            start = self.expr(args[1], df, numeric=True).cast("int")
            length = (
                self.expr(args[2], df, numeric=True).cast("int")
                if len(args) > 2
                else F.length(s)
            )
            return _rebuild_literal(orig, s.substr(start, length))
        if name in ("strbefore", "strafter"):
            orig = self.expr(args[0], df)
            s = _lex_form(orig)
            if not isinstance(args[1], A.Lit):
                raise ValueError(f"SPARQL {name}: needle must be a literal")
            needle = str(args[1].value)
            if name == "strbefore":  # '' when absent, per spec
                hit = F.substring_index(s, needle, 1)
            else:
                pos = F.locate(needle, s)
                hit = s.substr(pos + len(needle), F.length(s))
            # hit keeps the first argument's tag; a MISS is an empty
            # SIMPLE literal per spec
            return F.when(
                F.contains(s, F.lit(needle)), _rebuild_literal(orig, hit)
            ).otherwise(F.lit(""))
        if name == "round":
            return F.round(self.expr(args[0], df, numeric=True), 0)
        if name == "floor":
            return F.floor(self.expr(args[0], df, numeric=True)).cast("double")
        if name == "ceil":
            return F.ceil(self.expr(args[0], df, numeric=True)).cast("double")
        if name in ("isiri", "isuri"):
            t = self.expr(args[0], df)
            return t.rlike(_IRI_LIKE) & ~t.startswith("_:")
        if name == "isblank":
            return self.expr(args[0], df).startswith("_:")
        if name == "isliteral":
            t = self.expr(args[0], df)
            return t.startswith('"') | (~t.rlike(_IRI_LIKE) & ~t.startswith("_:"))
        if name == "lang":
            # '' for plain/typed literals; ERROR (null) for IRIs and
            # blank nodes — regexp_extract alone returned '' for those
            # too, so FILTER(LANG(?x) = "") kept IRI rows (review r6)
            t = self.expr(args[0], df)
            is_lit = t.startswith('"') | (~t.rlike(_IRI_LIKE) & ~t.startswith("_:"))
            return F.when(is_lit, F.regexp_extract(t, _LANGTAG_RE, 2))
        if name == "datatype":
            t = self.expr(args[0], df)
            return (
                F.when(t.rlike(_TYPED_RE), F.regexp_extract(t, _TYPED_RE, 2))
                .when(t.rlike(_LANGTAG_RE), F.lit("rdf:langString"))
                .when(~t.rlike(_IRI_LIKE) & ~t.startswith("_:"), F.lit("xsd:string"))
            )
        if name == "langmatches":  # RFC 4647 basic filtering
            tag = self.expr(args[0], df)
            rng = self.expr(args[1], df)
            exact = (F.lower(tag) == F.lower(rng)) | F.lower(tag).startswith(
                F.concat(F.lower(rng), F.lit("-"))
            )
            return F.when(rng == "*", tag != "").otherwise(exact)
        if name == "strlang":
            return F.concat(
                F.lit('"'), self.expr(args[0], df), F.lit('"@'), self.expr(args[1], df)
            )
        if name == "strdt":
            # xsd:string folds to the PLAIN lexical form — the store's
            # canonical convention (parser and N-Triples reader do the
            # same), so STRDT(?x, xsd:string) = "x" compares equal.
            s = self.expr(args[0], df)
            dt = self.expr(args[1], df)
            return F.when(dt == "xsd:string", s).otherwise(
                F.concat(F.lit('"'), s, F.lit('"^^'), dt)
            )
        if name == "md5":
            return F.md5(self.expr(args[0], df))
        if name == "sha1":
            return F.sha1(self.expr(args[0], df))
        if name == "sha256":
            return F.sha2(self.expr(args[0], df), 256)
        if name in ("sha384", "sha512"):
            return F.sha2(self.expr(args[0], df), int(name[3:]))
        if name in ("iri", "uri"):
            # the store keeps IRIs as plain strings (SURVEY §1.2) — IRI()
            # over a string is the identity mapping into that convention
            return _lex_form(self.expr(args[0], df).cast("string"))
        if name in ("year", "month", "day", "hours", "minutes", "seconds"):
            # XPath component semantics: extract from the literal's OWN
            # lexical form (its own timezone), never the session-TZ value a
            # timestamp cast would normalize to; SECONDS keeps the fraction
            # (xsd:decimal per spec).
            lex = _lex_form(self.expr(args[0], df).cast("string"))
            _DT = r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2}(?:\.\d+)?)"
            grp = {
                "year": 1, "month": 2, "day": 3,
                "hours": 4, "minutes": 5, "seconds": 6,
            }[name]
            part = F.nullif(F.regexp_extract(lex, _DT, grp), F.lit(""))
            return part.try_cast("double" if name == "seconds" else "long")
        if name == "tz":  # timezone designator from the LEXICAL form ('' if absent)
            return F.regexp_extract(
                _lex_form(self.expr(args[0], df).cast("string")),
                r"([+-]\d{2}:\d{2}|Z)$",
                1,
            )
        if name == "timezone":
            # xsd:dayTimeDuration of the literal's own offset: Z -> PT0S,
            # +05:30 -> PT5H30M, -08:00 -> -PT8H; error (null) when absent
            lex = _lex_form(self.expr(args[0], df).cast("string"))
            _TZ = r"([+-])(\d{2}):(\d{2})$"
            sign = F.regexp_extract(lex, _TZ, 1)
            hh = F.nullif(F.regexp_extract(lex, _TZ, 2), F.lit("")).try_cast("long")
            mm = F.nullif(F.regexp_extract(lex, _TZ, 3), F.lit("")).try_cast("long")
            dur = F.concat(
                F.when(sign == "-", F.lit("-")).otherwise(F.lit("")),
                F.lit("PT"),
                F.when(hh > 0, F.concat(hh.cast("string"), F.lit("H"))).otherwise(F.lit("")),
                F.when(mm > 0, F.concat(mm.cast("string"), F.lit("M"))).otherwise(F.lit("")),
                F.when((hh == 0) & (mm == 0), F.lit("0S")).otherwise(F.lit("")),
            )
            return (
                F.when(lex.endswith("Z"), F.lit("PT0S"))
                .when(hh.isNotNull(), dur)
            )
        if name == "encode_for_uri":
            # url_encode is form encoding; ENCODE_FOR_URI is RFC 3986
            # percent-encoding of everything outside the unreserved set
            # [A-Za-z0-9._~-]. Three deltas: space '+' -> %20, '~' is
            # unreserved (keep it), '*' is reserved (encode it).
            enc = F.url_encode(self.expr(args[0], df))
            enc = F.replace(enc, F.lit("+"), F.lit("%20"))
            enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
            return F.replace(enc, F.lit("*"), F.lit("%2A"))
        raise ValueError(f"SPARQL: unsupported function {name}")
