"""SparqlEngine — the user-facing API: SPARQL text in, DataFrame out.

Mirrors D-SPARQ's online query path (SURVEY.md §3 entry point 2):
parse -> star decomposition -> selectivity ordering -> execute; with Jena
ARQ replaced by plans/parser.py, the Mongo lookups by DataFrame joins, and
the pipelined binding shipping by Catalyst-planned hash joins.

Usage:
    engine = SparqlEngine(triples_df)            # lexical or encoded store
    df = engine.query("SELECT ?c WHERE { ?c ex:mktsegment \\"BUILDING\\" }")
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d_sparq_spark.localdata import arrow_df
from d_sparq_spark.operators.rdf_patterns import _stats_dict, planning_stats

from d_sparq_spark.plans.parser import parse_sparql
from d_sparq_spark.plans.translate import Translator


class SparqlEngine:
    def __init__(
        self,
        triples: DataFrame,
        collect_stats: bool = True,
        services: dict[str, DataFrame] | None = None,
        catalog=None,
        stats: dict | None = None,
    ):
        """triples: DataFrame with columns (s, p, o). collect_stats runs one
        small aggregation up front (A11) so BGP planning can order patterns
        by selectivity (A7) without re-scanning per query. services maps
        SERVICE endpoint names to their triples DataFrames (federation).
        catalog (plans/catalog.StoreCatalog) registers materialized
        alternative layouts — property table, ExtVP reductions — that the
        planner substitutes for full-store scans when a star qualifies."""
        if catalog is not None and "g" in triples.columns:
            raise ValueError(
                "StoreCatalog routing is triple-level: a property table "
                "over a quad store pivots across ALL named graphs and "
                "changes binding multiplicity — attach the catalog to a "
                "single graph's slice instead"
            )
        self.triples = triples
        # a precomputed stats dict skips the per-engine aggregation — the
        # query harness constructs one engine per call over the SAME cached
        # store, so it memoizes the collect once per session
        if stats is None and collect_stats:
            # A7+A11 ordering wants count AND distinct-subject/object
            # cardinality per predicate: one groupBy scan with HLL ndv
            # sketches (rdf_patterns.planning_stats)
            stats = _stats_dict(planning_stats(triples))
        self._translator = Translator(triples, stats, services=services, catalog=catalog)

    def query(self, sparql: str) -> DataFrame:
        """Parse and plan a SPARQL query; returns the lazily-evaluated
        DataFrame (columns = projected variable names)."""
        return self._translator.eval(parse_sparql(sparql))

    def update(self, sparql: str, execution_id: str | None = None) -> DataFrame:
        """SPARQL 1.1 Update (INSERT DATA / DELETE DATA / DELETE WHERE /
        [WITH g] DELETE..INSERT..WHERE with GRAPH blocks, and the graph
        management ops CLEAR / DROP / CREATE / COPY / MOVE / ADD / LOAD):
        FUNCTIONAL — returns the new triples (or quads) relation and
        leaves this engine's store untouched (wrap the result in a new
        SparqlEngine, or persist it). That is the Spark-idiomatic shape:
        at 100 TB the same delete/insert plans drive a MERGE into a
        lakehouse table or a partition rewrite; immutable DataFrames keep
        the update testable and retry-safe. Graph-set semantics hold:
        inserting an existing triple or deleting an absent one is a no-op
        (anti-join both ways, never a full-store dropDuplicates).

        Store models: a (s,p,o) relation is the DEFAULT graph only —
        GRAPH-targeted forms raise. A quad (s,p,o,g) relation holds NAMED
        graphs only (no default graph is modeled, matching the query
        side, where a plain pattern matches the union): every template /
        DATA triple must be graph-scoped via WITH or a GRAPH block."""
        from functools import reduce

        from pyspark.sql import functions as F

        from d_sparq_spark.plans import ast as A

        tree = parse_sparql(sparql)
        t = self.triples
        is_quad = "g" in t.columns
        spark = t.sparkSession
        on = ["s", "p", "o"] + (["g"] if is_quad else [])
        # schema in the FIXED (s,p,o[,g]) row order ground_df/instantiate
        # build — t.dtypes order would scramble values on a store whose
        # columns arrive in another order
        dtypes = dict(t.dtypes)
        schema = ", ".join(f"{c} {dtypes[c]}" for c in on)

        if isinstance(tree, A.GraphManage):
            return self._graph_manage(tree, t, is_quad)

        def ground_df(triples, quads=()):
            # dedup: a triple repeated WITHIN one DATA block must still
            # insert/delete once (graph-set semantics)
            rows = []
            if triples:
                if is_quad:
                    raise ValueError(
                        "SparqlEngine.update: this quad store models no "
                        "default graph — put DATA triples in a GRAPH block"
                    )
                rows = [(tp.s, tp.p, tp.o) for tp in triples]
            if quads:
                if not is_quad:
                    raise ValueError(
                        "SparqlEngine.update: GRAPH blocks target named "
                        "graphs — this store has no g column"
                    )
                rows = rows + [(tp.s, tp.p, tp.o, g) for g, tp in quads]
            return arrow_df(spark, dict(zip(on, zip(*rows))), schema).dropDuplicates()

        def _bnode_labels(template) -> list[str]:
            seen: list[str] = []
            for tp in template or ():
                for term in (tp.s, tp.p, tp.o):
                    if isinstance(term, str) and term.startswith("_:") and term not in seen:
                        seen.append(term)
            return seen

        # SPARQL 1.1 Update mints template bnodes FRESH for every solution
        # of every EXECUTION: re-running the same update must create new
        # entities, not silently anti-join into a no-op. The
        # execution token is drawn ONCE here on the driver and baked into
        # the plan as a literal, so Spark task retries within this call
        # stay deterministic; callers needing bit-identical replans (the
        # oracle harness) pin execution_id explicitly.
        if execution_id is None:
            import uuid

            execution_id = uuid.uuid4().hex

        def instantiate(template, bindings: DataFrame, quads=(), with_graph=None) -> DataFrame:
            # Each template blank-node label instantiates as a FRESH bnode
            # per solution — shared across the template's triples within
            # one solution, distinct across solutions (and labels). The id
            # is a hash of (execution, label, solution's bound terms,
            # duplicate-solution ordinal); every part is length-prefixed
            # (NULL -> '~', which no prefixed part can start with) so
            # crafted values containing the separator cannot make two
            # distinct solutions share one bnode.
            template = list(template or ())
            quad_tps = list(quads or ())
            if template and is_quad and with_graph is None:
                raise ValueError(
                    "SparqlEngine.update: this quad store models no "
                    "default graph — scope the template with WITH or a "
                    "GRAPH block"
                )
            if (quad_tps or with_graph is not None) and not is_quad:
                raise ValueError(
                    "SparqlEngine.update: WITH/GRAPH target named graphs — "
                    "this store has no g column"
                )
            labels = _bnode_labels(template + [tp for _, tp in quad_tps])
            bmap: dict[str, F.Column] = {}
            if labels:
                from pyspark.sql.window import Window

                def part(c: F.Column) -> F.Column:
                    s = c.cast("string")
                    return F.when(s.isNull(), F.lit("~")).otherwise(
                        F.concat(F.length(s).cast("string"), F.lit(":"), s)
                    )

                cols = bindings.columns or []
                key_parts = [part(F.col(c)) for c in cols]
                if cols:  # duplicate solutions each get their own fresh bnode
                    dup = F.row_number().over(
                        Window.partitionBy(*cols).orderBy(F.lit(1))
                    )
                else:
                    dup = F.lit(1)
                bindings = bindings.withColumn("__dup", dup)
                for label in labels:
                    bmap[label] = F.concat(
                        F.lit("_:b"),
                        F.substring(
                            F.sha2(
                                F.concat_ws(
                                    "\x1f",
                                    part(F.lit(execution_id)),
                                    part(F.lit(label)),
                                    part(F.col("__dup")),
                                    *key_parts,
                                ),
                                256,
                            ),
                            1,
                            32,
                        ),
                    )

            def term_col(term):
                if isinstance(term, str) and term.startswith("?"):
                    return F.col(term[1:])
                if term in bmap:
                    return bmap[term]
                return F.lit(term)

            parts = [
                bindings.select(
                    term_col(tp.s).alias("s"),
                    term_col(tp.p).alias("p"),
                    term_col(tp.o).alias("o"),
                    *([F.lit(with_graph).alias("g")] if is_quad else []),
                )
                for tp in template
            ] + [
                bindings.select(
                    term_col(tp.s).alias("s"),
                    term_col(tp.p).alias("p"),
                    term_col(tp.o).alias("o"),
                    term_col(g).alias("g"),
                )
                for g, tp in quad_tps
            ]
            # unbound variables (e.g. from OPTIONAL) instantiate nothing, per spec
            if not parts:
                return arrow_df(spark, {}, schema)
            return reduce(lambda a, b: a.unionByName(b), parts).na.drop().dropDuplicates()

        if isinstance(tree, A.InsertData):
            if _bnode_labels(
                list(tree.triples) + [tp for _, tp in tree.quads]
            ):
                # INSERT DATA blank nodes mint FRESH nodes per execution
                # (spec: a DATA bnode denotes a new node, not the label) —
                # route through the same instantiation as Modify templates
                # over the unit solution (a label inserted verbatim would
                # make a re-run of the request anti-join into a no-op
                # instead of creating a new node).
                unit = spark.range(1).select()
                new = instantiate(tree.triples, unit, tree.quads)
            else:
                new = ground_df(tree.triples, tree.quads)
            return t.unionByName(new.join(t, on, "left_anti"))
        if isinstance(tree, A.DeleteData):
            return t.join(
                F.broadcast(ground_df(tree.triples, tree.quads)), on, "left_anti"
            )
        if isinstance(tree, A.Modify):
            # Blank nodes are ILLEGAL in a DELETE template (SPARQL 1.1
            # Update §3.1.3.2 — there is no bnode to match by label); the
            # INSERT template instantiates them fresh per solution above.
            if _bnode_labels(
                list(tree.delete_template or ())
                + [tp for _, tp in tree.delete_quads]
            ):
                raise SyntaxError(
                    "SPARQL UPDATE: blank nodes are not permitted in a "
                    "DELETE template"
                )
            where = tree.where
            wg = tree.with_graph
            if wg is not None and is_quad:
                # WITH <g>: the WHERE matches against graph g (§3.1.4).
                # An explicit GRAPH inside the WHERE would escape that
                # scope per spec — this subset rejects the combination
                # instead of silently evaluating g-inside-g to empty.
                if any(isinstance(n, A.Graph) for n in A.walk(where)):
                    raise SyntaxError(
                        "SPARQL UPDATE: GRAPH inside WHERE does not "
                        "combine with WITH in this subset — drop WITH and "
                        "scope each block explicitly"
                    )
                where = A.Graph(wg, where)
            elif wg is not None:
                raise ValueError(
                    "SparqlEngine.update: WITH targets a named graph — "
                    "this store has no g column"
                )
            bindings = self._translator.eval(where)
            out = t
            if tree.delete_template or tree.delete_quads:
                out = out.join(
                    instantiate(
                        tree.delete_template, bindings, tree.delete_quads, wg
                    ),
                    on,
                    "left_anti",
                )
            if tree.insert_template or tree.insert_quads:
                ins = instantiate(
                    tree.insert_template, bindings, tree.insert_quads, wg
                )
                out = out.unionByName(ins.join(out, on, "left_anti"))
            return out
        raise ValueError("SparqlEngine.update: not an UPDATE request — use query()")

    def _graph_manage(self, node, t: DataFrame, is_quad: bool) -> DataFrame:
        """Graph management ops, functional like update(). On a triple
        store only the DEFAULT graph exists; on a quad store only NAMED
        graphs exist (the model has no default graph). CREATE is a no-op
        by design: the store records no empty graphs (allowed by §3.2.2
        for such stores), so there is nothing to create — and nothing for
        a later CLEAR/DROP of that name to find, which is why non-SILENT
        ops on an absent graph raise instead. That existence probe is the
        one EAGER Spark job in the otherwise-lazy update API (a take(1)
        over the current lineage) — the graph-store protocol demands the
        error at request time; SILENT requests skip the probe ONLY where
        absence cannot change the result (CLEAR/DROP filter to a no-op by
        themselves; COPY/MOVE must still probe, because executing their
        destructive half against an absent source would wipe the
        destination instead of no-opping, review r6)."""
        from pyspark.sql import functions as F

        from d_sparq_spark.plans import ast as A

        spark = t.sparkSession
        op, src, dst, silent = node.op, node.src, node.dst, node.silent
        on = ["s", "p", "o"] + (["g"] if is_quad else [])
        empty = t.filter(F.lit(False))
        _sentinels = (A.DEFAULT_GRAPH, A.NAMED_GRAPHS, A.ALL_GRAPHS)

        def graph_exists(name) -> bool:
            return bool(t.filter(F.col("g") == name).take(1))

        def need(name) -> None:
            if not silent and not graph_exists(name):
                raise ValueError(
                    f"SPARQL UPDATE: graph <{name}> does not exist "
                    "(use SILENT to ignore)"
                )

        if op == "load":
            from d_sparq_spark.sources.ntriples import parse_ntriples

            path = str(src)
            for prefix in ("file://", "file:"):
                if path.startswith(prefix):
                    path = path[len(prefix):]
                    break
            try:
                loaded = parse_ntriples(spark.read.text(path))
                if silent:
                    # SILENT must keep the store intact on ANY failure,
                    # but malformed content only surfaces lazily when the
                    # returned relation executes — after update() has
                    # returned (advice r6). An EAGER checkpoint forces the
                    # full parse here (content-level errors land in this
                    # try) and pins the parsed triples so the later union
                    # never re-reads the file; non-SILENT loads stay lazy
                    # (they may raise either way).
                    loaded = loaded.localCheckpoint(eager=True)
            except Exception:
                if silent:  # LOAD SILENT: failure to read keeps the store
                    return t
                raise
            if is_quad:
                if dst is None:
                    raise ValueError(
                        "SPARQL UPDATE: LOAD into a quad store needs "
                        "INTO GRAPH <g> (no default graph is modeled)"
                    )
                loaded = loaded.withColumn("g", F.lit(dst))
            elif dst is not None:
                raise ValueError(
                    "SPARQL UPDATE: LOAD INTO GRAPH targets a named "
                    "graph — this store has no g column"
                )
            # a dump may repeat a triple across lines: graph-set semantics
            # insert it once (review r6)
            return t.unionByName(loaded.dropDuplicates().join(t, on, "left_anti"))

        if op in ("clear", "drop"):
            if not is_quad:
                if src in (A.DEFAULT_GRAPH, A.ALL_GRAPHS):
                    return empty
                if src is A.NAMED_GRAPHS:
                    return t  # no named graphs exist: nothing to clear
                if silent:
                    return t
                raise ValueError(
                    f"SPARQL UPDATE: graph <{src}> does not exist — this "
                    "store has only the default graph (use SILENT)"
                )
            if src in (A.ALL_GRAPHS, A.NAMED_GRAPHS):
                return empty  # every row belongs to a named graph
            if src is A.DEFAULT_GRAPH:
                return t  # no default graph is modeled: nothing to clear
            need(src)
            return t.filter(F.col("g") != src)

        if op == "create":
            return t  # no empty-graph bookkeeping (documented above)

        # copy / move / add
        if not is_quad:
            if src is A.DEFAULT_GRAPH and dst is A.DEFAULT_GRAPH:
                return t
            if silent:
                return t
            raise ValueError(
                f"SPARQL UPDATE: {op.upper()} with named graphs needs a "
                "quad store (this store has no g column)"
            )
        if src in _sentinels or dst in _sentinels:
            if silent:
                return t
            raise ValueError(
                f"SPARQL UPDATE: {op.upper()} DEFAULT — this quad store "
                "models no default graph (use SILENT to ignore)"
            )
        if src == dst:
            return t
        if not graph_exists(src):
            # absent source: error, or a SILENT NO-OP — never "run the
            # destructive half anyway" (review r6: COPY/MOVE SILENT of an
            # absent graph used to wipe the destination)
            if silent:
                return t
            raise ValueError(
                f"SPARQL UPDATE: graph <{src}> does not exist "
                "(use SILENT to ignore)"
            )
        moved = t.filter(F.col("g") == src).withColumn("g", F.lit(dst))
        if op == "add":
            return t.unionByName(moved.join(t, on, "left_anti"))
        keep = (F.col("g") != dst) if op == "copy" else (
            ~F.col("g").isin(src, dst)
        )
        return t.filter(keep).unionByName(moved)

    def explain(self, sparql: str, mode: str = "formatted") -> str:
        import contextlib
        import io

        df = self.query(sparql)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()
