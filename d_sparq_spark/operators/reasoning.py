"""RDFS forward-chaining materialization (the rho-df fragment).

The reference engine's research lineage is distributed RDF *reasoning*
(the D-SPARQ author's DistEL/OWL line of work): materialize the RDFS
entailments of an instance store up front so SPARQL queries over the
closure need no inference at query time. This operator covers the
rho-df fragment (Munoz, Perez, Gutierrez: "Minimal deductive systems
for RDF") — the subset everyone materializes in practice:

- rdfs5/rdfs11: subPropertyOf / subClassOf transitivity,
- rdfs7: (s p o), p subPropertyOf q  |-  (s q o),
- rdfs2: (s p o), domain(p, C)       |-  (s rdf:type C),
- rdfs3: (s p o), range(p, C)        |-  (o rdf:type C),
- rdfs9: (x rdf:type C), C subClassOf D  |-  (x rdf:type D).

Scale shape (the whole point): the ONTOLOGY is metadata-scale (a schema
has thousands of terms, the instance data has billions of triples), so
its transitive closures run on the driver — same device as the small-
closure gate in operators/paths.py — and every rule application is a
BROADCAST join against the big store. No iteration ever touches the
instance data: with the hierarchies pre-closed, the rho-df fixpoint is
reached in ONE pass (rdfs7 feeds rdfs2/3 feeds rdfs9, and nothing feeds
back — rdf:type is not a subproperty and class terms carry no
properties in the fragment), which the docstring of rdfs_entailment
states as the soundness argument. One distinct at the end is the only
shuffle over instance-scale data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d_sparq_spark.localdata import arrow_df

SUBCLASS = "rdfs:subClassOf"
SUBPROP = "rdfs:subPropertyOf"
DOMAIN = "rdfs:domain"
RANGE = "rdfs:range"
TYPE = "rdf:type"


def transitive_pairs(pairs: list) -> list:
    """Driver-side transitive closure of (sub, sup) edges — the ontology
    is metadata-scale by definition; a distributed fixpoint here would
    spend more on job scheduling than the closure costs in Python."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    out = set()
    for a in adj:
        seen, stack = set(), list(adj[a])
        while stack:
            b = stack.pop()
            if b in seen or b == a:
                continue
            seen.add(b)
            stack.extend(adj.get(b, ()))
        out.update((a, b) for b in seen)
    return sorted(out)


class MetaSchemaOntologyError(ValueError):
    """validate_ontology's documented rejection: the ontology places rdfs
    vocabulary in a schema position, so the single-pass fixpoint would be
    incomplete and the caller must use an iterative reasoner. A dedicated
    type (ADVICE r10 #1) so callers routing on it — materialize_reasoning's
    mode="iterative" switch — cannot be fooled by an unrelated ValueError
    (e.g. a malformed non-3-tuple ontology raising during unpacking)."""


def validate_ontology(ontology: list) -> None:
    """Reject ontologies the single-pass fixpoint cannot close (rdfs
    vocabulary in schema positions — see rdfs_entailment's soundness
    argument). Raises MetaSchemaOntologyError (a ValueError subclass) for
    that documented rejection. Always runs against the LEXICAL ontology: in encoded space
    the ids are opaque, so callers that encode (load_pipeline's persisted
    reasoning layer) validate before translation."""
    reserved = {TYPE, SUBCLASS, SUBPROP, DOMAIN, RANGE}
    for s, p, o in ontology:
        if p == SUBPROP and (s in reserved or o in reserved) or (
            p in (DOMAIN, RANGE) and s in reserved
        ):
            raise MetaSchemaOntologyError(
                f"rdfs_entailment: schema triple ({s}, {p}, {o}) places the "
                "rdfs vocabulary in a schema position — the single-pass "
                "fixpoint would be incomplete for it (a derived rdf:type/"
                "hierarchy triple would re-enable an earlier rule); "
                "materialize such ontologies with an iterative reasoner"
            )


def derived_predicates(ontology: list, type_term=TYPE) -> list:
    """The (metadata-scale) set of predicate values a rho-df pass can ever
    DERIVE under ``ontology``: the closed subPropertyOf superproperties
    (rdfs7 output) plus the rdf:type term when any type-producing rule
    exists (rdfs2/3/9). Load-pipeline maintenance prunes its anti-join
    scans to exactly these by_p partitions — the O(Δ) shape."""
    sup = {o for _, o in transitive_pairs(
        [(s, o) for s, p, o in ontology if p == SUBPROP]
    )}
    preds = set(sup)
    if any(p in (DOMAIN, RANGE, SUBCLASS) for _, p, _ in ontology):
        preds.add(type_term)
    return sorted(preds)


def premise_predicates(ontology: list, type_term=TYPE) -> list:
    """The (metadata-scale) set of predicate values a BASE triple must
    carry to premise ANY rho-df derivation chain under ``ontology``: the
    subPropertyOf subjects (rdfs7 roots — including chains that continue
    into rdfs2/3 via a derived superproperty), the domain/range
    properties (rdfs2/3 roots), and rdf:type when any subClassOf rule
    exists (rdfs9 roots). Deletion maintenance (DRed re-derivation)
    prunes its surviving-base scan to exactly these by_p partitions — a
    base row with any other predicate can never (re-)derive anything."""
    preds = {s for s, p, o in ontology if p in (SUBPROP, DOMAIN, RANGE)}
    if any(p == SUBCLASS for _, p, _ in ontology):
        preds.add(type_term)
    return sorted(preds)


# r12: per-rule pair-list size up to which a rule runs as a constant
# literal-map lookup instead of a broadcast hash join (see rdfs_derive).
# A folded literal map is probed by LINEAR scan per row, so the bound is
# where ~n/2 equality comparisons per row still beat a hash probe plus a
# per-call BroadcastExchange build job; real rho-df ontologies are a few
# dozen closed pairs (A7: schema is metadata-scale).
_RULE_MAP_MAX_PAIRS = 64


def rdfs_derive(triples: DataFrame, ontology: list, type_term=TYPE) -> DataFrame:
    """DERIVED-ONLY rho-df pass: the entailments of ``triples`` under
    ``ontology``, distinct, WITHOUT the base triples (the closure minus
    its input, before dedup against the input — derived rows may restate
    base rows; persistence layers anti-join those away themselves).

    Space-generic: ontology s/o values and ``type_term`` may be lexical
    strings OR dictionary-encoded LONG ids, as long as they live in the
    same space as the triple columns — the rules are equi-joins either
    way, and the encoded form is what load_pipeline's persisted layer
    runs (8-byte join keys at 100 TB, not strings). Because every rho-df
    rule has exactly ONE instance-triple premise (schema is a broadcast
    constant), derivation distributes over union:
    derive(base ∪ Δ) = derive(base) ∪ derive(Δ) — the identity that makes
    O(Δ) incremental maintenance sound. Callers must validate_ontology
    first (lexically).

    QUAD-aware (r10, VERDICT r9 #8): a ``g`` column, when present, rides
    through every rule join as a passenger — an inferred triple lives in
    the NAMED GRAPH its premise came from (per-graph closure). Rule
    unarity makes this the canonical choice: closure distributes over the
    per-graph partition of the dataset, so the per-graph closures are
    simultaneously exact for GRAPH ?g queries AND their union equals the
    closure of the union view (default-union semantics, the Jena/rdf4j
    inference default) — no semantics conflict exists in rho-df."""
    spark = triples.sparkSession
    sub_prop = transitive_pairs([(s, o) for s, p, o in ontology if p == SUBPROP])
    sub_cls = transitive_pairs([(s, o) for s, p, o in ontology if p == SUBCLASS])
    dom = [(s, o) for s, p, o in ontology if p == DOMAIN]
    rng = [(s, o) for s, p, o in ontology if p == RANGE]

    p_type = triples.schema["p"].dataType
    o_type = triples.schema["o"].dataType
    g = [F.col("g")] if "g" in triples.columns else []  # passenger column

    def pair_df(pairs, a: str, b: str):
        if not pairs:
            return None
        kind = "bigint" if all(
            isinstance(x, int) for pr in pairs for x in pr
        ) else "string"
        return F.broadcast(
            arrow_df(spark, dict(zip((a, b), zip(*pairs))), f"{a} {kind}, {b} {kind}")
        )

    # r12 (VERDICT r11 #6, guide §2.4): a rho-df rule is a LOOKUP of a
    # driver-local pair list keyed on one column — below the gate it runs
    # as a constant-folded literal map (filter isin(keys) + explode of the
    # matched values): zero joins, zero BroadcastExchange build jobs, the
    # whole rule pass is one WholeStageCodegen projection. Each rule join
    # previously paid a ~0.15-0.25 s single-task broadcast-build job per
    # derive call (8 such jobs per reasoning append, measured). Above the
    # gate the broadcast joins are kept: a literal-map probe is a LINEAR
    # scan per row, so a pathologically wide ontology must hash-probe.
    # Emission order/multiplicity is identical — one output row per
    # matching (key, value) pair, exactly the join's multiset.
    use_map = (
        max(len(sub_prop), len(sub_cls), len(dom), len(rng))
        <= _RULE_MAP_MAX_PAIRS
    )

    def pair_lookup(pairs, key_type, val_type):
        by_key: dict = {}
        for a, b in pairs:
            by_key.setdefault(a, []).append(b)
        entries = []
        for k, vs in by_key.items():
            entries.append(F.lit(k).cast(key_type))
            entries.append(F.array(*[F.lit(v).cast(val_type) for v in vs]))
        return list(by_key.keys()), F.create_map(*entries)

    type_lit = F.lit(type_term).cast(p_type)
    base = triples.select("s", "p", "o", *g)
    sources = [base]  # instance triples each rule consumes
    derived: list[DataFrame] = []
    if sub_prop:  # rdfs7 over the closed property hierarchy
        if use_map:
            k7, m7 = pair_lookup(sub_prop, p_type, p_type)
            d7 = base.where(F.col("p").isin(k7)).select(
                "s",
                F.explode(F.try_element_at(m7, F.col("p"))).alias("p"),
                "o",
                *g,
            )
        else:
            spp = pair_df(sub_prop, "_sub", "_sup")
            d7 = base.join(spp, base.p == spp._sub).select(
                "s", F.col("_sup").cast(p_type).alias("p"), "o", *g
            )
        sources.append(d7)
        derived.append(d7)
    from functools import reduce

    all_prop = reduce(lambda a, b: a.unionByName(b), sources)

    typed = [base, *derived]  # rdfs9 consumes types from base + d7 + d2/3
    if dom:  # rdfs2
        if use_map:
            kd, md = pair_lookup(dom, p_type, o_type)
            d2 = all_prop.where(F.col("p").isin(kd)).select(
                "s",
                type_lit.alias("p"),
                F.explode(F.try_element_at(md, F.col("p"))).alias("o"),
                *g,
            )
        else:
            dm = pair_df(dom, "_p", "_cls")
            d2 = all_prop.join(dm, all_prop.p == dm._p).select(
                "s", type_lit.alias("p"), F.col("_cls").alias("o"), *g
            )
        typed.append(d2)
        derived.append(d2)
    if rng:  # rdfs3
        if use_map:
            kr, mr = pair_lookup(rng, p_type, o_type)
            d3 = all_prop.where(F.col("p").isin(kr)).select(
                F.col("o").alias("s"),
                type_lit.alias("p"),
                F.explode(F.try_element_at(mr, F.col("p"))).alias("o"),
                *g,
            )
        else:
            rg = pair_df(rng, "_p", "_cls")
            d3 = all_prop.join(rg, all_prop.p == rg._p).select(
                F.col("o").alias("s"), type_lit.alias("p"),
                F.col("_cls").alias("o"),
                *g,
            )
        typed.append(d3)
        derived.append(d3)
    if sub_cls:  # rdfs9 over ALL type triples (base + rdfs2/3)
        types = reduce(
            lambda a, b: a.unionByName(b),
            [d.filter(F.col("p") == type_lit) for d in typed],
        )
        if use_map:
            kc, mc = pair_lookup(sub_cls, o_type, o_type)
            derived.append(
                types.where(F.col("o").isin(kc)).select(
                    "s",
                    type_lit.alias("p"),
                    F.explode(F.try_element_at(mc, F.col("o"))).alias("o"),
                    *g,
                )
            )
        else:
            scc = pair_df(sub_cls, "_sub", "_sup")
            derived.append(
                types.join(scc, types.o == scc._sub)
                .select("s", type_lit.alias("p"), F.col("_sup").alias("o"), *g)
            )
    if not derived:
        return base.filter(F.lit(False))  # empty, schema-stable, no job
    return reduce(lambda a, b: a.unionByName(b), derived).dropDuplicates()


def rdfs_entailment(triples: DataFrame, ontology: list) -> DataFrame:
    """Materialize the rho-df closure of ``triples`` under ``ontology``
    (a list of (s, p, o) schema triples using the rdfs:* vocabulary).
    Returns the FULL closure — original triples plus every entailment —
    as a distinct (s, p, o) relation.

    Single-pass soundness: subPropertyOf/subClassOf arrive pre-closed
    (driver BFS), so rdfs7 over the closed property pairs derives every
    property entailment at once; rdfs2/3 applied to base+derived
    property triples see every predicate they will ever see; rdfs9 over
    the closed class pairs finishes the type closure. No derived triple
    can re-enable an earlier rule: rdfs7 output has schema predicates
    only from the closed hierarchy, and rdfs2/3/9 output rdf:type
    triples, which no rho-df rule consumes as its property position —
    PROVIDED the ontology does not place the rdfs vocabulary itself in
    schema positions (e.g. rdf:type subPropertyOf ex:isA, or a domain on
    rdf:type): then rdfs2/3/9 output would feed rdfs7/rdfs2 again and one
    pass is incomplete. Such ontologies are REJECTED up front (review r8)
    rather than silently under-materialized.

    Quad-aware: with a ``g`` column, returns the per-graph closures —
    each inferred triple in its premise's named graph (rdfs_derive's
    passenger contract; equal to the union-view closure by unarity)."""
    validate_ontology(ontology)
    keys = ["s", "p", "o"] + (["g"] if "g" in triples.columns else [])
    return (
        triples.select(*keys)
        .unionByName(rdfs_derive(triples, ontology))
        .dropDuplicates()
    )


def rdfs_derive_iterative(
    triples: DataFrame,
    ontology: list,
    type_term=TYPE,
    max_passes: int = 16,
    known: DataFrame | None = None,
    plan_sink: list | None = None,
) -> DataFrame:
    """DERIVED-ONLY semi-naive rho-df closure: every row derivable from
    ``triples`` under ``ontology`` that is in neither ``triples`` nor
    ``known`` — the iterative twin of rdfs_derive's single pass, and the
    primitive BOTH iterative consumers share (r10, VERDICT r9 #1):

    - rdfs_entailment_iterative (one-shot closure): known=None,
    - load_pipeline's persisted-layer maintenance: ``known`` = the stored
      closure (post-append base slice ∪ entailed layer, both partition-
      pruned to the derivable predicates by the caller), ``triples`` = the
      append delta. Sound because closure(base ∪ Δ) = closure(base) ∪
      closure(Δ) by rule unarity (each rho-df rule has exactly one
      instance premise, so F(S) = S ∪ derive(S) distributes over union by
      induction), and because the stored closure is a FIXPOINT — a rule
      applied to a known row yields a known row, so only genuinely-new
      rows need the next round's rule pass (semi-naive).

    Space-generic like rdfs_derive: pass ``type_term`` as the encoded
    rdf:type id when the ontology is id-encoded. Rounds are bounded by the
    SCHEMA's rule-dependency depth (metadata-scale), never instance-data
    diameter; per-round work is O(|delta|) broadcast joins + pruned
    anti-joins. max_passes exceeded raises — silent truncation would
    under-materialize. ``plan_sink``, when given, receives each round's
    pre-checkpoint executed-plan string so tests can assert every
    instance-scale scan stays partition-pruned across the ITERATED rounds,
    not just round one."""
    dpreds = derived_predicates(ontology, type_term=type_term)
    keys = ["s", "p", "o"] + (["g"] if "g" in triples.columns else [])
    base = triples.select(*keys)
    empty = base.filter(F.lit(False))
    if not dpreds:  # no derivation rules at all — nothing is derivable
        return empty
    base_d = base.filter(F.col("p").isin(dpreds))
    # the fixed anti-join target (base ∪ known, both derivable-pruned) is
    # round-invariant: union it ONCE so every round pays one anti-join
    # against it instead of two (r12, guide §2.4)
    fixed_d = (
        base_d
        if known is None
        else base_d.unionByName(
            known.select(*keys).filter(F.col("p").isin(dpreds))
        )
    )
    acc: DataFrame | None = None
    delta = base
    for _ in range(max_passes):
        new = rdfs_derive(delta, ontology, type_term=type_term).join(
            fixed_d, keys, "left_anti"
        )
        if acc is not None:
            new = new.join(acc, keys, "left_anti")
        if plan_sink is not None:
            plan_sink.append(new._jdf.queryExecution().executedPlan().toString())
        new = new.localCheckpoint()
        if not new.take(1):
            return acc if acc is not None else empty
        acc = new if acc is None else acc.unionByName(new).localCheckpoint()
        delta = new
    raise RuntimeError(
        f"rdfs_derive_iterative: no fixpoint within {max_passes} passes "
        "— the schema's rule-dependency depth exceeds the bound (raise "
        "max_passes; the loop is metadata-depth-bounded by construction)"
    )


def rdfs_entailment_iterative(
    triples: DataFrame, ontology: list, max_passes: int = 16
) -> DataFrame:
    """rho-df closure for ontologies the SINGLE-PASS operator must reject
    (r9, VERDICT r8 missing #5): schema triples that place the rdfs
    vocabulary in schema positions (rdf:type subPropertyOf ex:classified,
    a domain on a property whose triples are themselves derived, ...)
    make derived triples re-enable earlier rules, so the pass iterates
    SEMI-NAIVELY until no new triple appears (rdfs_derive_iterative owns
    the loop; this wrapper returns base ∪ derived, the full closure).
    Quad-aware like rdfs_entailment (g rides as a passenger)."""
    keys = ["s", "p", "o"] + (["g"] if "g" in triples.columns else [])
    closure = triples.select(*keys).dropDuplicates().localCheckpoint()
    new = rdfs_derive_iterative(closure, ontology, max_passes=max_passes)
    return closure.unionByName(new)


def smush_sameas(
    triples: DataFrame, sameas_pred: str = "owl:sameAs"
) -> DataFrame:
    """owl:sameAs SMUSHING — entity canonicalization: every member of a
    sameAs equivalence class is rewritten to the class's MINIMUM term
    (deterministic representative), in both subject and object position;
    the sameAs triples themselves are consumed. The RDF twin of the
    LLM-pipeline's entity-resolution step, and the standard preprocessing
    pass of linked-data integration (sameAs chains arrive from record
    linkage, the store queries as if merged).

    Scale shape: sameAs edges are instance-scale, so the equivalence
    classes come from the distributed pointer-jumping CC
    (operators/graph.connected_components), NOT a driver closure; the
    rewrite is two left joins against the (entity, canonical) map —
    map-side when the map broadcasts, shuffle-on-key otherwise — plus one
    distinct (merged entities can collapse triples onto each other)."""
    from d_sparq_spark.operators.graph import connected_components

    sa = triples.filter(F.col("p") == sameas_pred)
    rest = triples.filter(F.col("p") != sameas_pred)
    edges = sa.select(F.col("s").alias("u"), F.col("o").alias("v"))
    # nodes: only entities that appear in a sameAs link need a label —
    # everything else maps to itself by the coalesce below
    comp = connected_components(
        edges.select(F.col("u").alias("node")), edges
    ).select(F.col("node").alias("_t"), F.col("comp").alias("_c"))
    smap = comp.filter(F.col("_t") != F.col("_c"))  # identity rows are free
    return apply_sameas_map(
        rest, smap.select(F.col("_t").alias("node"), F.col("_c").alias("comp"))
    )


def apply_sameas_map(triples: DataFrame, smap: DataFrame) -> DataFrame:
    """Rewrite every s/o through a canonical map ``smap(node, comp)`` of
    NON-IDENTITY rows (entities absent from the map keep themselves via
    the coalesce) — the shared back half of smush_sameas and the load
    pipeline's persisted sameas/ layer. Two left joins + one distinct;
    map-side when the map broadcasts, shuffle-on-key otherwise."""
    m = smap.select(F.col("node").alias("_t"), F.col("comp").alias("_c"))
    out = (
        triples.join(m.withColumnRenamed("_t", "s"), "s", "left")
        .select(F.coalesce("_c", "s").alias("s"), "p", "o")
        .join(m.withColumnRenamed("_t", "o"), "o", "left")
        .select("s", "p", F.coalesce("_c", "o").alias("o"))
    )
    return out.dropDuplicates()
