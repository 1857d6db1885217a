"""SPARQL algebra IR + expression tree (SURVEY.md §2.B surface).

Deliberately small dataclasses; the translator (translate.py) is the only
consumer. Expression type coercion note: the triple store is lexical
(all-string), so comparisons against numeric literals coerce the other
side to double — the standard trick for untyped stores (S2RDF does the
same with its VP tables).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from d_sparq_spark.operators.rdf_patterns import TriplePattern

# ---------------- expressions ----------------


@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Lit:
    value: object  # str | float | int | bool
    is_numeric: bool = False


@dataclass(frozen=True)
class BinOp:
    op: str  # || && = != < <= > >= + - * / IN
    left: object
    right: object


@dataclass(frozen=True)
class UnOp:
    op: str  # ! -
    operand: object


@dataclass(frozen=True)
class FuncCall:
    name: str  # lowercase: regex bound str strlen contains ucase ... xsd:double
    args: tuple


@dataclass(frozen=True)
class ExistsExpr:
    group: object  # GroupGraphPattern algebra node
    negated: bool


@dataclass(frozen=True)
class Aggregate:
    func: str  # count sum avg min max group_concat sample
    arg: object | None  # expression; None for COUNT(*)
    distinct: bool = False
    separator: str = " "  # GROUP_CONCAT


def expr_nodes(e):
    """Every node of an expression tree, pre-order: ``e`` itself, then
    its operands (a BinOp's right side may be an IN list). The single
    expression walker; new expression node types must be handled HERE,
    once. An EXISTS group is algebra, not expression: ``walk`` reaches it
    through the enclosing Filter."""
    yield e
    if isinstance(e, BinOp):
        yield from expr_nodes(e.left)
        for i in e.right if isinstance(e.right, (list, tuple)) else (e.right,):
            yield from expr_nodes(i)
    elif isinstance(e, UnOp):
        yield from expr_nodes(e.operand)
    elif isinstance(e, FuncCall):
        for a in e.args:
            yield from expr_nodes(a)
    elif isinstance(e, Aggregate) and e.arg is not None:
        yield from expr_nodes(e.arg)


def expr_vars(e, out: set | None = None) -> set:
    """Variable names referenced by an expression tree (added to ``out``
    when given)."""
    if out is None:
        out = set()
    out.update(n.name for n in expr_nodes(e) if isinstance(n, Var))
    return out


# ---------------- algebra nodes ----------------


@dataclass(frozen=True)
class PathPattern:
    """Property-path pattern: s (p+ | p* | p?) o. Sequence paths are
    expanded to plain patterns with fresh variables at parse time; inverse
    paths (^p) are emitted with swapped endpoints."""

    s: object
    op: str  # '+', '*' or '?'
    p: object
    o: object


@dataclass(frozen=True)
class PropSetPattern:
    """Property-set pattern: alternatives of plain IRIs (s (p1|p2) o) or a
    negated property set (s !p / !(p1|p2|^q1) o). The positive form and
    the forward-negated form are a single predicate-set membership scan —
    bag-exact vs the UNION expansion because each triple matches at most
    one member. ``inv_preds`` carries the ^-members of a NEGATED set
    (SPARQL 1.1 §18.2.2.6): those match REVERSE edges whose predicate is
    outside the inverse member set, unioned with the forward component."""

    s: object
    preds: tuple
    o: object
    negated: bool
    inv_preds: tuple = ()


@dataclass(frozen=True)
class ClosurePattern:
    """Closure (+ / * / ?) over a COMPOSITE path, e.g. (p/q)+ or (p|q)*.
    The inner path is pre-emitted at parse time as a pattern list binding
    two fresh endpoint variables; evaluation computes that BGP once as the
    edge set, then runs the fixpoint over it."""

    s: object
    op: str  # '+', '*' or '?'
    patterns: tuple  # inner path as patterns over (src_var, dst_var)
    src_var: str
    dst_var: str
    o: object


@dataclass(frozen=True)
class AltPath:
    """General path alternative s (path1|path2) o where at least one branch
    is not a plain IRI (e.g. p|q/r). Each branch is pre-emitted at parse
    time into a pattern list sharing the s/o endpoints (fresh intermediate
    vars are branch-local); evaluation is the bag union of branch BGPs."""

    s: object
    branches: tuple  # tuple[tuple[TriplePattern|PathPattern|PropSetPattern, ...], ...]
    o: object


def pattern_terms(p):
    """Every term of one BGP pattern, pre-order: the subject, a plain or
    path pattern's predicate, a predicate set's members (^-members
    included), the terms of the patterns nested in a composite path
    (closure inner path, alternative branches), then the object."""
    yield p.s
    if isinstance(p, PropSetPattern):
        yield from p.preds
        yield from p.inv_preds
    elif isinstance(p, ClosurePattern):
        for q in p.patterns:
            yield from pattern_terms(q)
    elif isinstance(p, AltPath):
        for branch in p.branches:
            for q in branch:
                yield from pattern_terms(q)
    else:
        yield p.p
    yield p.o


@dataclass
class BGP:
    patterns: list = field(default_factory=list)  # TriplePattern | PathPattern


@dataclass
class Join:
    left: object
    right: object


@dataclass
class LeftJoin:  # OPTIONAL
    left: object
    right: object
    # §18.2.2.5 LeftJoin(A, B, F): a top-level FILTER of the OPTIONAL
    # group that references variables from OUTSIDE the group evaluates
    # over the MERGED solution — the parser hoists it here; filters whose
    # variables are all inside stay in the group (equivalent, fast path).
    cond: object = None


@dataclass
class Union:
    left: object
    right: object


@dataclass
class Minus:
    left: object
    right: object


@dataclass
class Filter:
    expr: object
    child: object


@dataclass
class Bind:
    expr: object
    var: str
    child: object


@dataclass
class Values:
    varnames: list[str]
    rows: list[tuple]  # None entries = UNDEF
    child: object | None  # joined with child when present


@dataclass
class Group:
    keys: list[str]  # grouping variable names
    aggs: list[tuple[str, Aggregate]]  # (output var, aggregate)
    child: object


@dataclass
class Project:
    vars: list[str]  # output column order
    exprs: list[tuple[str, object]]  # non-aggregate SELECT (expr AS var)
    child: object


@dataclass
class Distinct:
    child: object


@dataclass
class OrderBy:
    keys: list[tuple[object, bool]]  # (expr, ascending)
    child: object


@dataclass
class Slice:
    offset: int
    limit: int | None
    child: object


@dataclass
class Ask:
    child: object


@dataclass
class Construct:
    template: list[TriplePattern]
    child: object


@dataclass
class Describe:
    """DESCRIBE term+ [WHERE group]: CBD (Concise Bounded Description) of
    each resource — its subject triples, transitively expanded through
    blank-node objects ('_:' prefix). Variables are resolved against the
    WHERE group's bindings."""

    terms: tuple  # constant terms and/or '?vars'
    child: object = None  # optional WHERE group


@dataclass
class Service:
    """SERVICE [SILENT] <endpoint> { pattern } — federation resolved
    against a registry of named stores (endpoint name -> triples
    DataFrame). Spark-first federation: a remote endpoint's data is just
    another DataFrame (a different catalog table, parquet path, or JDBC
    source); the federated join is then a plain Catalyst join. SILENT +
    unknown endpoint yields the unit solution per spec instead of failing."""

    endpoint: object
    child: object
    silent: bool = False


@dataclass
class Graph:
    """GRAPH term { pattern } — evaluate the inner pattern against one
    named graph (constant) or every named graph with ?g bound (variable).
    Requires a quad store (g column)."""

    term: object  # constant graph name or '?var'
    child: object


@dataclass
class Precomputed:
    """Algebra leaf holding an already-computed solution DataFrame: a
    wrapper node (ORDER BY, GROUP, CONSTRUCT, ...) re-applied over
    bindings computed elsewhere takes one as its child."""

    df: object


@dataclass
class SelectQuery:
    # HAVING never travels separately: the parser folds it into the tree
    # as a Filter over the Group (spec-form aggregate lifting)
    root: object


# ---------------- SPARQL 1.1 Update subset ----------------


@dataclass
class InsertData:
    """INSERT DATA { constant triples / GRAPH blocks } — ground terms, no
    variables. ``triples`` hold the default-graph block; ``quads`` the
    (graph_iri, TriplePattern) pairs from GRAPH <g> { ... } blocks."""

    triples: list  # all-constant TriplePatterns
    quads: tuple = ()


@dataclass
class DeleteData:
    """DELETE DATA { constant triples / GRAPH blocks }."""

    triples: list
    quads: tuple = ()


@dataclass
class Modify:
    """[WITH <g>] DELETE {tmpl} INSERT {tmpl} WHERE {group} (either
    template may be absent). DELETE WHERE {g} parses as delete_template =
    g's patterns with where = g. Template GRAPH blocks land in the
    *_quads fields; with_graph scopes the plain template blocks AND the
    WHERE pattern (SPARQL 1.1 Update §3.1.4)."""

    delete_template: list | None
    insert_template: list | None
    where: object
    delete_quads: tuple = ()
    insert_quads: tuple = ()
    with_graph: str | None = None


@dataclass(frozen=True)
class GraphSentinel:
    """DEFAULT/NAMED/ALL keyword targets of graph-management ops. A
    distinct type, NOT the bare strings: parse_term strips angle
    brackets, so a user graph named <ALL> would otherwise alias the ALL
    keyword and CLEAR GRAPH <ALL> would wipe the store (review r6)."""

    name: str


DEFAULT_GRAPH = GraphSentinel("DEFAULT")
NAMED_GRAPHS = GraphSentinel("NAMED")
ALL_GRAPHS = GraphSentinel("ALL")


@dataclass
class GraphManage:
    """SPARQL 1.1 Update graph management: CLEAR/DROP/CREATE (src = graph
    iri or a GraphSentinel), COPY/MOVE/ADD (src -> dst, each a graph iri
    or DEFAULT_GRAPH), LOAD (src = document iri/path, dst = target graph
    or None for the default graph)."""

    op: str  # 'clear' | 'drop' | 'create' | 'copy' | 'move' | 'add' | 'load'
    src: object
    dst: object = None
    silent: bool = False


def subnodes(node):
    """Algebra children of a node, by the tree's container conventions:
    left/right/child attributes, a SelectQuery's root, Modify's WHERE
    group, and the group inside an EXISTS/NOT EXISTS filter expression.
    Walk a whole tree with ``walk``; a walker that needs its own scoping
    or pruning rules loops over this instead of repeating the EXISTS and
    Modify.where cases."""
    for attr in ("left", "right", "child", "root", "where"):
        sub = getattr(node, attr, None)
        if sub is not None and not isinstance(sub, (str, list, tuple)):
            yield sub
    if isinstance(node, Filter) and isinstance(node.expr, ExistsExpr):
        yield node.expr.group


def walk(node):
    """Every algebra node under ``node``, itself included, pre-order over
    ``subnodes`` (EXISTS groups and Modify's WHERE included, left before
    right). A None root yields nothing."""
    stack = [] if node is None else [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(reversed(list(subnodes(n))))


def scope_vars(node) -> set:
    """ALL variables in-scope of ``node`` (SPARQL 1.1 §18.2.1) — the MAY-
    bind over-approximation dual to certain_vars' MUST-bind one. Used to
    reject spec-forbidden reassignment (`GROUP BY (expr AS ?v)` where ?v
    is already in scope). A subquery Project limits scope to its projected
    variables, exactly as the spec's visibility rule says."""
    out: set = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if n is None:
            continue
        if isinstance(n, BGP):
            for p in n.patterns:
                for a in ("s", "p", "o", "g"):
                    v = getattr(p, a, None)
                    if isinstance(v, str) and v.startswith("?"):
                        out.add(v[1:])
            continue
        if isinstance(n, Bind):
            out.add(n.var)
        elif isinstance(n, Values):
            out |= set(n.varnames)
        elif isinstance(n, Graph):
            t = n.term
            if isinstance(t, str) and t.startswith("?"):
                out.add(t[1:])
        elif isinstance(n, Group):
            out |= set(n.keys) | {name for name, _ in n.aggs}
        elif isinstance(n, Project) and n.vars:
            # subquery projection: only the projected vars escape
            out |= set(n.vars)
            continue
        elif isinstance(n, Minus):
            # MINUS's right side binds nothing in the outer scope
            stack.append(n.left)
            continue
        elif isinstance(n, Filter):
            # an EXISTS group's vars do not escape the filter expression
            stack.append(n.child)
            continue
        stack.extend(subnodes(n))
    return out


def certain_vars(node) -> set:
    """Variables CERTAINLY bound (never NULL) in every solution of
    ``node`` — the static analysis behind SPARQL solution-compatibility
    joins (translate.Translator._join_compat): a shared variable that is
    certain on BOTH join sides can use a plain equi-join; one that may be
    unbound needs the IS NULL-compatible condition. Conservative by
    design — anything not provably bound is treated as maybe-unbound, so
    an under-approximation only costs plan quality, never correctness."""
    def pat_vars(p) -> set:
        out = set()
        for a in ("s", "p", "o"):
            v = getattr(p, a, None)
            if isinstance(v, str) and v.startswith("?"):
                out.add(v[1:])
        return out

    if isinstance(node, BGP):
        out: set = set()
        for p in node.patterns:
            out |= pat_vars(p)
        return out
    if isinstance(node, Join):
        return certain_vars(node.left) | certain_vars(node.right)
    if isinstance(node, (LeftJoin, Minus)):
        return certain_vars(node.left)
    if isinstance(node, Union):
        return certain_vars(node.left) & certain_vars(node.right)
    if isinstance(node, Filter):
        return certain_vars(node.child)
    if isinstance(node, Bind):
        # the BIND expression may evaluate to error/NULL -> target is maybe
        return certain_vars(node.child)
    if isinstance(node, Values):
        bound = {
            v
            for i, v in enumerate(node.varnames)
            if all(row[i] is not None for row in node.rows)
        }
        if node.child is None:
            return bound
        return bound | certain_vars(node.child)
    if isinstance(node, Group):
        # group keys survive iff certain below; aggregate outputs can be
        # NULL (MIN over all-unbound) -> maybe
        return set(node.keys) & certain_vars(node.child)
    if isinstance(node, Project):
        base = certain_vars(node.child) & set(node.vars)
        return base - {v for v, _ in node.exprs}
    if isinstance(node, (Distinct, OrderBy, Slice)):
        return certain_vars(node.child)
    if isinstance(node, Graph):
        inner = certain_vars(node.child)
        t = node.term
        if isinstance(t, str) and t.startswith("?"):
            inner = inner | {t[1:]}
        return inner
    # Service, Reduced, unknown nodes: no guarantee
    return set()
