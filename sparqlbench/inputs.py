"""Seeded inputs: source tables, write deltas and request lists.

Everything here is a pure function of the workload seed, so the same seed
gives the same inputs and a different seed gives different ones (checked
by selftest.py). The program under test only ever receives what these
functions produce: N-Triples (the base store and the deltas) and SPARQL
text. The source tables are written for the DuckDB twins only. Each
request carries the DuckDB SQL twin (or, for writes, the exact triples)
its answer is checked against.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

# derived customer/nation/region store (sparql_point, store_churn)
N_CUSTOMERS = 3000
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
NATIONS = (
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
# customer star: 5 triples per customer; nation: 3 + ex:next; region: 2
N_DERIVED_TRIPLES = 5 * N_CUSTOMERS + 3 * len(NATIONS) + (len(NATIONS) - 1) + 2 * len(REGIONS)

# store_churn: each delta adds ~1 % of the store as new customers
DELTA_CUSTOMERS = 30
N_DELTA_TRIPLES = 5 * DELTA_CUSTOMERS

# sources.synth_graph chain graph (sparql_scan)
N_BLOCKS = 10_000
BLOCK = 16
START_SET_SIZES = (10, 100, 1000)

# nominal time of one round of requests after the warm-up, in local[2] on
# a 4-vCPU machine; a run times --seconds / ROUND_SECONDS whole rounds
ROUND_SECONDS = {"sparql_point": 5, "store_churn": 14, "sparql_scan": 10}
# warm-up rounds before the timed loop: sparql_point latency still falls
# by ~10 % a round after the first one
WARMUP_ROUNDS = {"sparql_point": 2, "store_churn": 1, "sparql_scan": 1}


@dataclass(frozen=True)
class Request:
    """One client request. ``sparql`` is what the program receives;
    ``oracle`` is the DuckDB SQL twin of its answer (SPARQL reads) and
    ``expect`` the exact answer rows (read-your-writes reads)."""

    shape: str
    sparql: str
    oracle: str | None = None
    write: str | None = None  # "append" | "delete" for store_churn
    delta: int | None = None  # delta index the write applies
    expect: tuple = ()


# --- source tables -----------------------------------------------------------


def customer_rows(seed: int) -> dict[str, list]:
    """Column lists of the customer table: fixed size, seeded values."""
    rng = random.Random(f"customers-{seed}")
    keys = list(range(1, N_CUSTOMERS + 1))
    return {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": [rng.randrange(len(NATIONS)) for _ in keys],
        "c_acctbal": [rng.randrange(-99_999, 999_999) / 100 for _ in keys],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in keys],
    }


def nation_rows() -> dict[str, list]:
    return {
        "n_nationkey": list(range(len(NATIONS))),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": [r for _, r in NATIONS],
    }


def region_rows() -> dict[str, list]:
    return {"r_regionkey": list(range(len(REGIONS))), "r_name": list(REGIONS)}


# --- store_churn deltas -------------------------------------------------------


def delta_triples(seed: int, index: int) -> list[tuple[str, str, str]]:
    """Delta ``index``: DELTA_CUSTOMERS new customers (subjects no other
    delta or the base store uses), in the derived store's term convention."""
    rng = random.Random(f"delta-{seed}-{index}")
    out = []
    first = N_CUSTOMERS + 1 + index * DELTA_CUSTOMERS
    for k in range(first, first + DELTA_CUSTOMERS):
        s = f"c:{k}"
        out += [
            (s, "rdf:type", "Customer"),
            (s, "foaf:name", f"Customer#{k:09d}"),
            (s, "ex:nation", f"n:{rng.randrange(len(NATIONS))}"),
            (s, "ex:acctbal", f"{rng.randrange(-99_999, 999_999) / 100:.2f}"),
            (s, "ex:mktsegment", rng.choice(SEGMENTS)),
        ]
    return out


# a term with a scheme-like prefix ("c:1", "ex:next") is an IRI, as in the
# sources layer's N-Triples writer; every other term is a plain literal
_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def ntriples(triples) -> str:
    """N-Triples text of (s, p, o) terms in the store's convention (none
    of the generated values needs escaping)."""

    def term(t: str) -> str:
        return f"<{t}>" if _IRI.match(t) else f'"{t}"'

    return "".join(f"{term(s)} {term(p)} {term(o)} .\n" for s, p, o in triples)


def base_triples(seed: int) -> list[tuple[str, str, str]]:
    """The derived customer/nation/region store: the triples
    sources/derived_rdf.py derives from the seeded tables (customer stars,
    nations with their region and the ex:next chain, regions)."""
    c = customer_rows(seed)
    out = []
    for k, name, nk, bal, seg in zip(c["c_custkey"], c["c_name"], c["c_nationkey"],
                                     c["c_acctbal"], c["c_mktsegment"]):
        s = f"c:{k}"
        out += [(s, "rdf:type", "Customer"), (s, "foaf:name", name),
                (s, "ex:nation", f"n:{nk}"), (s, "ex:acctbal", f"{bal:.2f}"),
                (s, "ex:mktsegment", seg)]
    for k, (name, rk) in enumerate(NATIONS):
        out += [(f"n:{k}", "rdf:type", "Nation"), (f"n:{k}", "foaf:name", name),
                (f"n:{k}", "ex:region", f"r:{rk}")]
        if k + 1 < len(NATIONS):
            out.append((f"n:{k}", "ex:next", f"n:{k + 1}"))
    for k, name in enumerate(REGIONS):
        out += [(f"r:{k}", "rdf:type", "Region"), (f"r:{k}", "foaf:name", name)]
    return out


def _subjects(triples) -> list[str]:
    return sorted({s for s, _, _ in triples}, key=lambda s: int(s[2:]))


def read_your_writes(triples) -> str:
    vals = " ".join(_subjects(triples))
    return f"SELECT ?s ?p ?o WHERE {{ VALUES ?s {{ {vals} }} ?s ?p ?o }}"


def churn_round(seed: int, index: int) -> list[Request]:
    """Round 0 (the warm-up) appends delta 0; round ``index`` >= 1 deletes
    delta index - 1 and appends delta index. The live store stays within
    one delta of its base size and ends every round in the same state.
    Each write is followed by a read of the delta's subjects, which must
    see nothing after a delete and exactly the delta after an append."""

    def write(kind: str, delta: int) -> Request:
        tr = delta_triples(seed, delta)
        return Request(kind, read_your_writes(tr), write=kind, delta=delta,
                       expect=tuple(sorted(tr)) if kind == "append" else ())

    return ([write("delete", index - 1)] if index else []) + [write("append", index)]


# --- sparql_point requests ----------------------------------------------------

_BAL = "printf('%.2f', c_acctbal)"


def point_round(seed: int, index: int) -> list[Request]:
    """One of each selective query shape, parameters drawn from the seed."""
    rng = random.Random(f"point-{seed}-{index}")
    k = rng.randint(1, N_CUSTOMERS)
    x = [rng.randrange(len(NATIONS)) for _ in range(5)]
    s = [rng.choice(SEGMENTS) for _ in range(4)]
    bal = rng.randrange(0, 9000)
    start = rng.randrange(len(NATIONS) - 1)
    return [
        Request(
            "customer_star",
            f"SELECT ?name ?bal ?seg ?n WHERE {{ c:{k} foaf:name ?name ; "
            f"ex:acctbal ?bal ; ex:mktsegment ?seg ; ex:nation ?n }}",
            f"SELECT c_name, {_BAL}, c_mktsegment, 'n:' || c_nationkey "
            f"FROM customer WHERE c_custkey = {k}",
        ),
        Request(
            "nation_segment_star",
            f'SELECT ?c ?name WHERE {{ ?c ex:nation n:{x[0]} ; '
            f'ex:mktsegment "{s[0]}" ; foaf:name ?name }}',
            f"SELECT 'c:' || c_custkey, c_name FROM customer "
            f"WHERE c_nationkey = {x[0]} AND c_mktsegment = '{s[0]}'",
        ),
        Request(
            "nation_group_by",
            f'SELECT ?n (COUNT(?c) AS ?k) WHERE {{ ?c ex:nation ?n ; '
            f'ex:mktsegment "{s[1]}" }} GROUP BY ?n',
            f"SELECT 'n:' || c_nationkey, COUNT(*) FROM customer "
            f"WHERE c_mktsegment = '{s[1]}' GROUP BY c_nationkey",
        ),
        Request(
            "optional",
            f'SELECT ?c ?name ?seg WHERE {{ ?c ex:nation n:{x[1]} ; foaf:name ?name '
            f'OPTIONAL {{ ?c ex:mktsegment ?seg FILTER(?seg = "{s[2]}") }} }}',
            f"SELECT 'c:' || c_custkey, c_name, "
            f"CASE WHEN c_mktsegment = '{s[2]}' THEN c_mktsegment END "
            f"FROM customer WHERE c_nationkey = {x[1]}",
        ),
        Request(
            "minus",
            f'SELECT ?c WHERE {{ ?c ex:nation n:{x[2]} '
            f'MINUS {{ ?c ex:mktsegment "{s[3]}" }} }}',
            f"SELECT 'c:' || c_custkey FROM customer "
            f"WHERE c_nationkey = {x[2]} AND c_mktsegment <> '{s[3]}'",
        ),
        Request(
            "filter",
            f"SELECT ?c ?bal WHERE {{ ?c ex:nation n:{x[3]} ; ex:acctbal ?bal "
            f"FILTER(?bal > {bal}) }}",
            f"SELECT 'c:' || c_custkey, {_BAL} FROM customer "
            f"WHERE c_nationkey = {x[3]} AND CAST({_BAL} AS DOUBLE) > {bal}",
        ),
        Request(
            "nation_path",
            f"SELECT ?y WHERE {{ n:{start} ex:next+ ?y }}",
            f"""WITH RECURSIVE e AS (
              SELECT n_nationkey AS src, n_nationkey + 1 AS dst FROM nation
              WHERE n_nationkey + 1 IN (SELECT n_nationkey FROM nation)),
            reach(k) AS (SELECT dst FROM e WHERE src = {start}
              UNION SELECT e.dst FROM reach r JOIN e ON e.src = r.k)
            SELECT 'n:' || k FROM reach""",
        ),
    ]


# --- sparql_scan requests -----------------------------------------------------

_NEXT_EDGES = "e AS (SELECT s AS src, o AS dst FROM triples WHERE p = 'ex:next')"


def _chain_len(b: int) -> int:
    """Chain length of block ``b`` in sources/synth_graph.py's integer law;
    used only to draw start nodes that have an ex:next successor."""
    return max(1, BLOCK >> (((b * 2654435761 + 40503) % 2147483648) % 7))


def start_nodes(rng: random.Random, n: int) -> list[str]:
    blocks = [b for b in rng.sample(range(N_BLOCKS), 3 * n) if _chain_len(b) >= 2][:n]
    return [f"n:{b * BLOCK + rng.randrange(_chain_len(b) - 1)}" for b in blocks]


def scan_round(seed: int, index: int) -> list[Request]:
    """Data-heavy shapes over the chain graph: bound closures of every
    start-set size, the seed closure, the unbound closure count and a
    whole-graph aggregate."""
    rng = random.Random(f"scan-{seed}-{index}")
    out = []
    for n in START_SET_SIZES:
        nodes = start_nodes(rng, n)
        vals = " ".join(nodes)
        rows = ", ".join(f"('{v}')" for v in nodes)
        out.append(Request(
            f"values_closure_{n}",
            f"SELECT ?x ?y WHERE {{ VALUES ?x {{ {vals} }} ?x ex:next+ ?y }}",
            f"""WITH RECURSIVE {_NEXT_EDGES},
            st(x) AS (VALUES {rows}),
            reach(x, y) AS (SELECT st.x, e.dst FROM st JOIN e ON e.src = st.x
              UNION SELECT r.x, e.dst FROM reach r JOIN e ON e.src = r.y)
            SELECT x, y FROM reach""",
        ))
    out += [
        Request(
            "seed_closure_grouped",
            "SELECT ?x (COUNT(?y) AS ?k) WHERE { ?x ex:seed ?s . ?x ex:next+ ?y } GROUP BY ?x",
            f"""WITH RECURSIVE {_NEXT_EDGES},
            reach(x, y) AS (
              SELECT t.s, e.dst FROM triples t JOIN e ON e.src = t.s WHERE t.p = 'ex:seed'
              UNION SELECT r.x, e.dst FROM reach r JOIN e ON e.src = r.y)
            SELECT x, COUNT(*) FROM reach GROUP BY x""",
        ),
        Request(
            "closure_count",
            "SELECT (COUNT(*) AS ?k) WHERE { ?x ex:next+ ?y }",
            f"""WITH RECURSIVE {_NEXT_EDGES},
            reach(x, y) AS (SELECT src, dst FROM e
              UNION SELECT r.x, e.dst FROM reach r JOIN e ON e.src = r.y)
            SELECT COUNT(*) FROM reach""",
        ),
        Request(
            "predicate_group_by",
            "SELECT ?p (COUNT(*) AS ?k) WHERE { ?s ?p ?o } GROUP BY ?p",
            "SELECT p, COUNT(*) FROM triples GROUP BY p",
        ),
    ]
    return out


ROUNDS = {"sparql_point": point_round, "sparql_scan": scan_round, "store_churn": churn_round}


def requests(workload: str, seed: int, index: int) -> list[Request]:
    """Round ``index`` (from 1) of a workload's request mix."""
    return ROUNDS[workload](seed, index)


def warmup(workload: str, seed: int) -> list[Request]:
    """Rounds 1 - WARMUP_ROUNDS .. 0: the warm-up requests sent before the
    timed loop."""
    return [r for i in range(1 - WARMUP_ROUNDS[workload], 1)
            for r in ROUNDS[workload](seed, i)]
