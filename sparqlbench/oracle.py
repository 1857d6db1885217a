"""Answer checking, kept outside every timed region.

SPARQL reads are checked against DuckDB SQL twins over the same source
data the store was loaded from (the customer/nation/region parquet for the
derived store, the generated triples parquet for the chain graph) — the
pairing queries/sparql_queries.py uses. Read-your-writes reads are checked
against the exact delta triples.
"""

from __future__ import annotations

import json
import os

import duckdb


def _key(row: tuple) -> tuple:
    # None (unbound) sorts before every value
    return tuple((v is not None, v or "") for v in row)


def normalize(rows) -> list[tuple]:
    """Multiset of answer rows as sorted tuples of lexical values."""
    return sorted(
        (tuple(None if v is None else str(v) for v in r) for r in rows), key=_key
    )


def answer_rows(results_json: str) -> list[tuple]:
    """Rows of a SPARQL 1.1 JSON results document, in head-variable order."""
    doc = json.loads(results_json)
    cols = doc["head"]["vars"]
    return normalize(
        tuple(b[c]["value"] if c in b else None for c in cols)
        for b in doc["results"]["bindings"]
    )


class Oracle:
    """DuckDB over parquet views; one in-memory connection per run."""

    def __init__(self, work_dir: str, views: dict[str, str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        self.con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
        for name, path in views.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[str, list[tuple]] = {}

    def rows(self, sql: str) -> list[tuple]:
        if sql not in self._cache:
            self._cache[sql] = normalize(self.con.execute(sql).fetchall())
        return self._cache[sql]

    def close(self) -> None:
        self.con.close()


def check(request, answer: str, oracle: Oracle | None) -> bool:
    """True when ``answer`` (a results_json document) is exactly the
    request's expected multiset of rows."""
    got = answer_rows(answer)
    want = normalize(request.expect) if request.write else oracle.rows(request.oracle)
    return got == want
