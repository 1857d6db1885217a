#!/usr/bin/env python3
"""Self-test of the benchmark's own machinery; needs no Spark.

    python3 sparqlbench/selftest.py

Checks that the request generator is a pure function of the seed, that
the DuckDB twins run, and that the answer check reports an injected wrong
expected answer as a failure. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from oracle import Oracle, check, normalize

WORKLOADS = ("sparql_point", "sparql_scan", "store_churn")


def _rounds(workload: str, seed: int) -> list:
    return [inputs.warmup(workload, seed)] + [
        inputs.requests(workload, seed, i) for i in range(1, 4)
    ]


def _results_json(cols: list[str], rows) -> str:
    """A SPARQL 1.1 JSON results document holding ``rows``."""
    bindings = [{c: {"type": "literal", "value": v} for c, v in zip(cols, r) if v is not None}
                for r in rows]
    return json.dumps({"head": {"vars": cols}, "results": {"bindings": bindings}})


def test_seeded_generator() -> None:
    for w in WORKLOADS:
        assert _rounds(w, 7) == _rounds(w, 7), f"{w}: same seed, different requests"
        assert _rounds(w, 7) != _rounds(w, 8), f"{w}: different seeds, same requests"
    assert inputs.customer_rows(7) == inputs.customer_rows(7)
    assert inputs.customer_rows(7) != inputs.customer_rows(8)
    assert inputs.delta_triples(7, 1) == inputs.delta_triples(7, 1)
    assert inputs.delta_triples(7, 1) != inputs.delta_triples(8, 1)
    assert inputs.base_triples(7) != inputs.base_triples(8)
    assert len(set(inputs.base_triples(7))) == inputs.N_DERIVED_TRIPLES


def test_churn_alternates() -> None:
    writes = [(r.write, r.delta) for r in inputs.warmup("store_churn", 7)]
    writes += [(r.write, r.delta) for i in range(1, 3)
               for r in inputs.requests("store_churn", 7, i)]
    assert writes == [("append", 0), ("delete", 0), ("append", 1), ("delete", 1),
                      ("append", 2)], writes


def test_deltas_use_new_subjects() -> None:
    base = {f"c:{k}" for k in inputs.customer_rows(7)["c_custkey"]}
    seen: set = set()
    for i in range(4):
        subjects = {s for s, _, _ in inputs.delta_triples(7, i)}
        assert not subjects & (base | seen), "a delta reuses a live subject"
        assert len(inputs.delta_triples(7, i)) == inputs.N_DELTA_TRIPLES
        seen |= subjects


def test_wrong_answer_is_a_failure(work: str) -> None:
    for name, cols in (("customer", inputs.customer_rows(7)),
                       ("nation", inputs.nation_rows()),
                       ("region", inputs.region_rows())):
        pq.write_table(pa.table(cols), os.path.join(work, f"{name}.parquet"))
    oracle = Oracle(work, {t: os.path.join(work, f"{t}.parquet")
                           for t in ("customer", "nation", "region")})
    try:
        for req in inputs.requests("sparql_point", 7, 1):
            rows = oracle.rows(req.oracle)
            assert rows, f"{req.shape}: empty twin answer makes a weak check"
            width = len(rows[0])
            answer = _results_json([f"v{i}" for i in range(width)], rows)
            assert check(req, answer, oracle), f"{req.shape}: right answer rejected"
            # inject a wrong expected answer: one value of one row changed
            wrong = [list(r) for r in rows]
            wrong[0][-1] = "wrong"
            oracle._cache[req.oracle] = normalize(wrong)
            assert not check(req, answer, oracle), f"{req.shape}: wrong answer accepted"
    finally:
        oracle.close()
    delete, append = inputs.requests("store_churn", 7, 1)
    cols = ["s", "p", "o"]
    assert check(append, _results_json(cols, append.expect), None)
    assert check(delete, _results_json(cols, []), None)
    assert not check(delete, _results_json(cols, append.expect[:1]), None)
    assert not check(append, _results_json(cols, append.expect[1:]), None)


def main() -> int:
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".sparqlbench_work")
    os.makedirs(root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=root)
    try:
        test_seeded_generator()
        test_deltas_use_new_subjects()
        test_churn_alternates()
        test_wrong_answer_is_a_failure(work)
    except AssertionError as e:
        print(f"selftest FAILED: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
