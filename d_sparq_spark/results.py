"""W3C SPARQL 1.1 query results serialization (JSON + CSV).

A D-SPARQ user drives the engine through a SPARQL endpoint surface; the
wire formats are standardized (SPARQL 1.1 Query Results JSON Format /
CSV-TSV, W3C REC 2013-03-21). The engine's bindings DataFrames carry the
store's lexical term convention (plans/translate.py): IRIs are plain
strings, '_:'-prefixed blank nodes, '"..."@lang' / '"..."^^type' typed
literals, anything else a plain literal — these serializers map that
convention onto the spec's term objects.

Driver-side by design: result SETS are user-facing query answers (LIMITed
or small by construction), not data-scale relations. Two forms share one
row formatter and emit byte-identical documents:

- results_json / results_csv collect the result in ONE Spark action (one
  job for a shuffle-free plan) and serialize it on the driver — the
  endpoint path, where per-job overhead dominates a small answer;
- iter_results_* / write_results stream it with toLocalIterator, one job
  per result partition, so driver memory stays O(partition) for results
  too big to collect.

For data-scale output the parquet/ORC sinks are the path; these formats
exist for endpoint compatibility.
"""

from __future__ import annotations

import json
import math
import re

from pyspark.sql import DataFrame

_TYPED = re.compile(r'^"(.*)"\^\^(.+)$', re.DOTALL)
_TAGGED = re.compile(r'^"(.*)"@([A-Za-z][A-Za-z0-9-]*)$', re.DOTALL)
_IRI_LIKE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

# The spec requires 'datatype' to be an ABSOLUTE IRI; the store keeps the
# compact prefixed form, so well-known prefixes expand at serialization
# time (unknown prefixes pass through — the store can't invent a base).
_PREFIX_IRIS = {
    "xsd:": "http://www.w3.org/2001/XMLSchema#",
    "rdf:": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs:": "http://www.w3.org/2000/01/rdf-schema#",
}


def _double_lexical(v: float) -> str:
    """Canonical xsd:double lexical form: repr() covers the finite range,
    but the XSD specials are spelled 'NaN' / 'INF' / '-INF' — Python's
    'nan'/'inf' are not valid xsd:double lexicals and conforming results
    consumers reject them."""
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "INF" if v > 0 else "-INF"
    return repr(v)


def _expand_datatype(dt: str) -> str:
    for pfx, iri in _PREFIX_IRIS.items():
        if dt.startswith(pfx):
            return iri + dt[len(pfx):]
    return dt


def term_to_json(value: object) -> dict | None:
    """One binding value -> a spec term object (None stays unbound).
    Non-string Python values (aggregate counts, boolean/numeric BIND
    results) carry their XSD datatype and canonical lexical form —
    str(True) would emit the invalid lexical "True"."""
    if value is None:
        return None
    if isinstance(value, bool):
        return {
            "type": "literal",
            "value": "true" if value else "false",
            "datatype": _PREFIX_IRIS["xsd:"] + "boolean",
        }
    if isinstance(value, int):
        return {
            "type": "literal",
            "value": str(value),
            "datatype": _PREFIX_IRIS["xsd:"] + "integer",
        }
    if isinstance(value, float):
        return {
            "type": "literal",
            "value": _double_lexical(value),
            "datatype": _PREFIX_IRIS["xsd:"] + "double",
        }
    s = str(value)
    m = _TYPED.match(s)
    if m:
        return {
            "type": "literal",
            "value": m.group(1),
            "datatype": _expand_datatype(m.group(2)),
        }
    m = _TAGGED.match(s)
    if m:
        return {"type": "literal", "value": m.group(1), "xml:lang": m.group(2)}
    if s.startswith("_:"):
        return {"type": "bnode", "value": s[2:]}
    if _IRI_LIKE.match(s):
        return {"type": "uri", "value": s}
    return {"type": "literal", "value": s}


def _limited(df: DataFrame, limit: int | None) -> DataFrame:
    return df if limit is None else df.limit(limit)


def _json_chunks(cols: list[str], rows):
    """The JSON results document as string chunks: header, one chunk per
    binding row, closer. The one row formatter behind both the collect
    and the streaming forms, so the two cannot diverge."""
    head = json.dumps({"head": {"vars": cols}}, ensure_ascii=False)
    yield head[:-1] + ', "results": {"bindings": ['
    first = True
    for r in rows:
        b = {}
        for c in cols:
            t = term_to_json(r[c])
            if t is not None:
                b[c] = t
        chunk = json.dumps(b, ensure_ascii=False)
        yield chunk if first else ", " + chunk
        first = False
    yield "]}}"


def _csv_field(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    s = _double_lexical(v) if isinstance(v, float) else str(v)
    m = _TYPED.match(s) or _TAGGED.match(s)
    return m.group(1) if m else s


def _csv_chunks(cols: list[str], rows):
    """The CSV results document line by line, header first (the CSV twin
    of _json_chunks)."""
    import csv
    import io

    def line(values) -> str:
        buf = io.StringIO()
        csv.writer(buf, lineterminator="\r\n").writerow(values)
        return buf.getvalue()

    yield line(cols)
    for r in rows:
        yield line([_csv_field(r[c]) for c in cols])


def results_json(df: DataFrame, limit: int | None = None) -> str:
    """SELECT bindings -> SPARQL 1.1 JSON results document, from ONE
    collect() — one Spark job for a shuffle-free plan, where
    toLocalIterator would run one job per result partition, one after
    another. The document is byte-identical to iter_results_json's."""
    return "".join(_json_chunks(df.columns, _limited(df, limit).collect()))


def ask_json(result: bool) -> str:
    return json.dumps({"head": {}, "boolean": bool(result)})


def results_csv(df: DataFrame, limit: int | None = None) -> str:
    """CSV results per the spec: header of variable names, lexical forms
    (typed/tagged literals reduced to their lexical value), unbound ->
    empty field. One collect(), like results_json."""
    return "".join(_csv_chunks(df.columns, _limited(df, limit).collect()))


# --- large-result streaming path ----------------------------------------------
#
# results_json/results_csv collect the whole result: right for
# endpoint-sized answers, wrong when a SELECT/CONSTRUCT result is
# data-scale. The iterator forms below pull one partition at a time via
# toLocalIterator, so driver memory is bounded by a partition (at one
# Spark job per partition) while the emitted document is byte-identical
# to the collect form.


def iter_results_json(df: DataFrame, limit: int | None = None):
    """Yield the SPARQL 1.1 JSON results document as string chunks —
    header first, then one chunk per binding row, then the closer. Driver
    memory is O(partition), not O(result); ''.join(...) equals
    results_json(df) byte for byte."""
    yield from _json_chunks(df.columns, _limited(df, limit).toLocalIterator())


def iter_results_csv(df: DataFrame, limit: int | None = None):
    """Yield the CSV results document line by line (header first), same
    lexical rules as results_csv; ''.join(...) equals results_csv(df)."""
    yield from _csv_chunks(df.columns, _limited(df, limit).toLocalIterator())


def write_results(
    df: DataFrame, path: str, fmt: str = "json", limit: int | None = None
) -> int:
    """Stream a results document to a local file without materializing the
    result on the driver. Returns the number of binding rows written.
    For genuinely data-scale output prefer a distributed sink
    (df.write.parquet) — this is the endpoint-format path made safe for
    results bigger than driver memory."""
    if fmt not in ("json", "csv"):
        raise ValueError(f"write_results: unknown format {fmt!r}")
    it = iter_results_json(df, limit) if fmt == "json" else iter_results_csv(df, limit)
    n = 0
    overhead = 2 if fmt == "json" else 1  # header + closer / header line
    # newline="" so the CSV's spec-mandated \r\n terminators are
    # written verbatim (text-mode translation would corrupt them on
    # platforms where os.linesep differs)
    with open(path, "w", encoding="utf-8", newline="") as f:
        for i, chunk in enumerate(it):
            f.write(chunk)
            n = i + 1
    return max(0, n - overhead)
