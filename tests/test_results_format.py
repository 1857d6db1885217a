"""W3C SPARQL results serialization: term mapping per the store's lexical
convention, JSON/CSV documents round-trip through standard parsers."""

import csv
import io
import json

from d_sparq_spark.engine import SparqlEngine
from d_sparq_spark.results import ask_json, results_csv, results_json, term_to_json


def test_term_mapping():
    assert term_to_json("p:alice") == {"type": "uri", "value": "p:alice"}
    assert term_to_json("http://example.org/x") == {
        "type": "uri", "value": "http://example.org/x"
    }
    assert term_to_json("_:b0") == {"type": "bnode", "value": "b0"}
    assert term_to_json('"cat"@en') == {
        "type": "literal", "value": "cat", "xml:lang": "en"
    }
    # spec: datatype must be an ABSOLUTE IRI — known prefixes expand
    assert term_to_json('"5"^^xsd:int') == {
        "type": "literal", "value": "5",
        "datatype": "http://www.w3.org/2001/XMLSchema#int",
    }
    assert term_to_json('"x"^^ex:custom') == {
        "type": "literal", "value": "x", "datatype": "ex:custom"
    }
    assert term_to_json("plain words") == {"type": "literal", "value": "plain words"}
    assert term_to_json(None) is None


def test_results_json_and_csv_from_query(spark):
    triples = spark.createDataFrame(
        [
            ("p:a", "ex:name", '"Ada"@en'),
            ("p:a", "ex:age", '"36"^^xsd:int'),
            ("p:b", "ex:name", "Bo"),
        ],
        "s string, p string, o string",
    )
    eng = SparqlEngine(triples, collect_stats=False)
    df = eng.query(
        "SELECT ?x ?n ?a WHERE { ?x ex:name ?n OPTIONAL { ?x ex:age ?a } } ORDER BY ?x"
    )
    doc = json.loads(results_json(df))
    assert doc["head"]["vars"] == ["x", "n", "a"]
    b0, b1 = doc["results"]["bindings"]
    assert b0["x"] == {"type": "uri", "value": "p:a"}
    assert b0["n"] == {"type": "literal", "value": "Ada", "xml:lang": "en"}
    assert b0["a"] == {
        "type": "literal", "value": "36",
        "datatype": "http://www.w3.org/2001/XMLSchema#int",
    }
    assert "a" not in b1  # unbound variable omitted per spec

    text = results_csv(df)
    rows = list(csv.reader(io.StringIO(text)))
    assert rows[0] == ["x", "n", "a"]
    assert rows[1] == ["p:a", "Ada", "36"]  # lexical forms
    assert rows[2] == ["p:b", "Bo", ""]


def test_ask_json():
    assert json.loads(ask_json(True)) == {"head": {}, "boolean": True}


def test_typed_python_values_serialize_canonically(spark):
    # review r3: str(True) leaked the invalid lexical "True"; counts lost
    # their integer datatype
    import json

    from d_sparq_spark.results import results_csv, results_json

    df = spark.createDataFrame([(True, 42, 1.5)], "b boolean, n long, x double")
    doc = json.loads(results_json(df))
    b = doc["results"]["bindings"][0]
    assert b["b"] == {
        "type": "literal", "value": "true",
        "datatype": "http://www.w3.org/2001/XMLSchema#boolean",
    }
    assert b["n"]["value"] == "42"
    assert b["n"]["datatype"].endswith("integer")
    assert b["x"]["datatype"].endswith("double")
    csv_out = results_csv(df)
    assert "true" in csv_out and "True" not in csv_out


def test_results_json_strict_interop_roundtrip(spark):
    """r4 (VERDICT r3 #9): a full results document, validated against the
    SPARQL 1.1 Results spec shape the way a strict client parser would —
    exact key sets per term type, ABSOLUTE datatype IRIs, bnode labels
    without the '_:' prefix — then round-tripped back to the store's term
    convention and compared with the engine's own bindings."""
    import json as _json
    import re as _re

    from d_sparq_spark.engine import SparqlEngine
    from d_sparq_spark.results import results_json

    triples = spark.createDataFrame(
        [
            ("p:a", "ex:name", '"Ada"@en'),
            ("p:a", "ex:age", '"36"^^xsd:int'),
            ("p:a", "ex:addr", "_:blk0"),
            ("p:b", "ex:name", "Bo"),
        ],
        "s string, p string, o string",
    )
    eng = SparqlEngine(triples, collect_stats=False)
    df = eng.query(
        "SELECT ?s ?o ?extra WHERE { ?s ex:name ?n . ?s ?p ?o "
        "OPTIONAL { ?s ex:missing ?extra } }"
    )
    doc = _json.loads(results_json(df))

    # -- strict client-side validation --
    assert set(doc.keys()) == {"head", "results"}
    assert doc["head"] == {"vars": ["s", "o", "extra"]}
    assert set(doc["results"].keys()) == {"bindings"}
    abs_iri = _re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
    bnode_label = _re.compile(r"^[A-Za-z0-9]+$")
    for b in doc["results"]["bindings"]:
        assert set(b.keys()) <= {"s", "o", "extra"}  # only projected vars
        for term in b.values():
            t = term["type"]
            assert t in ("uri", "literal", "bnode")
            if t == "uri":
                assert set(term.keys()) == {"type", "value"}
                assert abs_iri.match(term["value"])
            elif t == "bnode":
                assert set(term.keys()) == {"type", "value"}
                assert bnode_label.match(term["value"])  # no '_:' on the wire
            else:
                assert set(term.keys()) in (
                    {"type", "value"},
                    {"type", "value", "datatype"},
                    {"type", "value", "xml:lang"},
                )
                if "datatype" in term:
                    # spec: datatype MUST be an absolute IRI, never compact
                    assert term["datatype"].startswith("http")

    # -- round-trip back to the store's term convention --
    def from_json(term):
        if term is None:
            return None
        if term["type"] == "bnode":
            return "_:" + term["value"]
        if term["type"] == "uri":
            return term["value"]
        if "xml:lang" in term:
            return f'"{term["value"]}"@{term["xml:lang"]}'
        if "datatype" in term:
            dt = term["datatype"].replace("http://www.w3.org/2001/XMLSchema#", "xsd:")
            return f'"{term["value"]}"^^{dt}'
        return term["value"]

    got = sorted(
        tuple(from_json(b.get(v)) for v in doc["head"]["vars"])
        for b in doc["results"]["bindings"]
    )
    want = sorted(tuple(r) for r in df.collect())
    assert got == want
    # the fixture covers every term flavor: IRI, bnode, plain, tagged,
    # typed literal, and an unbound column
    flat = [x for row in want for x in row]
    assert "_:blk0" in flat and '"Ada"@en' in flat and '"36"^^xsd:int' in flat
    assert None in flat and "Bo" in flat


def test_double_specials_use_xsd_lexicals():
    """NaN/Inf doubles must serialize as the XSD lexicals 'NaN'/'INF'/
    '-INF' — Python's repr forms ('nan'/'inf') are invalid xsd:double and
    conforming SPARQL results consumers reject them (review r4)."""
    assert term_to_json(float("nan"))["value"] == "NaN"
    assert term_to_json(float("inf"))["value"] == "INF"
    assert term_to_json(float("-inf"))["value"] == "-INF"
    assert term_to_json(1.5)["value"] == "1.5"


def test_iter_results_equal_collect_forms_multibatch(spark):
    """r5 (VERDICT r4 #9): the streaming serializers must emit the SAME
    document as the collect forms over a result spanning many partitions
    (toLocalIterator pulls one partition at a time — driver memory stays
    O(partition)), and the chunking must be genuinely incremental."""
    from pyspark.sql import functions as F

    from d_sparq_spark.results import (
        iter_results_csv,
        iter_results_json,
        results_csv,
        results_json,
        write_results,
    )

    df = (
        spark.range(2000)
        .repartition(8)
        .select(
            F.concat(F.lit("ex:s"), F.col("id")).alias("s"),
            F.when(F.col("id") % 7 == 0, F.lit(None)).otherwise(
                F.concat(F.lit('"v'), F.col("id"), F.lit('"@en'))
            ).alias("o"),
            (F.col("id") % 3 == 0).alias("flag"),
        )
        # deterministic emission order for the byte-equality check
        .orderBy("s")
    )
    chunks_json = list(iter_results_json(df))
    assert "".join(chunks_json) == results_json(df)
    assert len(chunks_json) == 2000 + 2  # header + one per row + closer
    assert json.loads("".join(chunks_json))["head"]["vars"] == ["s", "o", "flag"]

    chunks_csv = list(iter_results_csv(df))
    assert "".join(chunks_csv) == results_csv(df)
    assert len(chunks_csv) == 2000 + 1

    # limit + file writer round-trip
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        n = write_results(df, f"{d}/out.json", fmt="json", limit=37)
        assert n == 37
        doc = json.load(open(f"{d}/out.json"))
        assert len(doc["results"]["bindings"]) == 37
        n = write_results(df, f"{d}/out.csv", fmt="csv")
        assert n == 2000
        got_csv = open(f"{d}/out.csv", newline="").read()
        want_csv = results_csv(df)
        assert got_csv == want_csv, (got_csv[:200], want_csv[:200])


def test_collect_forms_fire_one_job(spark, jobs_fired):
    """results_json / results_csv serialize from ONE collect: one Spark job
    on a shuffle-free frame of 3 partitions, where the streaming forms'
    toLocalIterator runs one job per partition. Same bytes either way."""
    from pyspark.sql import functions as F

    from d_sparq_spark.results import iter_results_csv, iter_results_json

    df = spark.range(0, 30, 1, 3).select(
        F.concat(F.lit("ex:s"), F.col("id")).alias("s"),
        F.when(F.col("id") % 4 == 0, F.lit(None))
        .otherwise(F.col("id") * 0.5)
        .alias("x"),
    )
    doc, n = jobs_fired(lambda: results_json(df))
    assert n == 1
    assert doc == "".join(iter_results_json(df))
    assert len(json.loads(doc)["results"]["bindings"]) == 30
    text, n = jobs_fired(lambda: results_csv(df))
    assert n == 1
    assert text == "".join(iter_results_csv(df))
    _, n = jobs_fired(lambda: "".join(iter_results_json(df)))
    assert n == 3
