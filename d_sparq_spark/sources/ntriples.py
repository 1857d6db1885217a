"""N-Triples source and sink (SURVEY §2.A A1).

The reference's load phase parses `<s> <p> <o> .` lines with MapReduce
jobs (D-SPARQ paper, load pipeline). Spark-first: an N-Triples file is
just ``spark.read.text`` plus one regexp per term — fully JVM-side,
whole-stage-codegen'd, linearly parallel over file splits at any scale
(text splits on line boundaries, so a 100 TB dump parallelizes for free).

Term convention: IRIs are kept in their prefixed lexical form ("c:1",
"foaf:name") and serialized as <c:1>; literals are quoted with standard
N-Triples escaping. parse(format(x)) == x for any term set.

Known limitation: numeric character escapes (backslash-uXXXX and
backslash-UXXXXXXXX) in EXTERNALLY produced files are not decoded (JVM
regex replacement cannot compute a codepoint); our own serializer never
emits them, so round-trips through this module are exact. A raw NUL
character in a literal is formatted as the u0000 escape and decodes back
as that escape text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# term is an IRI if it looks like prefix:... (see derived_rdf literals:
# none of them contain a lowercase-prefix + colon shape).
_IRI_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:"

# one full N-Triples line: subject, predicate, object (optionally language-
# tagged or datatyped literal), dot.
_LINE_RE = (
    r'^\s*(<[^>]*>|_:\S+)\s+(<[^>]*>)\s+'
    r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^>]*>)?)'
    r"\s*\.\s*$"
)

# serialized object forms (quoted lexical + tag), and the store's inline
# term forms ('"5"^^xsd:int' / '"x"@en' — plans/translate.py §typed)
_OBJ_TYPED_RE = r'^"((?:[^"\\]|\\.)*)"\^\^<([^>]*)>$'
_OBJ_LANG_RE = r'^"((?:[^"\\]|\\.)*)"@([A-Za-z][A-Za-z0-9-]*)$'
# (?s): the lexical form may contain real newlines (unescaped \n) — the
# store convention keeps them raw, and without DOTALL a multiline typed/
# tagged term would fall through to the plain-literal branch on format,
# losing its datatype/tag
_TERM_TYPED_RE = r'(?s)^"(.*)"\^\^([^@]+)$'
_TERM_LANG_RE = r'(?s)^"(.*)"@([A-Za-z][A-Za-z0-9-]*)$'


def _escape_literal(c: Column) -> Column:
    c = F.regexp_replace(c, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", "\\\\n")
    c = F.regexp_replace(c, "\r", "\\\\r")  # a raw CR would split the line on read
    c = F.regexp_replace(c, "\t", "\\\\t")
    c = F.regexp_replace(c, "\x08", "\\\\b")
    c = F.regexp_replace(c, "\x0c", "\\\\f")
    c = F.regexp_replace(c, "\x00", "\\\\u0000")  # NUL is not placeholder-safe raw
    return c


def _unescape_literal(c: Column) -> Column:
    # reverse order of _escape_literal; a placeholder guards the escaped
    # backslash so \\n doesn't turn into a newline. Raw NULs in EXTERNAL
    # input are sheltered first (review r4: a bare-\x00 placeholder
    # rewrote a raw NUL in the input to a backslash — silent corruption);
    # after sheltering, \x00 occurs only inside the \x00\x02 shelter or
    # the \x00\x01 placeholder, so the final restores are unambiguous.
    c = F.regexp_replace(c, "\x00", "\x00\x02")
    c = F.regexp_replace(c, r"\\\\", "\x00\x01")
    c = F.regexp_replace(c, '\\\\"', '"')
    c = F.regexp_replace(c, r"\\n", "\n")
    c = F.regexp_replace(c, r"\\r", "\r")
    c = F.regexp_replace(c, r"\\t", "\t")
    c = F.regexp_replace(c, r"\\b", "\x08")
    c = F.regexp_replace(c, r"\\f", "\x0c")
    c = F.regexp_replace(c, r"\\'", "'")
    c = F.regexp_replace(c, "\x00\x01", r"\\")
    c = F.regexp_replace(c, "\x00\x02", "\x00")
    return c


def _format_term(c: Column) -> Column:
    lex_t = F.regexp_extract(c, _TERM_TYPED_RE, 1)
    dt = F.regexp_extract(c, _TERM_TYPED_RE, 2)
    lex_l = F.regexp_extract(c, _TERM_LANG_RE, 1)
    tag = F.regexp_extract(c, _TERM_LANG_RE, 2)
    return (
        F.when(
            c.rlike(_TERM_TYPED_RE),
            F.concat(F.lit('"'), _escape_literal(lex_t), F.lit('"^^<'), dt, F.lit(">")),
        )
        .when(
            c.rlike(_TERM_LANG_RE),
            F.concat(F.lit('"'), _escape_literal(lex_l), F.lit('"@'), tag),
        )
        # blank nodes serialize as their label — formatting them as quoted
        # literals made a '_:' SUBJECT an invalid line that re-parse
        # silently dropped (review r4; UPDATE bnode templates mint these).
        # Only whitespace-free labels qualify (the line grammar's _:\S+);
        # a literal that merely STARTS with '_:' keeps the quoted form.
        .when(c.rlike(r"^_:\S+$"), c)
        .when(c.rlike(_IRI_RE), F.concat(F.lit("<"), c, F.lit(">")))
        .otherwise(F.concat(F.lit('"'), _escape_literal(c), F.lit('"')))
    )


def _parse_term(c: Column) -> Column:
    inner = F.substring(c, F.lit(2), F.length(c) - 2)
    typed = c.rlike(_OBJ_TYPED_RE)
    lang = c.rlike(_OBJ_LANG_RE)
    dt = F.regexp_extract(c, _OBJ_TYPED_RE, 2)
    # the quoted lexical part of every literal form, unescaped ONCE: the
    # unescape is an 11-step regexp_replace chain, and a copy per branch
    # would multiply the expression every parse builds
    lex = _unescape_literal(
        F.when(typed, F.regexp_extract(c, _OBJ_TYPED_RE, 1))
        .when(lang, F.regexp_extract(c, _OBJ_LANG_RE, 1))
        .otherwise(inner)
    )
    return (
        F.when(c.startswith("<"), inner)
        .when(
            typed,
            # RDF 1.1: "x"^^xsd:string is the same term as plain "x"
            F.when(dt == F.lit("xsd:string"), lex).otherwise(
                F.concat(F.lit('"'), lex, F.lit('"^^'), dt)
            ),
        )
        .when(
            lang,
            F.concat(F.lit('"'), lex, F.lit('"@'), F.regexp_extract(c, _OBJ_LANG_RE, 2)),
        )
        .when(c.startswith('"'), lex)
        .otherwise(c)  # blank node label kept verbatim
    )


def format_ntriples(triples: DataFrame) -> DataFrame:
    """triples(s,p,o) -> single-column DataFrame of N-Triples lines."""
    return triples.select(
        F.concat_ws(
            " ",
            _format_term(F.col("s")),
            _format_term(F.col("p")),
            _format_term(F.col("o")),
            F.lit("."),
        ).alias("value")
    )


# N-Quads: N-Triples + optional graph label before the dot (W3C N-Quads).
_QUAD_LINE_RE = (
    r'^\s*(<[^>]*>|_:\S+)\s+(<[^>]*>)\s+'
    r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^>]*>)?)'
    r"(?:\s+(<[^>]*>|_:\S+))?\s*\.\s*$"
)


def format_nquads(quads: DataFrame) -> DataFrame:
    """quads(s,p,o,g) -> single-column DataFrame of N-Quads lines."""
    return quads.select(
        F.concat_ws(
            " ",
            _format_term(F.col("s")),
            _format_term(F.col("p")),
            _format_term(F.col("o")),
            _format_term(F.col("g")),
            F.lit("."),
        ).alias("value")
    )


def parse_nquads(
    lines: DataFrame, column: str = "value", default_graph: str = "urn:x-default"
) -> DataFrame:
    """Raw text lines -> quads(s,p,o,g); statements without a graph label
    land in ``default_graph`` per the N-Quads default-graph semantics.
    Same scan shape as parse_ntriples: one regexp per term over
    spark.read.text splits — linear, whole-stage-codegen'd."""
    matched = lines.select(
        F.regexp_extract(F.col(column), _QUAD_LINE_RE, 1).alias("s_raw"),
        F.regexp_extract(F.col(column), _QUAD_LINE_RE, 2).alias("p_raw"),
        F.regexp_extract(F.col(column), _QUAD_LINE_RE, 3).alias("o_raw"),
        F.regexp_extract(F.col(column), _QUAD_LINE_RE, 4).alias("g_raw"),
    ).filter(F.col("s_raw") != "")
    return matched.select(
        _parse_term(F.col("s_raw")).alias("s"),
        _parse_term(F.col("p_raw")).alias("p"),
        _parse_term(F.col("o_raw")).alias("o"),
        F.when(F.col("g_raw") == "", F.lit(default_graph))
        .otherwise(_parse_term(F.col("g_raw")))
        .alias("g"),
    )


def parse_ntriples(lines: DataFrame, column: str = "value") -> DataFrame:
    """DataFrame of raw text lines -> triples(s,p,o); malformed lines and
    comments are dropped (regexp gate), as in any robust bulk loader."""
    matched = lines.select(
        F.regexp_extract(F.col(column), _LINE_RE, 1).alias("s_raw"),
        F.regexp_extract(F.col(column), _LINE_RE, 2).alias("p_raw"),
        F.regexp_extract(F.col(column), _LINE_RE, 3).alias("o_raw"),
    ).filter(F.col("s_raw") != "")
    return matched.select(
        _parse_term(F.col("s_raw")).alias("s"),
        _parse_term(F.col("p_raw")).alias("p"),
        _parse_term(F.col("o_raw")).alias("o"),
    )
