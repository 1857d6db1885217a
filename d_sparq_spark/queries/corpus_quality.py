"""Corpus-quality / decontamination ops for a training-data pipeline
(SURVEY.md §2.C, LLM-pipeline group — driver-mandated extension surface;
no counterpart in the reference [A]). All four are pure column-function
plans (JVM-side, no UDFs) with exact-integer or exact-ratio outputs so
the DuckDB oracle hash-matches bit-for-bit:

- q_contamination: word-3-gram shingle overlap of every corpus document
  against a benchmark holdout — THE eval-decontamination primitive.
- q_dedup_norm: exact dedup after text normalization (case/punct/
  whitespace folding) — catches trivially-mutated duplicates that byte
  hashing misses.
- q_repetition: per-document repetition/diversity ratios (top-token
  share, distinct-token share) — the cheap quality gate that drops
  degenerate boilerplate before expensive near-dup stages.
- q_token_histogram: corpus sequence-length distribution — what a
  packing/batching stage reads to pick context-window fill strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d_sparq_spark.localdata import arrow_df

from d_sparq_spark.functions import text as T
from d_sparq_spark.registry import register
from d_sparq_spark.sources.tables import load_table


def _tokens() -> F.Column:
    # delegate to the canonical tokenizer so a future change there (e.g.
    # the review-r4 whitespace-class fix to BPE_RE) can't silently fork
    # this module from the oracle mirrors generated off text.py (review r4)
    return T.tokens(F.col("text"))


def _shingles(tokens: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as an array column. Empty array for
    docs shorter than n tokens (Spark's sequence() would count DOWN for
    start > stop, so the when-guard is load-bearing).

    Deliberately PRIVATE and distinct from operators/dedup.shingles: that
    one falls back to a whole-text shingle for short docs (MinHash needs
    every doc represented); this one excludes short docs (a 2-token doc
    has no 3-gram to be contaminated BY). Same name at module scope led
    to silent semantic swaps on import."""
    idx = F.sequence(F.lit(1), F.size(tokens) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tokens, i + j) for j in range(n)]
    )
    return F.when(
        F.size(tokens) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


# --- benchmark contamination --------------------------------------------------

_ORACLE_CONTAMINATION = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tk) - 1, 1)),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
         ))) AS shingle
  FROM t
),
bench AS (SELECT DISTINCT shingle FROM s WHERE doc_id % 50 = 0),
ev AS (SELECT * FROM s WHERE doc_id % 50 <> 0),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY doc_id),
hit AS (SELECT ev.doc_id, COUNT(*) AS n_contaminated
        FROM ev JOIN bench USING (shingle) GROUP BY ev.doc_id)
SELECT tot.doc_id, n_shingles,
       COALESCE(n_contaminated, 0) AS n_contaminated,
       CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_shingles AS contamination
FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
"""


@register("q_contamination", oracle=_ORACLE_CONTAMINATION)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: fraction of each document's distinct
    word-3-gram shingles that appear anywhere in the benchmark holdout
    (here: every 50th doc_id — stand-in for an eval suite). Scale shape:
    the benchmark shingle set is BROADCAST (benchmarks are tiny by
    definition), so the corpus side is one scan + map-side hash probe +
    one groupBy on doc_id — no corpus-sized shuffle on the shingle key.
    The ratio divides two exact counts -> bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(_shingles(_tokens())).alias("shingle")
    )
    bench = (
        sh.filter(F.col("doc_id") % 50 == 0).select("shingle").distinct()
    )
    ev = sh.filter(F.col("doc_id") % 50 != 0)
    # ONE pass over the corpus side: mark each shingle via broadcast left
    # join, then count total and contaminated in the same aggregation —
    # the two-agg + join formulation re-derived the explode a third time
    marked = ev.join(
        F.broadcast(bench.withColumn("_hit", F.lit(1))), "shingle", "left"
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        (
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("contamination"),
    )


# --- normalization dedup ------------------------------------------------------

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)

_ORACLE_DEDUP_NORM = f"""
SELECT sha256({_NORM_SQL}) AS norm_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


@register("q_dedup_norm", oracle=_ORACLE_DEDUP_NORM)
def q_dedup_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER normalization (lowercase, strip non-alphanumeric,
    collapse whitespace): catches the near-verbatim mutations — casing,
    punctuation, double spaces — that raw-byte hashing (q_dedup_sha)
    misses. Same 100 TB shape as the SHA dedup: the shuffle key is the
    64-hex digest of the NORMALIZED text, bodies never move."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        docs.select(F.sha2(norm, 256).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# --- repetition / diversity quality gate --------------------------------------

_ORACLE_REPETITION = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok)
SELECT doc_id,
       MAX(c) AS top_tok_count,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS repetition,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS diversity
FROM cnt GROUP BY doc_id
"""


@register("q_repetition", oracle=_ORACLE_REPETITION)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition gate: share of the most frequent token and
    distinct-token share. Degenerate docs (keyboard mash, boilerplate
    loops) score repetition->1 / diversity->0 and get dropped before the
    expensive near-dup stages. Two partial-aggregating groupBys on
    (doc_id, token) then doc_id — fully map-side-combinable; ratios are
    exact-count divisions, so the oracle hash-matches."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.max("c").alias("top_tok_count"),
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.max("c").cast("double") / F.sum("c")).alias("repetition"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias("diversity"),
    )


# --- sketch-based distinct counting -------------------------------------------

_ORACLE_APPROX_DISTINCT = """
SELECT lang, COUNT(DISTINCT text) AS exact_distinct, true AS within_5pct
FROM documents GROUP BY lang
"""


@register("q_approx_distinct", oracle=_ORACLE_APPROX_DISTINCT)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch distinct counting with a SELF-CHECKING error band: the
    query returns the exact count plus a boolean asserting the sketch
    estimate landed within 5% of it — so the oracle can gate an
    approximate operator exactly. At 100 TB the sketch is the only
    affordable form (fixed-size state, no distinct shuffle); the exact
    count here is the verification harness, not the production path."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count_distinct("text").alias("exact_distinct"),
        F.approx_count_distinct("text", 0.02).alias("approx"),
    )
    return agg.select(
        "lang",
        "exact_distinct",
        (
            F.abs(F.col("approx") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            <= 0.05
        ).alias("within_5pct"),
    )


# --- sequence packing ---------------------------------------------------------

_ORACLE_PACK = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tok,
         CAST(SUM(n_tok) OVER (
           PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS cum
  FROM t
)
SELECT doc_id, lang, n_tok,
       CAST((cum - n_tok) // 2048 AS BIGINT) AS bin
FROM c
"""


@register("q_pack_sequences", oracle=_ORACLE_PACK)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential sequence packing: docs stream in doc_id order
    within a lang stratum and each is assigned the 2048-token bin where
    its first token lands (split-at-boundary packing — the streaming
    analog of what a context-window packer does; exact first-fit needs
    per-bin state and is deliberately not this operator). One partitioned
    window per stratum — no global sort, scales with stratum count."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tok = T.n_tokens_ws(F.col("text"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return docs.select("doc_id", "lang", n_tok.alias("n_tok")).select(
        "doc_id",
        "lang",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 2048).alias("bin"),
    )


# --- sequence-length histogram ------------------------------------------------

_ORACLE_TOKEN_HISTOGRAM = """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
)
SELECT CAST(n_tok // 16 AS BIGINT) * 16 AS bucket_lo,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       MIN(n_tok) AS min_tokens,
       MAX(n_tok) AS max_tokens
FROM t GROUP BY 1
"""


@register("q_token_histogram", oracle=_ORACLE_TOKEN_HISTOGRAM)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution (16-token buckets): what a packing /
    batching stage reads to choose context-window fill strategy. One
    narrow scan + one tiny hash agg; at 100 TB this is the cheapest
    whole-corpus statistic in the pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = T.n_tokens_ws(F.col("text"))
    return (
        docs.select((F.floor(n_tok / 16) * 16).alias("bucket_lo"), n_tok.alias("n_tok"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
    )


_ORACLE_BPE_PAIRS = """
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substr(w, CAST(i AS INT), 2))) AS pair
  FROM words WHERE length(w) >= 2
)
SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT 20
"""


@register("q_bpe_pairs", oracle=_ORACLE_BPE_PAIRS)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-symbol pairs across the corpus — the counting step
    of one BPE merge round (the highest-count pair is the next merge a
    tokenizer trainer would take). Scale shape: two generator explodes
    (words, then in-word positions) keep everything JVM-side; the count
    is a map-side-combinable hash agg keyed on 2-char pairs (bounded key
    space, so the shuffle is tiny no matter the corpus size); the final
    top-20 is TakeOrderedAndProject, never a global sort. A full BPE
    trainer is this query iterated with a merge-apply step between
    rounds."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(20)
    )


_ORACLE_VOCAB_COVERAGE = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
top AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rn
  FROM cnt ORDER BY c DESC, t LIMIT 5000
),
ks AS (SELECT unnest([100, 500, 1000, 5000]) AS k)
SELECT k,
       CAST(COALESCE(SUM(CASE WHEN rn <= k THEN c END), 0) AS BIGINT) AS covered,
       (SELECT n FROM total) AS total_tokens,
       CAST(COALESCE(SUM(CASE WHEN rn <= k THEN c END), 0) AS DOUBLE)
         / (SELECT n FROM total) AS coverage
FROM ks CROSS JOIN top
GROUP BY k
"""


@register("q_vocab_coverage", oracle=_ORACLE_VOCAB_COVERAGE)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus coverage of a top-k token vocabulary at k in {100, 500,
    1000, 5000} — what a tokenizer-vocab-size decision reads. Scale
    shape: token counting is the usual map-side-combinable explode+agg;
    the global top-5000 is TakeOrderedAndProject (per-partition top-k,
    driver merge), and only that bounded 5000-row set sees a
    single-partition window — windows over LIMIT-bounded derived sets
    are safe at any corpus size. The k-curve is a broadcast theta-join
    of 4 rows against the bounded set."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tokens()).alias("t"))
    cnt = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(F.sum("c").cast("long").alias("n"))
    top = (
        cnt.orderBy(F.col("c").desc(), "t")
        .limit(5000)
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.col("c").desc(), "t"))
        )
    )
    ks = arrow_df(spark, {"k": [100, 500, 1000, 5000]}, "k int")
    return (
        F.broadcast(ks)
        .crossJoin(top)
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("rn") <= F.col("k"), F.col("c"))), F.lit(0)
            )
            .cast("long")
            .alias("covered")
        )
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            "covered",
            F.col("n").alias("total_tokens"),
            (F.col("covered").cast("double") / F.col("n")).alias("coverage"),
        )
    )


_ORACLE_QUALITY_FILTER = f"""
WITH scored AS (
  SELECT doc_id, lang, {T.SQL_QUALITY.format(c='text')} AS quality FROM documents
),
ranked AS (
  SELECT doc_id, lang, quality,
         percent_rank() OVER (PARTITION BY lang ORDER BY quality NULLS LAST, doc_id) AS pr
  FROM scored
)
SELECT doc_id, lang, quality FROM ranked WHERE pr >= 0.3
"""


@register("q_quality_filter", oracle=_ORACLE_QUALITY_FILTER)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based quality gate: within each language, drop the
    bottom 30% by the composite quality score — the relative-threshold
    filter real pipelines use instead of absolute cutoffs (score scales
    drift per language). percent_rank windows partition by lang with a
    (quality, doc_id) unique ordering, so the boundary is deterministic;
    the shuffle is one hash partitioning on lang."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", T.quality_score(F.col("text")).alias("quality")
    )
    # explicit NULLS LAST: an empty-text doc scores NULL (alpha_ratio's
    # r4 fix) and Spark's ASC default is NULLS FIRST vs DuckDB's LAST —
    # without the pin, one empty doc shifts every rank in its language
    w = Window.partitionBy("lang").orderBy(
        F.col("quality").asc_nulls_last(), "doc_id"
    )
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.3)
        .select("doc_id", "lang", "quality")
    )
