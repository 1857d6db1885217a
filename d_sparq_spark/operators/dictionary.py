"""Dictionary encoding/decoding of RDF terms (SURVEY §2.A A2/A3).

The reference assigns numeric IDs to all distinct terms with a dedicated
MapReduce job pair (D-SPARQ load phase), then rewrites triples to ID form.
Spark-first equivalent, designed for the 100 TB case:

- IDs are the GLOBAL DENSE RANK of the term in lexicographic order —
  deterministic across runs/retries (monotonically_increasing_id is not),
  so encode is idempotent and the DuckDB oracle can reproduce it exactly
  with row_number() OVER (ORDER BY term).
- A naive row_number() over a global Window collapses to ONE task. Instead
  `assign_ids` range-partitions terms (global order preserved across
  partitions), ranks within each partition in parallel, and adds per-
  partition offsets computed from partition counts — the classic
  zipWithIndex scheme, two linear jobs, no single-task stage. Offsets are
  a driver-side cumulative sum over numPartitions integers (not data).
- Encode rewrites s/p/o via three joins against the dictionary; callers
  pass broadcast_dict=True only when the dictionary is genuinely
  broadcast-sized (bulk_load gates it on the term count — the dictionary
  is data-sized, so an unconditional hint would OOM the driver at scale);
  without the hint AQE picks the strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from d_sparq_spark.gates import DRIVER_RANK_MAX_ROWS, driver_route
from d_sparq_spark.localdata import arrow_df

_IRI_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:"


def _driver_rank(tbl, col: str) -> dict:
    """assign_ids' driver kernel over the collected raw term stream
    ``tbl``, returning the (id, term) columns: a C-speed hash-dedup, then
    a sort of the distincts only — the
    distributed scheme pays a range-partition sampling pass, a full
    exchange and a per-partition window for what is, at bench/metadata
    scale, tens of thousands of strings. Python string comparison is
    code-point order, which equals Spark's unsigned UTF-8 byte comparison
    (a UTF-8 order-preservation property, the same fact graph._driver_cc
    relies on), integers compare numerically on both sides, and NULL
    ranks first exactly like the window's default NULLS FIRST — ids are
    bit-identical by construction."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    vals = tbl.column(col)
    uniq = sorted(pc.unique(vals.drop_null()).to_pylist())
    terms = [None] * (vals.null_count > 0) + uniq
    return {
        "id": np.arange(1, len(terms) + 1, dtype=np.int64),
        "term": pa.array(terms, vals.type),
    }


def assign_ids(terms: DataFrame, col: str = "term", num_partitions: int | None = None) -> DataFrame:
    """Terms (duplicates welcome) -> (id LONG, term), one row per distinct
    term. id = 1-based global lexicographic dense rank, computed without a
    single-task global window.

    r11 (guide §2.4): the input is NO LONGER pre-distinct'ed — range
    partitioning sends equal terms to the same partition by construction,
    so the per-partition window dedups in the same pass that ranks
    (dense_rank + drop rows equal to their lag), and the offsets use
    per-partition exact DISTINCT counts. One full exchange of the term
    set instead of two.

    An explicit ``num_partitions`` requests the distributed scheme
    (partitioning-invariance tests pin it); otherwise a metadata-scale
    stream takes the driver route (``_driver_rank``)."""
    src = terms.select(col)
    spark = src.sparkSession
    if num_partitions is None:
        out = driver_route(
            DRIVER_RANK_MAX_ROWS,
            lambda tbl: _driver_rank(tbl, col),
            src,
            nulls=True,
            schema=f"id long, term {dict(src.dtypes)[col]}",
        )
        if out is not None:
            return out
    n = num_partitions or max(spark.sparkContext.defaultParallelism, 2)

    # no sortWithinPartitions here: the counts job is order-insensitive
    # and the rank window sorts per partition itself — a pre-sort would
    # just burn a full extra sort into the eager checkpoint (review r4)
    parts = src.repartitionByRange(n, F.col(col))
    # localCheckpoint (not persist) is REQUIRED for correctness: the counts
    # job and the rank job must see the SAME partitioning, and
    # repartitionByRange samples its boundaries per job. A persist would
    # silently RECOMPUTE lost blocks through a fresh boundary sample —
    # colliding/gapped ids; localCheckpoint truncates lineage, so block
    # loss fails the job loudly instead of corrupting the dictionary. (A
    # production 100 TB load should use a reliable checkpoint / write-
    # and-read-back barrier for retryability — load_pipeline's store
    # write IS that barrier for the persisted path.)
    with_pid = parts.withColumn("_pid", F.spark_partition_id()).localCheckpoint()

    # numPartitions rows — tiny, driver-side cumsum (exact distinct
    # counts: dense ranks advance once per distinct term). count_distinct
    # IGNORES a NULL term but dense_rank RANKS it (r11 fix, caught by the
    # driver/distributed equivalence test): without the has_null term the
    # partition holding NULL under-reported by one and every later
    # partition's offset collided two ids — a broken dictionary bijection
    # for quad stores with a NULL default graph.
    counts = {
        r["_pid"]: r["cnt"] + (r["has_null"] or 0)
        for r in with_pid.groupBy("_pid")
        .agg(
            F.count_distinct(F.col(col)).alias("cnt"),
            F.max(F.col(col).isNull().cast("int")).alias("has_null"),
        )
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = src.sparkSession
    offset_df = F.broadcast(
        arrow_df(spark, {"_pid": list(offsets), "_off": list(offsets.values())},
                 "_pid INT, _off LONG")
    )

    w = Window.partitionBy("_pid").orderBy(col)  # parallel per range-partition
    return (
        with_pid.join(offset_df, "_pid")
        .select(
            (F.dense_rank().over(w) + F.col("_off")).cast("long").alias("id"),
            F.col(col).alias("term"),
            F.row_number().over(w).alias("_rn"),
            F.lag(col).over(w).alias("_prev"),
        )
        # null-safe dedup: keep a row iff it is the partition's first or
        # differs from its predecessor (eqNullSafe so a NULL term — legal
        # for a quad default graph — still dedups to one row)
        .filter((F.col("_rn") == 1) | ~F.col("_prev").eqNullSafe(F.col(col)))
        .drop("_rn", "_prev")
    )


def append_ids(
    dictionary: DataFrame,
    new_terms: DataFrame,
    col: str = "term",
    base_id: int | None = None,
) -> DataFrame:
    """Delta-encode NEW terms against an existing dictionary: terms not
    already present get ids ``max_id+1 ..`` assigned in lexicographic
    order among themselves (same range-partitioned rank scheme as
    :func:`assign_ids`, so the delta is deterministic and retry-stable).
    Returns the DELTA rows only (id, term) — append them to the stored
    dictionary.

    Work is O(|delta|) plus one anti-join against the existing
    dictionary — a growing 100 TB store no longer re-ranks every term on
    every load (the full rebuild re-shuffled the whole term set). The
    price: the combined dictionary remains a bijection but is NOT
    globally rank-ordered anymore, so decode(min(id)) != min(term). Any
    store this touches must record rank_ordered=false in its meta and
    the encoded engine's MIN/MAX group peel must gate on that flag
    (encoded_engine.EncodedSparqlEngine dict_rank_ordered).

    ``base_id``: the id watermark to allocate above. Callers holding a
    store manifest pass its recorded watermark (O(1)) instead of paying a
    full max(id) scan of the dictionary here; None keeps the scan."""
    existing = dictionary.select(F.col("term"))
    fresh = new_terms.select(col).distinct().join(existing, on=col, how="left_anti")
    if base_id is None:
        max_row = dictionary.agg(F.max("id").alias("m")).collect()[0]["m"]
        base = int(max_row or 0)
    else:
        base = int(base_id)
    return assign_ids(fresh, col=col).select(
        (F.col("id") + F.lit(base)).cast("long").alias("id"), "term"
    )


def distinct_terms(triples: DataFrame) -> DataFrame:
    """One-column (term) relation of the DISTINCT terms across a triple/
    quad frame's s/p/o(/g): the delta term set the store loaders extend
    the dictionary with and reduce it to before an encode."""
    cols = _positions(triples)
    # single pass (r11): explode(array(s,p,o[,g])) reads the source once,
    # where the per-position union re-scanned it len(cols) times
    return (
        triples.select(F.explode(F.array(*cols)).alias("term"))
        .distinct()
    )


def extend_dictionary(
    dictionary: DataFrame,
    terms: DataFrame,
    base_id: int | None = None,
) -> DataFrame:
    """Delta dictionary rows (id, term, kind) for the ``terms`` (a one-
    column term relation, e.g. distinct_terms of a delta) that the
    existing dictionary lacks — build_dictionary's incremental sibling
    (same kind classification). ``base_id`` as in append_ids."""
    delta = append_ids(dictionary, terms, base_id=base_id)
    return delta.withColumn("kind", term_kind())


def new_term_rows(spark, terms: list, base_id: int) -> DataFrame:
    """Dictionary rows (id, term, kind) for driver-held ``terms`` that the
    dictionary lacks: ids ``base_id+1 ..`` in sorted order — the ids
    append_ids gives the same terms (its driver rank sorts in code-point
    order, which is Spark's UTF-8 byte order), so the extension is
    bit-identical whichever side ran it. Uploaded as one local relation."""
    import numpy as np
    import pyarrow as pa

    terms = sorted(terms)
    return arrow_df(
        spark,
        {
            "id": np.arange(base_id + 1, base_id + 1 + len(terms), dtype=np.int64),
            "term": pa.array(terms, pa.string()),
        },
        "id long, term string",
    ).withColumn("kind", term_kind())


def lookup_ids(
    dictionary: DataFrame, terms, files: list[str] | None = None
) -> dict:
    """term -> id for a query- or metadata-sized set of ``terms`` (a
    query's constants, an ontology vocabulary); terms absent from the
    dictionary are absent from the result. The one term -> id lookup.

    ``files``: the dictionary's local parquet files, read on the driver
    with pyarrow — no Spark job. A store's bucket files are sorted by
    term, so row-group statistics prune the read. The caller passes the
    file list of the same listing ``dictionary`` was read from, so both
    routes see one snapshot. ``None``: one Spark filter job over
    ``dictionary``."""
    terms = sorted(set(terms))
    if not terms:
        return {}
    if files is not None:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        tbl = ds.dataset(files, format="parquet").to_table(
            columns=["id", "term"], filter=pc.field("term").isin(terms)
        )
        return dict(zip(tbl.column("term").to_pylist(), tbl.column("id").to_pylist()))
    return {
        r["term"]: r["id"]
        for r in dictionary.filter(F.col("term").isin(terms))
        .select("id", "term")
        .collect()
    }


def _positions(df: DataFrame) -> list[str]:
    """Term-carrying columns: s/p/o, plus g for quad stores (B17)."""
    return [c for c in ("s", "p", "o", "g") if c in df.columns]


def build_dictionary(triples: DataFrame) -> DataFrame:
    """All distinct terms across s/p/o (and g, for quads) -> dict(id, term, kind)."""
    cols = _positions(triples)
    # single pass, same rationale as distinct_terms (assign_ids dedups)
    terms = triples.select(F.explode(F.array(*cols)).alias("term"))
    return assign_ids(terms).withColumn("kind", term_kind())


def term_kind(col: str = "term"):
    """The dictionary's ``kind`` column: "iri" for a prefixed-IRI term,
    "literal" otherwise — one classification for every dictionary writer
    (build_dictionary, extend_dictionary, new_term_rows)."""
    return F.when(F.col(col).rlike(_IRI_RE), "iri").otherwise("literal")


def encode_triples(
    triples: DataFrame, dictionary: DataFrame, broadcast_dict: bool = False
) -> DataFrame:
    """triples(s,p,o[,g] string) -> encoded longs via per-position dict joins.

    broadcast_dict defaults to FALSE (review r4: the True default
    contradicted the module rule that the hint must be size-gated — the
    dictionary is data-sized, and an unconditional broadcast OOMs the
    driver at scale). Callers with a bounded dictionary opt in; bulk_load
    gates on term count. The joins are INNER by design here: the encode
    dictionary is built FROM these triples, so every term maps — an
    unmapped term means a wrong dictionary and surfaces as missing rows
    in the load-pipeline count checks."""
    d = dictionary.select("id", "term")
    if broadcast_dict:
        d = F.broadcast(d)
    cols = _positions(triples)
    enc = triples
    for pos in cols:
        enc = (
            enc.join(d, enc[pos] == d.term)
            .drop(pos, "term")
            .withColumnRenamed("id", pos)
        )
    return enc.select(*cols)


def decode_triples(
    enc: DataFrame, dictionary: DataFrame, broadcast_dict: bool = False
) -> DataFrame:
    """encoded (s,p,o[,g] long) -> lexical strings.

    LEFT joins (review r4): an inner join against a stale or partial
    dictionary silently DROPPED every triple with an unmapped id — data
    loss with no error. Unmapped ids now surface as NULL terms, the same
    contract as decode_columns, which does the decoding."""
    cols = _positions(enc)
    return decode_columns(enc, dictionary, cols, broadcast_dict).select(*cols)


def numeric_typed_literal(col):
    """Column predicate: term is a numeric TYPED literal ("12"^^xsd:int
    style) — the one term class whose VALUE order diverges from lexical
    (= id-rank) order, so its presence anywhere in a dictionary disables
    the encoded engine's MIN/MAX id peel. ONE definition shared by the
    engine's lazy probe and the load pipeline's manifest field (r12,
    VERDICT r11 #3) — two drifted copies of this expression would let a
    load-recorded 'plain' flag disagree with what the peel assumes."""
    from d_sparq_spark.plans.translate import _TYPED_RE

    return (
        F.col(col).rlike(_TYPED_RE)
        & F.regexp_extract(F.col(col), _TYPED_RE, 1)
        .try_cast("double")
        .isNotNull()
    )


def decode_columns(
    df: DataFrame,
    dictionary: DataFrame,
    columns: list[str],
    broadcast_dict: bool = False,
    out_names: dict | None = None,
) -> DataFrame:
    """Decode selected long columns of a binding table back to terms —
    the single implementation behind EncodedSparqlEngine._decode AND its
    shadow decode (review r4: the engine had two drifted copies; the
    broadcast gate had to be patched in both). out_names maps a column
    to a DIFFERENT output name, in which case the encoded source column
    is KEPT alongside the decoded one (the shadow-column contract).

    One join per column, then ONE final projection: every DataFrame
    operation re-analyzes the growing plan over Py4J, so the output is
    built in a single select instead of a drop/rename chain per column."""
    names = out_names or {}
    out = df
    for c in columns:
        # per-column prefixed dict columns: a binding named 'term' or 'id'
        # must not collide with the dictionary's own column names
        d = dictionary.select(
            F.col("id").alias(f"__did_{c}"), F.col("term").alias(f"__term_{c}")
        )
        if broadcast_dict:
            d = F.broadcast(d)
        out = out.join(d, F.col(c) == F.col(f"__did_{c}"), "left")
    in_place = {c for c in columns if names.get(c, c) == c}
    return out.select(
        *(F.col(f"__term_{c}").alias(c) if c in in_place else F.col(c) for c in df.columns),
        *(F.col(f"__term_{c}").alias(names[c]) for c in columns if c not in in_place),
    )
