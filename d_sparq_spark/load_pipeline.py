"""Bulk-load pipeline — D-SPARQ's offline entry point, Spark-first
(SURVEY.md §3 entry 1).

The reference runs: MapReduce job 1 (term extraction + dictionary), MR
job 2 (triple rewriting), METIS partitioning + boundary replication, and
per-node MongoDB bulk inserts with predicate indexes and count stats.

Here the whole thing is ONE linear Spark lineage plus two writes:

    N-Triples text ──parse──> triples(s,p,o)
        ├─ build_dictionary (range-partitioned global-rank IDs)
        ├─ encode_triples (broadcast dict joins)
        ├─ write by_p/  (partitionBy(p) — vertical partitioning; a bound
        │                predicate prunes to one directory, SURVEY §1.2)
        ├─ write dict/  (parquet)
        └─ write stats/ (per-predicate counts for the A7 optimizer)

No METIS, no replication: bucketing/broadcast/AQE subsume placement
(SURVEY §4). Every step is linear-scan + one bounded shuffle; nothing
driver-side scales with data.

`open_store` reopens a loaded store and hands back an EncodedSparqlEngine
— the complete lifecycle (load once, query many) in two calls:

    bulk_load(spark, "dump.nt", "/store")
    engine = open_store(spark, "/store")
    engine.query("SELECT ?s WHERE { ?s <ex:p> ?o }")
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d_sparq_spark.encoded_engine import EncodedSparqlEngine
from d_sparq_spark.gates import (
    DICT_BROADCAST_MAX_TERMS,
    DRIVER_DELTA_MAX_BYTES,
    DRIVER_RANK_MAX_ROWS,
    gate,
)
from d_sparq_spark.localdata import arrow_df
from d_sparq_spark.operators.dictionary import (
    build_dictionary,
    distinct_terms,
    encode_triples,
    extend_dictionary,
    lookup_ids,
    new_term_rows,
    numeric_typed_literal,
)
from d_sparq_spark.operators.rdf_patterns import predicate_stats
from d_sparq_spark.sources.ntriples import parse_ntriples

# Default bucket count for the term-bucketed dict/ layout. Every append
# anti-joins its delta terms against the dictionary; with dict/ written as
# a Spark bucketed table CLUSTERED BY (term), that join shuffles ONLY the
# delta (O(|delta|)) — the dictionary side reads its buckets in place, no
# O(dict) exchange per load. 16 suits the local test scale; a 100 TB store
# sizes this so one bucket ~ one executor's memory (e.g. 4096) — recorded
# in the manifest, so appends always match the layout they find.
DICT_BUCKETS = 16


def _dict_table_name(store_path: str) -> str:
    """Session-catalog name for the store's bucketed dictionary table —
    derived from the absolute store path, so two stores never collide and
    the same store maps to the same name across calls."""
    import hashlib

    digest = hashlib.md5(os.path.abspath(store_path).encode()).hexdigest()[:12]
    return f"dsparq_dict_{digest}"


def _register_dict_table(spark: SparkSession, store_path: str, buckets: int) -> DataFrame:
    """(Re-)register dict/ as an EXTERNAL bucketed table in the session
    catalog and return it. The files already carry Spark bucket ids in
    their names; registration only attaches the CLUSTERED BY metadata that
    lets the planner use bucketed scans (the in-memory catalog is
    per-session, so reopening a store re-runs this — metadata-only, no
    data pass). DROP+CREATE keeps the entry honest if an earlier session
    object registered a different layout under the same name."""
    name = _dict_table_name(store_path)
    # escape the path for the SQL literal (a quote in a store path would
    # otherwise break the statement AFTER dict/ was already written)
    path = os.path.join(store_path, "dict").replace("'", "''")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (id BIGINT, term STRING, kind STRING) "
        f"USING PARQUET CLUSTERED BY (term) SORTED BY (term) "
        f"INTO {int(buckets)} BUCKETS LOCATION '{path}'"
    )
    return spark.table(name)


def _write_dict_bucketed(
    df: DataFrame, store_path: str, buckets: int, mode: str
) -> None:
    """Write dictionary rows into dict/ as a bucketed table. The
    repartition uses the same murmur3 hash as bucketBy, so each task holds
    exactly one bucket's rows — one file per bucket per write instead of
    tasks x buckets small files."""
    name = _dict_table_name(store_path)
    (
        df.select("id", "term", "kind")
        .repartition(int(buckets), F.col("term"))
        .write.mode(mode)
        .format("parquet")
        .bucketBy(int(buckets), "term")
        .sortBy("term")
        .option("path", os.path.join(store_path, "dict"))
        .saveAsTable(name)
    )


def bulk_load(
    spark: SparkSession,
    nt_path: str,
    store_path: str,
    materialize: tuple = (),
    dict_buckets: int = DICT_BUCKETS,
) -> dict:
    """Parse, encode, and lay out a triple store. Returns load statistics
    (small driver-side summary, not data). ``materialize`` opts into
    alternative layouts persisted WITH the store — ('ptable',) writes the
    property table over the store's functional predicates, ('extvp',)
    the SS/OS semi-join reductions; open_store rehydrates them into a
    StoreCatalog so the planner routes through them automatically. Paying
    that cost once at load time is the whole point (S2RDF's model).

    ``store_path`` must be a local filesystem path when ``materialize``
    layouts are requested: the layout manifests are small driver-side
    JSON files written with plain open() (a URI store would crash after
    the expensive dict/by_p writes already succeeded — reject up front)."""
    if materialize and "://" in store_path:
        raise ValueError(
            "bulk_load: materialized layouts write driver-side manifests "
            "with local file IO — store_path must be a local path when "
            "materialize is requested (got a URI); load without layouts "
            "and attach a StoreCatalog in-session instead"
        )
    raw = spark.read.text(nt_path)
    # pin the parse ONCE: the dictionary build, the encode, and the by_p
    # write all consume `triples` — un-pinned, the N-Triples text is
    # re-scanned and re-regexed per consumer (7 passes measured). The
    # repartition spreads the regex across the session's parallelism —
    # a text dump packs into few 128 MB splits, so the parse otherwise
    # runs ~4-way whatever the core count.
    par = spark.sparkContext.defaultParallelism
    triples = parse_ntriples(raw.repartition(par)).localCheckpoint()
    if not triples.take(1):
        # fail BEFORE any write: an all-malformed/empty dump would
        # otherwise leave a half-written store and crash later with an
        # opaque empty-parquet schema-inference error. The probe rides
        # the already-materialized checkpoint (a separate pre-checkpoint
        # take(1) would be a second full-text parse job on the malformed
        # case and a split-sized one on the good case); no store bytes
        # have been touched either way.
        raise ValueError(f"bulk_load: no triples parsed from {nt_path!r}")
    dictionary = build_dictionary(triples).persist()
    # size-conditional broadcast: the dictionary is data-sized (one row
    # per distinct term) — at 100 TB it cannot collect to the driver, so
    # only hint the broadcast under ~10M terms and let AQE pick the
    # strategy above that. The plainness flag rides the same aggregate:
    # one job records what every later open_store engine would otherwise
    # re-probe with its own dictionary scan.
    n_terms, typed = _count_and_typed(dictionary)
    dict_plain = not typed

    # INVALIDATE the manifest before clobbering dict/: a
    # rebuild over a previously-appended store that crashes mid-dict-write
    # would otherwise leave the OLD watermark next to a NEW dictionary,
    # and the next append would allocate colliding ids. max_id=None makes
    # that append pay the one max(id) scan instead — reserve-then-write,
    # the same discipline append_load documents. dict_buckets=None too:
    # recording the NEW bucket count before the files exist would register
    # old/partial files under the wrong CLUSTERED BY spec and let the
    # bucketed anti-join miss existing terms — None
    # forces the safe plain-parquet dictionary path until the post-write
    # manifest lands.
    _write_meta(spark, store_path, rank_ordered=False, n_terms=None, max_id=None,
                dict_buckets=None)
    # stale materialized layouts go NOW, not after the data writes: a
    # crash mid-rebuild would otherwise leave a cleanly-opening store
    # whose catalog still routes to pre-rebuild ptable/extvp artifacts.
    # Requested layouts re-materialize below.
    if "://" not in store_path:
        import shutil

        # reasoning/ first: it is the commit marker append_load probes —
        # with it gone, a crash mid-cleanup can at worst leave orphan
        # entailed/sameas files that no reader routes to
        for layout in ("reasoning", "entailed", "sameas", "reasoning_layouts",
                       "ptable", "extvp"):
            shutil.rmtree(os.path.join(store_path, layout), ignore_errors=True)
    # dict/ lands FIRST, as a term-bucketed table: appends then anti-join
    # their deltas against a bucketed scan (no O(dict) shuffle per load),
    # and the encode below reads the WRITTEN store — a durable barrier, so
    # a task retry can never re-sample assign_ids' range boundaries into a
    # different id assignment mid-encode.
    _write_dict_bucketed(dictionary, store_path, dict_buckets, mode="overwrite")
    dictionary.unpersist()
    # saveAsTable just registered the table with the same bucket spec —
    # a plain lookup suffices
    dict_table = spark.table(_dict_table_name(store_path))
    # ids are DENSE 1..n ranks here, so the id watermark == n_terms.
    _write_meta(
        spark, store_path, rank_ordered=True,
        n_terms=int(n_terms), max_id=int(n_terms), dict_buckets=int(dict_buckets),
        dict_plain=dict_plain,
    )
    enc = encode_triples(
        triples, dict_table, broadcast_dict=n_terms <= DICT_BROADCAST_MAX_TERMS
    )
    # vertical partitioning: one directory per predicate id (the VP layout
    # contract lives with its reader in sources/triple_store). An RDF
    # graph is a set: a dump may repeat a line, and a repeated triple
    # would inflate stats/ (cnt > ndv_s drops a functional predicate from
    # the property table) and every answer — dedup on the encoded longs.
    from d_sparq_spark.sources.triple_store import write_vp

    write_vp(enc.distinct(), store_path)
    # every downstream step reads the just-written COLUMNAR store, not the
    # parse+encode lineage — otherwise stats, the triple count, and each
    # ExtVP reduction would re-scan the raw N-Triples text end to end
    enc = store_triples(spark, store_path)
    stats = _collect_stats(enc)
    _write_stats(spark, store_path, stats)

    if "ptable" in materialize:
        # no functional predicate -> nothing to materialize; the optional
        # layout is skipped, never a failed load after dict/by_p were
        # already written
        _save_property_table(
            enc, store_path, candidates=None, functional=_functional(stats)
        )
    if "extvp" in materialize:
        from d_sparq_spark.operators.extvp import materialize_extvp

        materialize_extvp(enc, store_path)

    return {
        "n_terms": int(n_terms),
        "n_triples": int(sum(r["cnt"] for r in stats)),
    }


def _read_stats_rows(spark: SparkSession, store_path: str) -> list:
    """The per-predicate stats/ parquet as a list of dicts. Stats are
    metadata-scale by the A7/A11 contract (one row per distinct
    predicate), so local stores read them DRIVER-SIDE (r11, guide §5) —
    the Spark read + collect paid a full job (~0.2-0.4 s) per metadata
    probe, several times per load. URI stores keep the Spark route."""
    path = os.path.join(store_path, "stats")
    if "://" not in store_path:
        import pyarrow.parquet as pq

        return pq.read_table(path).to_pylist()
    return [r.asDict() for r in spark.read.parquet(path).collect()]


def _count_store_triples(spark: SparkSession, store_path: str) -> int:
    """Triple count from the just-written stats parquet (shared by
    bulk_load/append_load — review r7 deduplicated the copies)."""
    return int(sum(r["cnt"] or 0 for r in _read_stats_rows(spark, store_path)))


def _write_meta(
    spark: SparkSession,
    store_path: str,
    rank_ordered: bool,
    n_terms: int | None = None,
    max_id: int | None = None,
    dict_buckets: int | None = None,
    dict_plain: bool | None = None,
) -> None:
    """One-row store manifest written AS PARQUET via Spark (not driver-side
    JSON) so it works on any filesystem a URI store lives on. Records:

    - rank_ordered: dictionary ids still globally lexicographic-rank-
      ordered — the precondition for the encoded engine's MIN/MAX peel;
    - max_id: the id WATERMARK — every allocated id is <= max_id (ids may
      be sparse below it after a crashed append reserved a range), so the
      next append allocates above it WITHOUT a max(id) scan of the
      dictionary — O(1) instead of O(dict) per load;
    - n_terms: dictionary row count (upper bound after a crashed append —
      used for broadcast gating and load stats, never for id math);
    - dict_buckets: bucket count of the term-bucketed dict/ layout (NULL =
      legacy plain-parquet dictionary);
    - dict_plain (r12, VERDICT r11 #3): no dictionary term is a numeric
      typed literal — with rank_ordered, the other precondition of the
      MIN/MAX id peel. Recorded at load so open_store engines skip the
      per-engine plainness scan; NULL = unknown (legacy store, or a load
      that could not assert it), engines then probe lazily as before.
      Must only ever be True when exact (False/NULL merely cost the
      peel, True wrongly asserted would return wrong MIN/MAX terms)."""
    import pyarrow as pa

    _write_table(
        spark,
        os.path.join(store_path, "meta"),
        pa.table(
            {
                "rank_ordered": pa.array([rank_ordered], pa.bool_()),
                "n_terms": pa.array([n_terms], pa.int64()),
                "max_id": pa.array([max_id], pa.int64()),
                "dict_buckets": pa.array([dict_buckets], pa.int32()),
                "dict_plain": pa.array([dict_plain], pa.bool_()),
            }
        ),
    )


def _write_table(spark: SparkSession, out_dir: str, table) -> None:
    """Replace a metadata directory (meta/, stats/) with the pyarrow
    ``table``: a URI store keeps the Spark write (any-filesystem
    contract); a local store writes the same parquet layout on the
    driver, without the Spark job (~0.4 s of task launch and commit
    protocol per write, paid up to 3x per load)."""
    if "://" in out_dir:
        arrow_df(spark, table).write.mode("overwrite").parquet(out_dir)
    else:
        _write_local_parquet(out_dir, table)


def _write_local_parquet(out_dir: str, table) -> None:
    """Replace a local metadata directory (meta/, stats/, the reasoning
    manifest) with ``table`` as one parquet file, written on the driver.
    Crash ordering mirrors the Spark committer's: the new file lands
    under a dot-name (invisible to Spark and pyarrow dir readers), the
    _SUCCESS marker and old visible files are removed, one atomic rename
    publishes the file, and the marker is written last — a crash leaves
    either the old contents or a directory without a marker (and maybe
    without data), as an interrupted Spark overwrite can (_read_meta
    fails CLOSED on a data-less one: never fail-open defaults)."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, ".part-00000.parquet.tmp")
    pq.write_table(table, tmp)
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)
    for f in os.listdir(out_dir):
        if not f.startswith((".", "_")) and f != "part-00000.parquet":
            os.remove(os.path.join(out_dir, f))
    os.replace(tmp, os.path.join(out_dir, "part-00000.parquet"))
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


_STATS_COLS = ("p", "cnt", "ndv_s", "ndv_o")


def _write_stats(spark: SparkSession, store_path: str, rows: list) -> None:
    """Replace stats/ with ``rows`` (dicts of predicate_stats' columns, all
    int64 — the schema _read_stats_rows and Spark readers see). Stats are
    metadata-scale (one row per predicate), so a local store writes them
    on the driver; a URI store keeps the Spark write."""
    import pyarrow as pa

    _write_table(
        spark,
        os.path.join(store_path, "stats"),
        pa.table({c: pa.array([r[c] for r in rows], pa.int64()) for c in _STATS_COLS}),
    )


def _collect_stats(triples: DataFrame) -> list:
    """predicate_stats of ``triples`` as driver-side row dicts."""
    return [r.asDict() for r in predicate_stats(triples).collect()]


def _functional(stats_rows: list) -> list:
    """The functional predicates (no subject with two values) by the
    stats rows: predicate_stats' ndv_s is an EXACT distinct count, so
    cnt == ndv_s is the property table's data check without a data pass."""
    return [r["p"] for r in stats_rows if r["cnt"] == r["ndv_s"]]


# The manifest of a store loaded before meta/ existed: those stores were
# always full bulk_load rebuilds, so rank-ordered, with no counters.
_LEGACY_META = {"rank_ordered": True, "n_terms": None, "max_id": None,
                "dict_buckets": None, "dict_plain": None}


def _meta_from_rows(rows: list) -> dict:
    """The manifest dict from meta/'s rows (as dicts). FAIL CLOSED on a
    present-but-damaged manifest: a zero-row meta or one missing the flag
    column means the store's history is unknown — treating it as
    rank-ordered would re-enable the MIN/MAX id peel on a possibly
    append-ordered dictionary (silently wrong aggregates)."""
    row = rows[0] if rows else {}
    return {
        "rank_ordered": bool(rows and row["rank_ordered"]),
        "n_terms": row.get("n_terms"),
        "max_id": row.get("max_id"),
        "dict_buckets": row.get("dict_buckets"),
        "dict_plain": row.get("dict_plain"),
    }


def _read_meta(spark: SparkSession, store_path: str) -> dict:
    """Store manifest with legacy defaults. Only a MISSING manifest may
    default (_LEGACY_META): any other read failure (corrupt footer,
    permissions) must propagate rather than fail OPEN into the
    order-dependent MIN/MAX peel on a possibly append-ordered store.
    Manifests written before the counter fields existed surface them as
    None (callers fall back to scanning)."""
    meta_dir = os.path.join(store_path, "meta")
    if "://" not in store_path:
        # driver-side read of the (metadata-scale) manifest — no Spark
        # job; Spark-written legacy manifests read identically
        if not os.path.isdir(meta_dir):
            return dict(_LEGACY_META)
        import pyarrow.parquet as pq

        return _meta_from_rows(pq.read_table(meta_dir).to_pylist())
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(meta_dir).collect()
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return dict(_LEGACY_META)
        raise
    return _meta_from_rows([r.asDict() for r in rows])


def _count_and_typed(dict_rows: DataFrame) -> tuple:
    """(row count, whether any term is a numeric typed literal) of
    dictionary rows in ONE aggregate job — the n_terms counter and the
    input of the manifest's dict_plain flag."""
    r = dict_rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(numeric_typed_literal("term")).alias("typed"),
    ).first()
    return int(r["n"]), bool(r["typed"])


def _open_dict(spark: SparkSession, store_path: str, buckets: int | None) -> DataFrame:
    """The store dictionary, opened for a write: a term-bucketed store
    (re-)registers its table, which both the bucketed anti-join and a
    later saveAsTable append need; a legacy store (``buckets`` None)
    reads its plain-parquet dict/."""
    if buckets:
        return _register_dict_table(spark, store_path, buckets)
    return _read_dict(spark, store_path)


def _extend_store_dict(
    spark: SparkSession, store_path: str, meta: dict, store_dict: DataFrame,
    terms: DataFrame,
) -> tuple:
    """Add the ``terms`` (a one-column term relation) the dictionary
    lacks, in Spark — the dictionary extension of the Spark write route
    (append_load's delta terms) and of _ensure_terms (an ontology's
    vocabulary). ``store_dict`` is the _open_dict result and ``meta`` the
    manifest read before it. New ids land above the id watermark, so no
    max(id) scan runs on a store with counters; a legacy manifest pays
    the scans once and records the counters. Returns _add_dict_rows'
    (dictionary including the new rows, n_terms, n_new_terms)."""
    counters = dict(meta)
    if counters["max_id"] is None:
        counters["max_id"] = int(
            store_dict.agg(F.max("id").alias("m")).collect()[0]["m"] or 0
        )
    if counters["n_terms"] is None:
        counters["n_terms"] = store_dict.count()
    # localCheckpoint before the self-referencing append: the new rows
    # anti-join against dict/ and are then written INTO dict/ — truncate
    # the lineage so the write cannot observe its own output files.
    rows = extend_dictionary(
        store_dict, terms, base_id=counters["max_id"]
    ).localCheckpoint()
    n_new, typed = _count_and_typed(rows)
    if not n_new and meta["max_id"] is None:
        # legacy store, no new terms: still record the counters (and the
        # existing rank order) so the next write skips the scans
        _write_meta(
            spark, store_path, rank_ordered=meta["rank_ordered"],
            n_terms=int(counters["n_terms"]), max_id=counters["max_id"],
            dict_buckets=meta["dict_buckets"], dict_plain=meta["dict_plain"],
        )
    return _add_dict_rows(spark, store_path, counters, store_dict, rows, n_new, typed)


def _add_dict_rows(
    spark: SparkSession, store_path: str, meta: dict, store_dict: DataFrame,
    rows: DataFrame, n_new: int, typed: bool,
) -> tuple:
    """Append ``rows`` — ``n_new`` new dictionary rows (id, term, kind)
    with ids ``meta["max_id"]+1 ..``; ``typed`` says whether one is a
    numeric typed literal — to the store dictionary, reserve-then-write.
    The one commit of a dictionary extension, whoever found the new terms
    (_extend_store_dict in Spark, _driver_delta on the driver). ``meta``
    carries the id watermark and term count.

    meta/ flips rank_ordered=false AND advances the watermark BEFORE the
    dict/ append: flipping the flag late could leave an append-ordered
    dictionary marked rank-ordered after a crash (silently wrong MIN/MAX
    peels), and advancing the watermark late could hand a retry's next
    delta the same id range twice (collision). Reserving first is safe in
    both directions — worst case a rank-ordered store loses the peel and
    the id space gains a gap; the dictionary stays a bijection.

    Returns (dictionary including the new rows, n_terms, n_new_terms)."""
    n_terms = int(meta["n_terms"]) + n_new
    if not n_new:
        return store_dict, n_terms, 0
    buckets = meta["dict_buckets"]
    # dict_plain stays exact: plain iff it was plain AND no new term is a
    # numeric typed literal; unknown (legacy) stays unknown, engines then
    # probe lazily
    dict_plain = meta["dict_plain"]
    if dict_plain is not None:
        dict_plain = bool(dict_plain) and not typed
    _write_meta(
        spark, store_path, rank_ordered=False,
        n_terms=n_terms, max_id=int(meta["max_id"]) + n_new,
        dict_buckets=buckets, dict_plain=dict_plain,
    )
    if buckets:
        _write_dict_bucketed(rows, store_path, buckets, mode="append")
        # saveAsTable(append) writes through the catalog and drops its
        # file listing, so a fresh name lookup sees the appended files
        store_dict = spark.table(_dict_table_name(store_path))
    else:
        rows.write.mode("append").parquet(os.path.join(store_path, "dict"))
        store_dict = _read_dict(spark, store_path)
    return store_dict, n_terms, n_new


def _encode_delta(
    spark: SparkSession, store_path: str, meta: dict, store_dict: DataFrame,
    nt_path: str, extend: bool,
) -> tuple:
    """The Spark write route's front half (append_load ``extend=True``,
    delete_load): parse a delta N-Triples file and encode it against the
    store dictionary (``store_dict``, opened under ``meta``). With
    ``extend`` the delta's new terms are first added (_extend_store_dict);
    without it a triple naming a term absent from the dictionary cannot
    be stored and drops out of the inner-join encode.

    The encode joins a dictionary slice REDUCED to the delta's own terms
    by a semi-join, so they broadcast at most 3|delta| distinct terms
    instead of the full store dictionary (measured 20.9 s -> the slice
    scan for a 0.15M-triple delta against a 6M-term dict); on a bucketed
    store the semi-join, like the extension's anti-join, shuffles only
    the delta side. Returns (unpinned encoded delta, counters): the
    counters are {"n_terms", "n_new_terms"} with ``extend``, else {}."""
    # pin the delta parse: it feeds the term set, the dictionary extension
    # and the encode — without the pin the N-Triples text is re-read and
    # re-regexed per consumer
    triples = parse_ntriples(spark.read.text(nt_path)).localCheckpoint(eager=False)
    # one union+distinct over the delta, shared by the extension and the
    # slice reduction
    delta_terms = distinct_terms(triples).localCheckpoint(eager=False)
    n_delta_terms = delta_terms.count()
    counters: dict = {}
    if extend:
        store_dict, n_terms, n_new = _extend_store_dict(
            spark, store_path, meta, store_dict, delta_terms
        )
        counters = {"n_terms": n_terms, "n_new_terms": n_new}
    enc = encode_triples(
        triples,
        store_dict.join(delta_terms, "term", "semi"),
        broadcast_dict=n_delta_terms <= DICT_BROADCAST_MAX_TERMS,
    )
    return enc, counters


_SPO = ["s", "p", "o"]


def _input_bytes(spark: SparkSession, text: DataFrame) -> int:
    """Total size of the files the file-source read ``text`` scans, from
    the listing the read already made (Hadoop FileSystem, any scheme)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in text.inputFiles():
        path = jvm.org.apache.hadoop.fs.Path(f)
        total += path.getFileSystem(conf).getFileStatus(path).getLen()
    return total


def _preds(tbl) -> list:
    """The distinct predicate ids of an encoded pyarrow delta."""
    import pyarrow.compute as pc

    return pc.unique(tbl.column("p")).to_pylist()


def _driver_delta(
    spark: SparkSession, store_path: str, meta: dict, store_dict: DataFrame,
    nt_path: str, extend: bool, plan_sink: list | None = None,
):
    """The driver write route of append_load (``extend``) and delete_load,
    and the one place that picks it. It applies to a local store whose
    dictionary the driver may read (_driver_dict_files: manifest
    ``n_terms`` within the driver rank gate), whose manifest carries its
    counters, and whose delta files total at most
    gate(DRIVER_DELTA_MAX_BYTES); otherwise this returns None and the
    write runs the Spark route (_encode_delta) unchanged. Both conditions
    are decided without a job (the manifest, file listings); then ONE job
    collects the parsed delta.

    On the driver: the delta's distinct terms are looked up in the
    dictionary files (lookup_ids, no job); with ``extend`` the absent
    ones get ids above the watermark in sorted order (the ids append_ids
    would give), committed by _add_dict_rows' reserve-then-write; the
    delta is encoded with index_in/take (a triple naming an absent term
    drops out, as from the Spark route's inner joins) and deduplicated.
    ONE Spark job then finds which delta rows the store already holds: a
    semi-join of the broadcast, uploaded delta against the by_p slice of
    its predicates.

    Returns (encoded deduped delta [pyarrow], its upload [DataFrame],
    touched predicate ids, delta rows already stored [pyarrow], counters
    as _encode_delta's)."""
    files = _driver_dict_files(spark, store_path, store_dict, meta)
    if files is None or meta["max_id"] is None:
        return None
    text = spark.read.text(nt_path)
    if _input_bytes(spark, text) > gate(DRIVER_DELTA_MAX_BYTES):
        return None
    parsed = parse_ntriples(text).toArrow()
    import pyarrow as pa
    import pyarrow.compute as pc

    # one string type for the term set and index_in's value set, whatever
    # string type the session's Arrow conversion hands back
    cols = {c: parsed.column(c).cast(pa.large_string()) for c in _SPO}
    terms = pc.unique(
        pa.chunked_array([ch for c in cols.values() for ch in c.chunks], pa.large_string())
    ).drop_null().to_pylist()
    ids = lookup_ids(store_dict, terms, files)
    counters: dict = {}
    if extend:
        fresh = sorted(t for t in terms if t not in ids)
        base = int(meta["max_id"])
        rows = new_term_rows(spark, fresh, base)
        # the numeric-typed probe only matters while the dictionary is
        # still recorded plain
        typed = bool(fresh and meta["dict_plain"]) and _count_and_typed(rows)[1]
        _, n_terms, n_new = _add_dict_rows(
            spark, store_path, meta, store_dict, rows, len(fresh), typed
        )
        # new_term_rows' ids, in the same (sorted) order
        ids.update((t, base + 1 + i) for i, t in enumerate(fresh))
        counters = {"n_terms": n_terms, "n_new_terms": n_new}
    keys = pa.array(list(ids), pa.large_string())
    vals = pa.array(list(ids.values()), pa.int64())
    enc = (
        pa.table({c: pc.take(vals, pc.index_in(cols[c], value_set=keys)) for c in _SPO})
        .drop_null()
        .group_by(_SPO)
        .aggregate([])
        .select(_SPO)
    )
    touched = _preds(enc)
    delta = arrow_df(
        spark, {c: enc.column(c) for c in _SPO}, "s long, p long, o long"
    )
    present = enc.slice(0, 0)
    if touched:
        stored = (
            store_triples(spark, store_path)
            .filter(F.col("p").isin(touched))
            .join(F.broadcast(delta), _SPO, "semi")
            .select(*_SPO)
        )
        if plan_sink is not None:
            plan_sink.append(stored._jdf.queryExecution().executedPlan().toString())
        present = stored.toArrow().cast(enc.schema)
    return enc, delta, touched, present, counters


def append_load(spark: SparkSession, nt_path: str, store_path: str) -> dict:
    """Incremental load: parse a DELTA N-Triples file into an EXISTING
    store without re-ranking the dictionary or rewriting the stored
    triples. Work is O(|delta|) plus partition-pruned refreshes of only
    the predicates the delta changed:

    - new terms get ids above the manifest's id watermark, reserve-then-
      write (_add_dict_rows), and the delta is encoded against the
      dictionary;
    - the delta rows the store lacks are APPENDED to by_p/ (new
      predicates create new directories, existing ones gain files);
    - _refresh_after_vp_write merges stats/ and refreshes the base
      ptable/extvp layouts for the delta's predicates only;
    - a committed reasoning layer is maintained in O(Δ)
      (_maintain_reasoning).

    Route: a small delta on a small local store runs on the driver
    (_driver_delta: one job collects the parse, the dictionary lookup,
    encode and diff run on the driver, one semi-join finds the stored
    rows); anything else — a URI store, a dictionary above the driver
    rank gate, delta files above DRIVER_DELTA_MAX_BYTES,
    D_SPARQ_DRIVER_GATE_SCALE=0 — runs the Spark route
    (_encode_delta, a dictionary-slice encode and an anti-join against
    the store slice). Both give the same store, ids included.

    The manifest now says rank_ordered=false; open_store passes the flag
    to the engine so the MIN/MAX id peel degrades to decode-before-agg
    instead of silently returning wrong terms.

    Not concurrent-writer-safe (same as bulk_load): one loader at a time.
    Re-delivered or overlapping deltas are NO-OPS: the encoded delta is
    deduped and the rows the PRE-APPEND store slice already holds are
    dropped before the by_p append (an RDF graph is a set of triples), so
    a retry after an un-acked success appends nothing — but re-runs the
    stats/layout refreshes and the reasoning maintenance from the full
    delta, repairing a crash that appended to by_p but lost them. A crash mid-append
    can still leave orphan part-files from the interrupted WRITE itself —
    production would stage to a temp dir and commit by rename."""
    from d_sparq_spark.sources.triple_store import write_vp

    meta = _read_meta(spark, store_path)
    store_dict = _open_dict(spark, store_path, meta["dict_buckets"])
    maintain_reasoning = _has_reasoning(store_path)
    small = _driver_delta(spark, store_path, meta, store_dict, nt_path, extend=True)
    if small is not None:
        enc, delta_set, touched, present, counters = small
        new = enc.join(present, _SPO, join_type="left anti")
        grows = new.num_rows > 0
        new_rows = arrow_df(
            spark, {c: new.column(c) for c in _SPO}, "s long, p long, o long"
        )
    else:
        enc, counters = _encode_delta(
            spark, store_path, meta, store_dict, nt_path, extend=True
        )
        # persist: the encoded delta feeds the dedup anti-join, the by_p
        # write, AND the touched-predicate list below — without it the
        # 3-way dict encode re-runs per consumer
        enc = enc.persist()
        touched = [r["p"] for r in enc.select("p").distinct().collect()]
        # an RDF graph is a SET of triples: a re-delivered delta (retry
        # after an un-acked success) or one restating stored triples must
        # be a no-op, not a duplicate-row append — duplicates double
        # counts and demote genuinely functional predicates out of the
        # property-table layout. Dedup within the delta, then anti-join
        # the PRE-APPEND store slice, partition-pruned to the touched
        # predicates (O(touched slice), the same bound the stats merge
        # documents).
        pre_slice = store_triples(spark, store_path).filter(F.col("p").isin(touched))
        delta_set = enc.dropDuplicates(_SPO)
        if maintain_reasoning:
            # pin the deduped delta itself: the reasoning maintenance at
            # the end re-derives from it AFTER enc is unpersisted and by_p
            # has been appended to (eager checkpoint, so unpersist below
            # is safe)
            delta_set = delta_set.localCheckpoint()
        new_rows = (
            delta_set
            .join(pre_slice, _SPO, "left_anti")
            .localCheckpoint()  # pin: written INTO the directory it reads
        )
        enc.unpersist()
        # a fully-redundant re-delivered delta appends nothing
        grows = not new_rows.isEmpty()
    if grows:
        write_vp(new_rows, store_path, mode="append")
    if touched:
        # refreshes gated on TOUCHED, not on the rows appended (delete_load's
        # rule): a re-delivered append after a crash that landed its by_p
        # rows but lost these refreshes appends nothing — the refreshes must
        # still run, from the full delta's predicate set, to repair stale
        # stats/ and ptable/extvp artifacts. Idempotent: recomputation over
        # an already-consistent store is a no-op.
        _refresh_after_vp_write(spark, store_path, touched)
    if maintain_reasoning:
        # AFTER the by_p append: maintenance derives from the full deduped
        # delta, not new_rows — a re-delivered delta then SELF-HEALS a
        # crash that landed base rows but not their entailments (the
        # anti-joins inside make it idempotent either way), and the
        # anti-join against the post-append store correctly excludes
        # derived rows that restate just-appended base rows.
        _maintain_reasoning(spark, store_path, delta_set, touched)
    return {**counters, "n_triples": _count_store_triples(spark, store_path)}


def _refresh_after_vp_write(
    spark: SparkSession, store_path: str, changed: list
) -> None:
    """Bring stats/ and the base layouts up to date after a by_p write
    changed the ``changed`` predicates — the shared tail of append_load
    and delete_load.

    Stats merge FIRST, O(changed ∪ PT), not O(store): the changed
    predicates and the base property table's predicates recompute, over
    a partition-pruned read of exactly those by_p/p=<id> directories (the
    ones the ptable refresh rebuilds from anyway); every other predicate
    keeps its old row verbatim. The PT predicates recompute because the
    refresh takes their functionality from these rows (_functional): a
    row left stale by a crash between a by_p write and this merge would
    otherwise keep a predicate that gained a second value per subject
    pivoted, dropping bindings, at every later refresh. The predicate
    lists and the stats rows are metadata-scale (distinct predicates are
    bounded in any RDF store — the A7 contract), so the merge happens on
    the driver: kept rows from a driver-side read, recomputed rows
    collected, the result written by _write_stats. The layout refresh
    then reads the merged counts back instead of re-aggregating the
    store."""
    recompute = set(changed) | set(_ptable_manifest_preds(store_path) or ())
    rows = [
        r for r in _read_stats_rows(spark, store_path) if r["p"] not in recompute
    ]
    rows += _collect_stats(
        store_triples(spark, store_path).filter(F.col("p").isin(sorted(recompute)))
    )
    _write_stats(spark, store_path, rows)
    # materialized layouts are DERIVED from the triple set — a write would
    # leave them stale and the catalog would route qualifying stars to
    # artifacts missing (or still serving) the changed rows
    _refresh_layouts(spark, store_path, changed, reasoned=False)


def _refresh_layouts(
    spark: SparkSession, store_path: str, changed: list, reasoned: bool
) -> None:
    """Refresh the ptable/ and extvp/ layouts materialized for the base
    store (under the store root) or, ``reasoned``, for its closure (under
    reasoning_layouts/, over base ∪ entailed), after the ``changed``
    predicates changed. A layout that was never materialized is skipped.
    Layout manifests are local-FS by bulk_load's contract.

    - Property table: candidates are the old PT predicates ∪ ``changed``,
      so the rebuild scans only those by_p directories. That is exact
      both ways: new rows can only DEMOTE a predicate out of
      functionality, deleted rows can only PROMOTE a changed one in, and
      an unchanged non-PT predicate cannot change. The base layout takes
      functionality from the merged stats/ (_functional); the closure's
      is checked over the data, since stats/ does not count the entailed
      layer.
    - ExtVP: only SS/OS pairs involving a changed predicate can differ;
      untouched pairs keep their files and manifest entries
      (refresh_extvp). Sizes and the predicate universe come from the
      merged stats/ parquet, plus one aggregation over the entailed layer
      for the closure — base and layer are DISJOINT by the layer's
      anti-join invariant, so counts add. No store re-aggregation."""
    from d_sparq_spark.operators.extvp import refresh_extvp

    root = os.path.join(store_path, "reasoning_layouts") if reasoned else store_path
    old_pt = _ptable_manifest_preds(root)
    has_extvp = os.path.exists(os.path.join(root, "extvp", "manifest.json"))
    if old_pt is None and not has_extvp:
        return
    stats = _read_stats_rows(spark, store_path)
    rel = (
        reasoned_triples(spark, store_path)
        if reasoned
        else store_triples(spark, store_path)
    )
    if old_pt is not None:
        _refresh_ptable_layout(
            rel, root, sorted(set(old_pt) | set(changed)),
            functional=None if reasoned else _functional(stats),
        )
    if has_extvp:
        sizes = {r["p"]: r["cnt"] for r in stats}
        if reasoned:
            for r in (
                entailed_triples(spark, store_path)
                .groupBy("p").agg(F.count(F.lit(1)).alias("n")).collect()
            ):
                sizes[r["p"]] = sizes.get(r["p"], 0) + r["n"]
        refresh_extvp(rel, root, changed, sizes=sizes)


def _fs_delete(spark: SparkSession, path: str) -> None:
    """Remove a path through Hadoop's FileSystem API — works on any scheme
    the session can write (local, hdfs://, s3a://); silently false when
    the path is already gone."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def _rewrite_vp_partitions(
    spark: SparkSession, base_path: str, new_slice: DataFrame, touched: list
) -> None:
    """Replace the ``touched`` by_p partitions of a VP layout with
    ``new_slice``'s rows (delete_load's primitive, shared by the base
    store and the entailed layer): a DYNAMIC partition overwrite rewrites
    only the partitions present in the data, so untouched predicate
    directories are never read or written; partitions that became EMPTY
    (dynamic overwrite leaves their old files) are removed explicitly.
    Not atomic — same caveat as append_load: production would stage to a
    temp dir and commit by rename."""
    from d_sparq_spark.sources.triple_store import write_vp

    # pin: the slice reads the very directories the overwrite replaces
    new_slice = new_slice.localCheckpoint()
    present = {r["p"] for r in new_slice.select("p").distinct().collect()}
    if present:
        write_vp(new_slice, base_path, mode="overwrite", dynamic=True)
    for p in touched:
        if p not in present:
            _fs_delete(spark, f"{base_path}/by_p/p={p}")


def _ptable_manifest_preds(layout_root: str):
    """The ptable layout's predicate list, or None when no layout exists.
    An EMPTY list is a live layout with currently no functional predicate
    — kept (rather than rmtree'd) so a later delete can PROMOTE a
    predicate back in (a demoted-then-deleted store could otherwise never
    regain its zero-join star route)."""
    path = os.path.join(layout_root, "ptable", "manifest.json")
    if not os.path.exists(path):
        return None
    import json as _json

    with open(path) as f:
        return _json.load(f)


def _save_property_table(
    rel: DataFrame, layout_root: str, candidates, functional=None
) -> bool:
    """Build the property table of ``rel`` over its functional predicates
    among ``candidates`` (None = all) and persist it under
    ``layout_root``; False when no candidate is functional (nothing
    written). ``functional``: the functional predicates when the store's
    stats already say (None = check the data). The pivot is not cached: a
    persisted layout is read back from parquet, so its one write is its
    only consumer."""
    from d_sparq_spark.plans.catalog import StoreCatalog

    cat = StoreCatalog().add_property_table(
        rel, predicates=candidates, functional=functional, cache=False
    )
    if cat.ptable is None:
        return False
    cat.save_property_table(layout_root)
    return True


def _refresh_ptable_layout(
    rel: DataFrame, layout_root: str, candidates, functional=None
) -> None:
    """THE ptable refresh primitive (base and closure layouts): rebuild
    the property table of ``rel`` restricted to ``candidates`` (None = all
    predicates, the initial materialization), persist under
    ``layout_root``; ``functional`` as in _save_property_table. When no
    candidate is functional the DATA is removed
    but an empty manifest stays — the layout remains 'desired', so later
    refreshes keep probing and a deletion that restores functionality
    resurrects the route."""
    import json as _json
    import shutil

    if not _save_property_table(rel, layout_root, candidates, functional):
        shutil.rmtree(
            os.path.join(layout_root, "ptable", "data"), ignore_errors=True
        )
        os.makedirs(os.path.join(layout_root, "ptable"), exist_ok=True)
        with open(os.path.join(layout_root, "ptable", "manifest.json"), "w") as f:
            _json.dump([], f)


def delete_load(
    spark: SparkSession, nt_path: str, store_path: str,
    plan_sink: list | None = None,
) -> dict:
    """Retraction: parse a DELETE delta N-Triples file and remove those
    triples from an existing store, maintaining stats/, the materialized
    layouts, and — when a reasoning layer is committed — the entailed/
    and sameas/ layers under DRed semantics (rho-df under deletion is
    non-monotone: an entailment whose every derivation chain is rooted at
    a deleted row must go; a DELETED base row that other rows still
    entail must MOVE into the layer). The 100 TB lifecycle driver is
    takedown obligations: deletes arrive as small deltas against a huge
    store, so every instance-scale scan here is partition-pruned to the
    touched / premise / derivable predicate directories — O(touched
    slice), never a store rescan.

    Work: the delta is encoded against the dictionary (terms it lacks
    drop their triples) on the route append_load documents — on the
    driver for a small delta on a small local store (_driver_delta),
    else by _encode_delta's dictionary-slice encode; only the touched
    by_p partitions are rewritten, via dynamic partition overwrite
    (_rewrite_vp_partitions; emptied predicates lose their directory),
    from a Spark plan that anti-joins the delta;
    _refresh_after_vp_write then merges stats/ and refreshes ptable/extvp
    as for an append (deletion can PROMOTE a predicate into
    functionality, which the refresh's candidate set covers). Dictionary
    ids are never reclaimed — the id space stays a bijection and may gain
    unused terms (documented garbage; a rebuild compacts).

    Idempotent and self-healing like append_load: re-delivering a delete
    delta removes nothing new but re-runs the refreshes and the reasoning
    maintenance from the full delta, repairing a crash that rewrote by_p
    but lost them. ``plan_sink``, when given, receives every
    instance-scale plan the operation executes so tests can assert the
    O(touched-slice) shape on the REAL plans."""
    meta = _read_meta(spark, store_path)
    store_dict = _open_dict(spark, store_path, meta["dict_buckets"])
    small = _driver_delta(
        spark, store_path, meta, store_dict, nt_path, extend=False,
        plan_sink=plan_sink,
    )
    if small is not None:
        _, enc, touched, deleted, _ = small
        n_deleted = deleted.num_rows
        touched_del = _preds(deleted)
        # the delta is driver-sized here: broadcast it into the rewrite
        delta_side = F.broadcast(enc)
    else:
        enc, _ = _encode_delta(
            spark, store_path, meta, store_dict, nt_path, extend=False
        )
        enc = enc.dropDuplicates(_SPO).localCheckpoint()
        touched = [r["p"] for r in enc.select("p").distinct().collect()]
        n_deleted = 0
        touched_del: list = []
        if touched:
            pre_slice = store_triples(spark, store_path).filter(
                F.col("p").isin(touched)
            )
            # rows actually present — pinned BEFORE the rewrite
            # invalidates the files they were read from
            deleted = enc.join(pre_slice, _SPO, "semi").localCheckpoint()
            n_deleted = deleted.count()
            touched_del = [r["p"] for r in deleted.select("p").distinct().collect()]
        delta_side = enc
    if touched_del:
        remaining = (
            store_triples(spark, store_path)
            .filter(F.col("p").isin(touched_del))
            .join(delta_side, _SPO, "left_anti")
        )
        if plan_sink is not None:
            plan_sink.append(
                remaining._jdf.queryExecution().executedPlan().toString()
            )
        _rewrite_vp_partitions(spark, store_path, remaining, touched_del)
    if touched:
        # refreshes gated on TOUCHED, not touched_del: a re-delivered
        # delete after a crash that rewrote by_p but lost these refreshes
        # finds touched_del empty — the refreshes must still run, from the
        # full delta's predicate set, to repair overcounted stats and stale
        # ptable/extvp artifacts that would otherwise keep serving
        # RETRACTED rows. Idempotent: recomputation over an
        # already-consistent store is a no-op.
        _refresh_after_vp_write(spark, store_path, touched)
    if _has_reasoning(store_path):
        # seeded from the FULL encoded delta (not just the rows that were
        # present): a re-delivered delete then self-heals a crash that
        # rewrote by_p but lost the layer maintenance — the survivor
        # re-derivation makes it idempotent either way
        _maintain_reasoning_delete(spark, store_path, enc, touched, plan_sink)
    return {
        "n_deleted": int(n_deleted),
        "n_triples": _count_store_triples(spark, store_path),
    }


def compact_store(
    spark: SparkSession,
    store_path: str,
    target_file_bytes: int = 128 << 20,
    predicates: list | None = None,
) -> dict:
    """Small-file compaction of a store's VP layouts (r10): every
    append_load/delete_load adds or rewrites part-files per touched
    predicate, so a long-lived store accumulates files far past the
    healthy files-per-bytes ratio — the classic operational failure of
    append-heavy partitioned stores at 100 TB (footer-per-file planning
    cost, tiny row groups, NameNode/listing pressure). This rewrites only
    the by_p partitions (base AND entailed/ layer) whose file count
    exceeds ceil(bytes / target_file_bytes), coalescing each to exactly
    that many files via the same dynamic-partition-overwrite primitive
    delete_load uses. Content-neutral by construction: the partition is
    read back and rewritten verbatim (no dedup, no reorder semantics —
    an RDF store is a set, and tests pin decoded-set equality), so
    dictionary, stats/, meta/, and every materialized layout stay valid
    untouched. Returns per-layer (partitions_compacted, files_before,
    files_after). Idempotent: a second run finds every partition at
    target and does nothing. Same single-writer contract as the loaders.

    ``predicates`` narrows to specific predicate ids (e.g. the hot
    append targets); None scans the partition LISTING of every directory
    — metadata-scale (|P| listings), never a data pass over untouched
    partitions."""
    from d_sparq_spark.sources.triple_store import write_vp

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    out: dict = {}
    for layer in ("", "entailed"):
        root = os.path.join(store_path, layer) if layer else store_path
        by_p = jvm.org.apache.hadoop.fs.Path(os.path.join(root, "by_p"))
        fs = by_p.getFileSystem(conf)
        if not fs.exists(by_p):
            continue
        todo: dict = {}  # pred id -> n_target
        files_before = 0

        def _is_data(name: str) -> bool:
            # ONE predicate for the before count, the n_target decision,
            # and the after count (ADVICE r10: the two counts used
            # different filters); Spark data files are always part-*
            return name.startswith("part-")

        for st in fs.listStatus(by_p):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith("p=")):
                continue
            pid = int(name[2:])
            if predicates is not None and pid not in predicates:
                continue
            parts = [
                f for f in fs.listStatus(st.getPath())
                if _is_data(f.getPath().getName())
            ]
            nbytes = sum(f.getLen() for f in parts)
            n_target = max(1, -(-nbytes // target_file_bytes))  # ceil
            if len(parts) > n_target:
                todo[pid] = n_target
                files_before += len(parts)
        if not todo:
            out[layer or "base"] = {
                "partitions_compacted": 0, "files_before": 0, "files_after": 0,
            }
            continue
        # ONE rewrite job per layer (r11; the per-predicate loop paid a
        # checkpoint job + a write job per partition — 2|todo| jobs of
        # mostly fixed overhead). Every undersized partition is read in
        # one pass and hashed into a synthetic file number 0..n_target(p)-1
        # (per-predicate target from the size-implied map), then
        # repartitioned by (p, _f) over sum(targets) tasks: each task
        # holds ~one (p, _f) group and the dynamic-partition writer opens
        # one file per predicate value per task, so each directory comes
        # out with AT MOST n_target files (a hash collision merges two
        # groups into one larger file — still at or under target, so the
        # idempotency contract holds). A bare repartition("p") would
        # funnel each predicate into one task (one file regardless of
        # target, unbounded at 100 TB); this keeps files size-bounded
        # with one job.
        n_map = F.create_map(
            *[F.lit(x) for pv in sorted(todo.items()) for x in pv]
        )
        part = (
            store_triples(spark, root)
            .filter(F.col("p").isin(list(todo)))
            .withColumn("_f", F.pmod(F.xxhash64("s", "o"), n_map[F.col("p")]))
            .repartition(int(sum(todo.values())), F.col("p"), F.col("_f"))
            .drop("_f")
            .localCheckpoint()  # pin: rewrites the files it read
        )
        write_vp(part, root, mode="overwrite", dynamic=True)
        files_after = 0
        for pid in todo:
            sub = jvm.org.apache.hadoop.fs.Path(
                os.path.join(root, "by_p", f"p={pid}")
            )
            files_after += sum(
                1 for f in fs.listStatus(sub)
                if _is_data(f.getPath().getName())
            )
        out[layer or "base"] = {
            "partitions_compacted": len(todo),
            "files_before": int(files_before),
            "files_after": int(files_after),
        }
    return out


def open_store(
    spark: SparkSession, store_path: str, reasoning: bool = False
) -> EncodedSparqlEngine:
    """Reopen a bulk-loaded store as a queryable encoded engine. The
    stats parquet feeds the A7 selectivity ordering without rescanning;
    any layouts materialized at load time (ptable/, extvp/) come back as
    a StoreCatalog, so qualifying stars scan those parquet artifacts
    instead of the full store — no per-session rebuild. (Layout manifests
    are probed with local-FS os.path — matching bulk_load's local-path
    requirement for materialized layouts; a URI store opens fine but
    without layout routing.)

    reasoning=True queries the CLOSURE instead of the base: base ∪ the
    persisted entailed/ layer (materialize_reasoning + append_load's O(Δ)
    maintenance), so SPARQL sees inferred rdf:type / superproperty
    triples with zero query-time inference — the load-once/reason-once/
    query-many lifecycle. Requires a committed reasoning manifest.
    BASE layout routing is skipped on the reasoned relation (ptable/extvp
    are derived from the BASE triple set; routing a closure query through
    them would silently drop entailed rows) — but a CLOSURE-derived
    property table materialized via materialize_reasoning(...,
    materialize=('ptable',)) routes qualifying stars with zero joins on
    the reasoned engine too."""
    if reasoning and not _has_reasoning(store_path):
        raise ValueError(
            "open_store(reasoning=True): the store has no committed "
            "reasoning layer — run materialize_reasoning first"
        )
    enc = (
        reasoned_triples(spark, store_path)
        if reasoning
        else store_triples(spark, store_path)
    )
    dictionary = _read_dict(spark, store_path)
    catalog = None
    from d_sparq_spark.plans.catalog import StoreCatalog

    cat = StoreCatalog()
    # layout roots: base layouts for base engines, closure-derived ones
    # for reasoned engines. An EMPTY ptable manifest is a live-but-
    # currently-inexpressible layout (every candidate multi-valued) —
    # there is no data dir to load, so routing is skipped until a delete
    # promotes a predicate back in.
    root = os.path.join(store_path, "reasoning_layouts") if reasoning else store_path
    if _ptable_manifest_preds(root):
        catalog = cat.load_property_table(spark, root)
    if os.path.exists(os.path.join(root, "extvp", "manifest.json")):
        catalog = cat.load_extvp(spark, root)
    meta = _read_meta(spark, store_path)
    return EncodedSparqlEngine(
        enc,
        dictionary,
        dict_files=_driver_dict_files(spark, store_path, dictionary, meta),
        catalog=catalog,
        dict_rank_ordered=meta["rank_ordered"],
        # manifest-recorded dictionary metadata: the broadcast gate and
        # the plainness probe become manifest reads instead of per-engine
        # dictionary scans; None (legacy manifest) keeps the lazy probes.
        dict_n_terms=meta["n_terms"],
        dict_plain=meta["dict_plain"],
        # the store's stats parquet materializes exact ndv_s/ndv_o at
        # load, in the tuple shape order_by_selectivity's ndv cost model
        # consumes (count-only would degrade a loaded store to raw-count
        # ordering). Driver-side read: stats are metadata-scale, no
        # Spark job per open_store.
        stats={
            r["p"]: (r["cnt"], r["ndv_s"], r["ndv_o"])
            for r in _read_stats_rows(spark, store_path)
        },
    )


def _read_dict(spark: SparkSession, store_path: str) -> DataFrame:
    """The store's dictionary with its declared schema (the columns
    _write_dict_bucketed writes), so reading it runs no schema-inference
    job."""
    return spark.read.schema("id long, term string, kind string").parquet(
        os.path.join(store_path, "dict")
    )


def _driver_dict_files(
    spark: SparkSession, store_path: str, dictionary: DataFrame,
    meta: dict | None = None,
) -> list | None:
    """The route of every term -> id lookup on a store (lookup_ids): the
    local parquet files of ``dictionary``'s own listing when the lookup
    may read them on the driver, else None (a Spark job). The driver
    reads a local store whose manifest-recorded ``n_terms`` is within the
    driver rank gate — the dictionary size the load path already holds on
    the driver. Listing the read's files fires no job, and pinning the
    lookup to that listing means a write after the read cannot hand out
    ids that the read, and so the decode, does not hold."""
    if "://" in store_path:
        return None
    n_terms = (meta or _read_meta(spark, store_path))["n_terms"]
    if n_terms is None or n_terms > gate(DRIVER_RANK_MAX_ROWS):
        return None
    from urllib.parse import unquote, urlparse

    return [unquote(urlparse(f).path) for f in dictionary.inputFiles()]


def _store_ids(spark: SparkSession, store_path: str, terms: list) -> dict:
    """term -> id for a metadata-scale term list (ontology vocabulary,
    the sameAs predicate) against the dictionary as it is NOW — listed at
    call time, so a dictionary extension earlier in the same write is
    seen. Terms absent from the dictionary are absent from the result."""
    dictionary = _read_dict(spark, store_path)
    return lookup_ids(
        dictionary, terms, _driver_dict_files(spark, store_path, dictionary)
    )


def store_triples(spark: SparkSession, store_path: str) -> DataFrame:
    """The raw encoded triples relation of a loaded store (the VP reader,
    which owns the BIGINT-p read-back contract)."""
    from d_sparq_spark.sources.triple_store import read_vp

    return read_vp(spark, store_path)


# --- persisted, incrementally maintained reasoning layer (r9) -----------------
#
# rdfs_entailment / smush_sameas (operators/reasoning.py) run fine as batch
# queries, but at 100 TB you cannot re-materialize the closure on every
# append_load. rho-df is MONOTONE and every rule has exactly one instance-
# triple premise, so derive(base ∪ Δ) = derive(base) ∪ derive(Δ): an append
# needs only the broadcast rule joins over the DELTA, anti-joined against
# the stored closure (partition-pruned to the metadata-scale set of
# derivable predicates), then appended — O(Δ) jobs, no full-store rescan.
# The sameAs canonical map is maintained by running CC over (old map as
# contracted star edges) ∪ (delta sameAs edges) — contracting each old
# component to its star preserves connectivity and the min representative,
# so the input is O(|map| + |Δ|), never a rescan of stored sameAs triples.
#
# Layout (all under the store root; reasoning/manifest is written LAST and
# probed via its _SUCCESS marker, so a crash mid-materialization leaves a
# store appends treat as reasoning-free, never a half-maintained layer):
#
#   entailed/by_p/   derived-only triples, same VP layout as the base store
#   sameas/map/      (node LONG, comp LONG) non-identity canonical rows
#   reasoning/manifest/  lexical ontology + sameAs predicate + build mode
#
# Named-graph semantics (r10, VERDICT r9 #8): this persisted store is
# TRIPLE-level, so its layer is the closure of the (union) triple set. For
# quad datasets the operators define per-graph semantics instead: an
# inferred triple lives in the named graph its premise came from
# (rdfs_derive rides g through every rule join as a passenger), which by
# rule UNARITY is simultaneously exact under GRAPH ?g and, unioned, equal
# to the closure of the union view — the Jena/rdf4j default-union
# inference semantics. Golden: tests/test_sparql_golden.py::
# test_graph_over_reasoned_quad_store_spec (both engines).


def _has_reasoning(store_path: str) -> bool:
    return "://" not in store_path and os.path.exists(
        os.path.join(store_path, "reasoning", "manifest", "_SUCCESS")
    )


def _write_reasoning_manifest(
    spark: SparkSession, store_path: str, ontology: list, sameas_pred: str,
    mode: str = "single",
) -> None:
    rows = [("ontology", s, p, o) for s, p, o in ontology]
    rows.append(("config", sameas_pred, "", ""))
    # the MODE the layer was built in (r10, VERDICT r9 #1): "single" = the
    # one-pass fixpoint (validate_ontology holds), "iterative" = semi-naive
    # delta rounds (meta-schema ontology) — maintenance must iterate the
    # same way the layer was materialized or an append under-derives.
    rows.append(("mode", mode, "", ""))
    # driver-side parquet write: the manifest is metadata-scale, and
    # materialize_reasoning rejects URI stores. The _SUCCESS commit
    # marker that _has_reasoning probes is written last.
    import pyarrow as pa

    _write_local_parquet(
        os.path.join(store_path, "reasoning", "manifest"),
        pa.table(
            {c: pa.array(col, pa.string())
             for c, col in zip(("kind", "s", "p", "o"), zip(*rows))}
        ),
    )


def _read_reasoning_manifest(spark: SparkSession, store_path: str) -> tuple:
    # driver-side read (r11): callers only get here once _has_reasoning
    # saw the _SUCCESS marker on a LOCAL store — no Spark job for a
    # metadata-scale manifest
    import pyarrow.parquet as pq

    rows = pq.read_table(
        os.path.join(store_path, "reasoning", "manifest")
    ).to_pylist()
    ontology = [(r["s"], r["p"], r["o"]) for r in rows if r["kind"] == "ontology"]
    sameas_pred = next(r["s"] for r in rows if r["kind"] == "config")
    # r9 manifests predate the mode row; every r9 layer passed
    # validate_ontology, so "single" is the honest default
    mode = next((r["s"] for r in rows if r["kind"] == "mode"), "single")
    return ontology, sameas_pred, mode


def _ensure_terms(
    spark: SparkSession, store_path: str, terms: list, lookup_extra: tuple
) -> dict:
    """Extend the store dictionary with any of ``terms`` it lacks (the
    ontology vocabulary — class/property names that may never occur in
    instance data) through _extend_store_dict, then return term -> id for
    all of them. New ids land above the watermark, so rank_ordered flips
    false when anything is added (honest: the MIN/MAX peel degrades, ids
    stay a bijection).

    ``lookup_extra`` terms ride the FINAL lookup only (a separate probe
    would be a second dictionary lookup) — they are never added to the
    dictionary, and absent ones are simply absent from the result."""
    meta = _read_meta(spark, store_path)
    _extend_store_dict(
        spark, store_path, meta,
        _open_dict(spark, store_path, meta["dict_buckets"]),
        arrow_df(spark, {"term": sorted(set(terms))}, "term string"),
    )
    return _store_ids(spark, store_path, list(terms) + list(lookup_extra))


def _ontology_vocab(ontology: list) -> list:
    """The terms a layer needs ids for: rdf:type plus every schema-triple
    subject and object."""
    from d_sparq_spark.operators import reasoning as R

    return sorted({R.TYPE} | {t for s, _, o in ontology for t in (s, o)})


def _ontology_ids(
    spark: SparkSession, store_path: str, ontology: list, lookup_extra: tuple = ()
) -> dict:
    """term -> id for the ontology vocabulary + rdf:type, all of which
    materialize_reasoning ensured exist; a miss means the store was
    tampered with — raise rather than silently drop a rule.
    ``lookup_extra``: best-effort extra lookups riding the same
    dictionary lookup (absent ones are absent from the result, no error)."""
    needed = _ontology_vocab(ontology)
    ids = _store_ids(spark, store_path, needed + list(lookup_extra))
    missing = [t for t in needed if t not in ids]
    if missing:
        raise ValueError(
            f"reasoning layer: ontology terms {missing} are missing from the "
            "store dictionary — materialize_reasoning ensures them, so the "
            "dictionary or manifest has been modified out-of-band"
        )
    return ids


def _encode_ontology(ids: dict, ontology: list) -> tuple:
    """(id-encoded ontology, rdf:type id, derivable predicate ids) from
    the vocabulary's term -> id map."""
    from d_sparq_spark.operators import reasoning as R

    enc_ont = [(ids[s], p, ids[o]) for s, p, o in ontology]
    tid = ids[R.TYPE]
    return enc_ont, tid, R.derived_predicates(enc_ont, type_term=tid)


def entailed_triples(spark: SparkSession, store_path: str) -> DataFrame:
    """The derived-only layer (empty, schema-stable, when the ontology
    derives nothing: read_vp's declared schema reads a partition-less
    layer as empty, and a layer never written is normalized here)."""
    from pyspark.errors import AnalysisException

    from d_sparq_spark.sources.triple_store import read_vp

    try:
        return read_vp(spark, os.path.join(store_path, "entailed")).select("s", "p", "o")
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return arrow_df(spark, {}, "s long, p long, o long")
        raise


def reasoned_triples(spark: SparkSession, store_path: str) -> DataFrame:
    """The store's rho-df closure: base ∪ entailed. Disjoint by
    construction (the layer is anti-joined against the base at every
    write), so a plain union — no instance-scale distinct."""
    return (
        store_triples(spark, store_path)
        .select("s", "p", "o")
        .unionByName(entailed_triples(spark, store_path))
    )


def sameas_map(spark: SparkSession, store_path: str) -> DataFrame:
    """The persisted (node, comp) canonical map — non-identity rows only."""
    return spark.read.parquet(os.path.join(store_path, "sameas", "map"))


def _canonicalize_by_term(
    spark: SparkSession, store_path: str, comp: DataFrame
) -> DataFrame:
    """CC labels components by MIN ID, but smush_sameas's contract is the
    class's minimum TERM — and after an append the dictionary is not
    rank-ordered, so min-id can decode to the wrong representative. Re-rank
    each component's representative as the member whose term is minimal
    (min_by over a dict join — O(map) rows, id-keyed), then keep only
    non-identity rows. Deterministic: terms are a bijection."""
    d = _read_dict(spark, store_path).select(
        F.col("id").alias("node"), "term"
    )
    reps = (
        comp.join(d, "node")
        .groupBy("comp")
        .agg(F.expr("min_by(node, term)").alias("rep"))
    )
    return (
        comp.join(reps, "comp")
        .select("node", F.col("rep").alias("comp"))
        .filter(F.col("node") != F.col("comp"))
    )


def smushed_triples(spark: SparkSession, store_path: str) -> DataFrame:
    """The store rewritten through the persisted sameAs map: every member
    of an equivalence class reads as its canonical (minimum) entity, the
    sameAs triples themselves consumed — smush_sameas semantics over the
    maintained layer instead of a per-query CC."""
    from d_sparq_spark.operators.reasoning import apply_sameas_map

    _, sameas_pred, _ = _read_reasoning_manifest(spark, store_path)
    sid = _store_ids(spark, store_path, [sameas_pred]).get(sameas_pred)
    t = store_triples(spark, store_path).select("s", "p", "o")
    rest = t.filter(F.col("p") != F.lit(sid)) if sid is not None else t
    return apply_sameas_map(rest, sameas_map(spark, store_path))


def materialize_reasoning(
    spark: SparkSession,
    store_path: str,
    ontology: list,
    sameas_pred: str = "owl:sameAs",
    materialize: tuple = (),
) -> dict:
    """Materialize the persisted reasoning layer over an existing store:
    the rho-df entailments of the CURRENT triples under ``ontology`` (a
    list of lexical (s, p, o) rdfs:* schema triples) into entailed/, and
    the owl:sameAs canonical map into sameas/map. From then on every
    append_load maintains both incrementally in O(Δ) (_maintain_reasoning)
    and every delete_load under DRed (_maintain_reasoning_delete). Returns
    layer sizes. The ontology vocabulary is added to the dictionary if
    absent (_ensure_terms, the same reserve-then-write extension
    append_load uses).

    Ontology routing: ontologies that pass validate_ontology materialize
    with the ONE-PASS fixpoint; meta-schema ontologies (rdfs vocabulary
    in schema positions — the shapes the single pass must reject) route
    through rdfs_derive_iterative's semi-naive delta rounds instead. The
    manifest records which mode the layer was built in, and append
    maintenance iterates the same way — the persisted layer hosts every
    ontology the batch operators accept.

    ``materialize=('ptable',)`` additionally builds a property table over
    the CLOSURE (base ∪ entailed) under reasoning_layouts/ —
    open_store(reasoning=True) routes qualifying stars through it,
    restoring the zero-join star wins on reasoned engines (the base
    ptable/ is derived from the base set only and would silently drop
    entailed rows, which is why reasoned engines skip it). ``'extvp'``
    does the same for the SS/OS semi-join reductions. Both maintenance
    paths refresh them through _refresh_layouts(reasoned=True), over
    scans pruned to the layout's own predicates plus the delta's and the
    derivable set."""
    from d_sparq_spark.operators import reasoning as R
    from d_sparq_spark.operators.graph import connected_components
    from d_sparq_spark.sources.triple_store import write_vp

    if "://" in store_path:
        raise ValueError(
            "materialize_reasoning: the reasoning manifest is probed with "
            "local file IO (same contract as bulk_load's materialized "
            "layouts) — store_path must be a local path"
        )
    mode = "single"
    try:
        R.validate_ontology(ontology)
    except R.MetaSchemaOntologyError:
        # ONLY the documented meta-schema rejection selects iterative
        # mode: a malformed ontology (non-3-tuples etc.) raises
        # its own error here instead of being silently routed onward.
        mode = "iterative"
    import shutil as _shutil

    # un-commit first, as bulk_load does: reasoning/ holds the marker
    # appends probe, and the layers below are rewritten in place — a
    # crash mid-way must leave a store appends treat as reasoning-free,
    # not the old manifest committed over a partial entailed/ layer
    _shutil.rmtree(os.path.join(store_path, "reasoning"), ignore_errors=True)
    # re-materialization over an existing store: layouts a
    # PREVIOUS materialize_reasoning built but this call does not request
    # would go stale against the new ontology's closure — and open_store
    # would silently route through them. Drop them up front; requested
    # ones are rebuilt below.
    for lay in ("ptable", "extvp"):
        if lay not in materialize:
            _shutil.rmtree(
                os.path.join(store_path, "reasoning_layouts", lay),
                ignore_errors=True,
            )
    store = store_triples(spark, store_path)
    sid = None
    sid_known = False
    if ontology:
        # the sameAs predicate rides the vocabulary lookup: a separate
        # probe would be a second dictionary lookup per materialize
        ids = _ensure_terms(
            spark, store_path, _ontology_vocab(ontology),
            lookup_extra=(sameas_pred,),
        )
        sid = ids.get(sameas_pred)
        sid_known = True
        enc_ont, tid, dpreds = _encode_ontology(ids, ontology)
        if mode == "iterative":
            # derived-only semi-naive closure; already anti-joined against
            # the (pruned) base inside the loop
            layer = R.rdfs_derive_iterative(store, enc_ont, type_term=tid)
        else:
            derived = R.rdfs_derive(store, enc_ont, type_term=tid)
            base_slice = store.filter(F.col("p").isin(dpreds))
            layer = derived.join(base_slice, ["s", "p", "o"], "left_anti")
    else:
        layer = store.select("s", "p", "o").filter(F.lit(False))
    write_vp(layer, os.path.join(store_path, "entailed"))

    if not sid_known:
        sid = _store_ids(spark, store_path, [sameas_pred]).get(sameas_pred)
    empty_map = arrow_df(spark, {}, "node long, comp long")
    smap = empty_map
    if sid is not None:
        edges = (
            store.filter(F.col("p") == F.lit(sid))
            .select(F.col("s").alias("u"), F.col("o").alias("v"))
        )
        if edges.take(1):
            comp = connected_components(
                edges.select(F.col("u").alias("node")), edges
            )
            smap = _canonicalize_by_term(spark, store_path, comp)
    smap.write.mode("overwrite").parquet(os.path.join(store_path, "sameas", "map"))
    if "ptable" in materialize:
        # closure-derived property table (functionality checked over the
        # REASONED relation — a derived second value for a subject must
        # demote the predicate); lives under reasoning_layouts/ so the
        # base ptable/ keeps serving non-reasoning engines
        _refresh_ptable_layout(
            reasoned_triples(spark, store_path),
            os.path.join(store_path, "reasoning_layouts"),
            candidates=None,
        )
    if "extvp" in materialize:
        # closure-derived ExtVP semi-join reductions: computed over
        # base ∪ entailed so routing a
        # reasoned star/path through them never drops entailed rows
        from d_sparq_spark.operators.extvp import materialize_extvp

        materialize_extvp(
            reasoned_triples(spark, store_path),
            os.path.join(store_path, "reasoning_layouts"),
        )
    # manifest LAST — the commit marker that turns maintenance on (a crash
    # above leaves a store appends treat as reasoning-free; requested
    # layouts are therefore built BEFORE the marker so committed ⇒ complete)
    _write_reasoning_manifest(spark, store_path, ontology, sameas_pred, mode=mode)
    return {
        "n_entailed": entailed_triples(spark, store_path).count(),
        "n_sameas_mapped": sameas_map(spark, store_path).count(),
    }


def _entailment_delta(
    spark: SparkSession,
    store_path: str,
    delta_set: DataFrame,
    ontology: list,
    mode: str = "single",
    plan_sink: list | None = None,
    ids: dict | None = None,
) -> DataFrame:
    """Entailed rows the store closure is missing after ``delta_set``
    landed in by_p: the rho-df pass over the DELTA ONLY (sound by
    rule-unarity — rdfs_derive docstring), anti-joined against the post-
    append base slice and the stored layer, both partition-pruned to the
    metadata-scale derivable-predicate set. Every instance-scale scan in
    this plan carries a p IN (...) partition filter — the O(Δ) shape the
    test suite asserts. mode="iterative" (meta-schema layer) runs the
    same delta derivation to FIXPOINT via rdfs_derive_iterative — each
    round re-derives from the previous round's new rows only, against the
    same pruned anti-join targets (``plan_sink`` captures every round's
    plan for the pruning assert)."""
    from d_sparq_spark.operators import reasoning as R

    if ids is None:  # callers on the maintenance hot path pass them in
        ids = _ontology_ids(spark, store_path, ontology)
    enc_ont, tid, dpreds = _encode_ontology(ids, ontology)
    base_slice = store_triples(spark, store_path).filter(F.col("p").isin(dpreds))
    # layer rows are all within dpreds by construction; the filter keeps
    # the scan partition-pruned even so (uniform O(Δ)-shape plan)
    ent = entailed_triples(spark, store_path).filter(F.col("p").isin(dpreds))
    if mode == "iterative":
        return R.rdfs_derive_iterative(
            delta_set, enc_ont, type_term=tid,
            known=base_slice.unionByName(ent), plan_sink=plan_sink,
        )
    derived = R.rdfs_derive(delta_set, enc_ont, type_term=tid)
    # ONE anti-join against (base ∪ layer) instead of two: same row set — not-in-base AND not-in-layer == not in their
    # union — with one join build/probe pass instead of two
    out = derived.join(
        base_slice.unionByName(ent), ["s", "p", "o"], "left_anti"
    )
    if plan_sink is not None:
        plan_sink.append(out._jdf.queryExecution().executedPlan().toString())
    return out


def _maintain_reasoning(
    spark: SparkSession, store_path: str, delta_set: DataFrame, touched: list
) -> None:
    """O(Δ) maintenance of both persisted layers after an append (called
    by append_load once the delta is in by_p). ``touched`` = the delta's
    predicate ids (metadata-scale, already collected by append_load) —
    with the derivable set, the changed predicates of the closure layouts
    (_refresh_layouts)."""
    from d_sparq_spark.operators.graph import connected_components
    from d_sparq_spark.sources.triple_store import write_vp

    ontology, sameas_pred, mode = _read_reasoning_manifest(spark, store_path)
    dpreds: list = []
    sid = None
    sid_known = False
    if ontology:
        # the sameAs predicate rides the same dictionary lookup
        ids = _ontology_ids(
            spark, store_path, ontology, lookup_extra=(sameas_pred,)
        )
        sid = ids.get(sameas_pred)
        sid_known = True
        _, _, dpreds = _encode_ontology(ids, ontology)
        # base/entailed DISJOINTNESS under re-assertion:
        # a delta row that restates an ENTAILED triple just landed in
        # by_p, so its copy must LEAVE the layer — otherwise the closure
        # union double-counts it (duplicate SPARQL bindings, spurious
        # functionality demotion, wrong ExtVP size denominators). Pruned
        # to the delta ∩ derivable predicate partitions, and further to
        # the partitions that actually hold a moved row.
        inter = sorted(set(touched) & set(dpreds))
        if inter:
            ent_slice = entailed_triples(spark, store_path).filter(
                F.col("p").isin(inter)
            )
            moved = ent_slice.join(delta_set, ["s", "p", "o"], "semi")
            moved_preds = [r["p"] for r in moved.select("p").distinct().collect()]
            if moved_preds:
                keep = (
                    entailed_triples(spark, store_path)
                    .filter(F.col("p").isin(moved_preds))
                    .join(delta_set, ["s", "p", "o"], "left_anti")
                )
                _rewrite_vp_partitions(
                    spark, os.path.join(store_path, "entailed"), keep, moved_preds
                )
        new_ent = _entailment_delta(
            spark, store_path, delta_set, ontology, mode=mode, ids=ids
        ).localCheckpoint()  # pin: written INTO the layer it reads
        if new_ent.take(1):
            write_vp(new_ent, os.path.join(store_path, "entailed"), mode="append")
    _refresh_layouts(
        spark, store_path, sorted(set(touched) | set(dpreds)), reasoned=True
    )
    if not sid_known:
        sid = _store_ids(spark, store_path, [sameas_pred]).get(sameas_pred)
    if sid is None:
        return
    delta_sa = (
        delta_set.filter(F.col("p") == F.lit(sid))
        .select(F.col("s").alias("u"), F.col("o").alias("v"))
    )
    if not delta_sa.take(1):
        return
    # contract old components to star edges (node -> canonical): CC over
    # (stars ∪ delta edges) has the same components and the same minimum
    # representative as CC over all sameAs edges — every old node appears
    # as a star endpoint — with input O(|map| + |Δ|), no rescan of stored
    # sameAs triples.
    old = sameas_map(spark, store_path)
    edges = delta_sa.unionByName(
        old.select(F.col("node").alias("u"), F.col("comp").alias("v"))
    )
    comp = connected_components(edges.select(F.col("u").alias("node")), edges)
    new_map = _canonicalize_by_term(
        spark, store_path, comp
    ).localCheckpoint()  # pin: overwrites the map it read
    new_map.write.mode("overwrite").parquet(os.path.join(store_path, "sameas", "map"))


def _maintain_reasoning_delete(
    spark: SparkSession, store_path: str, deleted: DataFrame, touched: list,
    plan_sink: list | None = None,
) -> None:
    """DRed maintenance of both persisted layers after a delete_load.
    ``deleted`` is the full encoded delete delta
    (deduped); ``touched`` its predicate ids.

    Entailed layer — delete/re-derive, sound by rule UNARITY: every
    derivation is a chain from a SINGLE base root, so an entailment can
    lose support only if some chain of it is rooted at a deleted row,
    i.e. the over-delete candidates are exactly closure(deleted) (plus
    the deleted rows themselves when their predicate is derivable — a
    deleted base row other rows still entail must MOVE into the layer).
    Survivors are candidates re-derivable from the POST-delete base,
    re-derived over a scan pruned two ways: to the premise-predicate
    partitions (metadata-scale — premise_predicates), and, in single-pass
    mode, to rows sharing a subject/object with a candidate subject
    (every single-pass chain's output subject is its root's s or o, so
    the semi-join loses nothing; iterative meta-schema chains can hop
    through schema constants, so that mode re-derives from the whole
    premise slice — still partition-pruned). Only the candidate-predicate
    partitions of entailed/ are rewritten.

    sameAs map — CC re-run over surviving edges of TOUCHED components
    only: the delta's endpoints name their old components via the stored
    map (O(Δ) lookups); surviving edges of those components come from one
    partition-pruned scan of the sameAs predicate directory semi-joined
    to the touched members; untouched map rows are kept verbatim."""
    from d_sparq_spark.operators import reasoning as R
    from d_sparq_spark.operators.graph import connected_components

    ontology, sameas_pred, mode = _read_reasoning_manifest(spark, store_path)
    dpreds: list = []
    deleted = deleted.select("s", "p", "o")
    if ontology:
        enc_ont, tid, dpreds = _encode_ontology(
            _ontology_ids(spark, store_path, ontology), ontology
        )
        ppreds = R.premise_predicates(enc_ont, type_term=tid)
        derive = (
            (lambda df: R.rdfs_derive_iterative(df, enc_ont, type_term=tid))
            if mode == "iterative"
            else (lambda df: R.rdfs_derive(df, enc_ont, type_term=tid))
        )
        cand = (
            derive(deleted)
            .unionByName(deleted.filter(F.col("p").isin(dpreds)))
            .dropDuplicates()
            .localCheckpoint()
        )
        if cand.take(1):
            base_post = store_triples(spark, store_path).filter(
                F.col("p").isin(ppreds)
            )
            if mode == "iterative":
                support = base_post
            else:
                ckeys = cand.select(F.col("s").alias("k")).distinct()
                support = (
                    base_post.join(ckeys, base_post["s"] == ckeys["k"], "semi")
                    .unionByName(
                        base_post.join(ckeys, base_post["o"] == ckeys["k"], "semi")
                    )
                    .dropDuplicates()
                )
            survivors = cand.join(derive(support), ["s", "p", "o"], "semi")
            if plan_sink is not None:
                plan_sink.append(
                    survivors._jdf.queryExecution().executedPlan().toString()
                )
            # pin: feeds the doomed anti-join, the additions, and (via
            # both) the partition rewrite — without it the support
            # re-derivation re-runs per consumer
            survivors = survivors.localCheckpoint()
            doomed = cand.join(survivors, ["s", "p", "o"], "left_anti")
            cand_preds = [r["p"] for r in cand.select("p").distinct().collect()]
            ent_slice = entailed_triples(spark, store_path).filter(
                F.col("p").isin(cand_preds)
            )
            base_cand = store_triples(spark, store_path).filter(
                F.col("p").isin(cand_preds)
            )
            # deleted base rows that remain entailed move INTO the layer
            additions = (
                survivors.join(base_cand, ["s", "p", "o"], "left_anti")
                .join(ent_slice, ["s", "p", "o"], "left_anti")
            )
            new_slice = (
                ent_slice.join(doomed, ["s", "p", "o"], "left_anti")
                .unionByName(additions)
                .dropDuplicates()
            )
            _rewrite_vp_partitions(
                spark, os.path.join(store_path, "entailed"), new_slice, cand_preds
            )
    _refresh_layouts(
        spark, store_path, sorted(set(touched) | set(dpreds)), reasoned=True
    )

    sid = _store_ids(spark, store_path, [sameas_pred]).get(sameas_pred)
    if sid is None:
        return
    del_sa = (
        deleted.filter(F.col("p") == F.lit(sid))
        .select(F.col("s").alias("u"), F.col("o").alias("v"))
    )
    if not del_sa.take(1):
        return
    old = sameas_map(spark, store_path)
    endpoints = (
        del_sa.select(F.col("u").alias("node"))
        .unionByName(del_sa.select(F.col("v").alias("node")))
        .distinct()
    )
    # the touched components: each endpoint's canonical under the old map
    # (an endpoint absent from the map is its own representative)
    eps = (
        endpoints.join(old, "node", "left")
        .select(F.coalesce("comp", "node").alias("comp"))
        .distinct()
        .localCheckpoint()
    )
    touched_rows = old.join(eps, "comp", "semi").localCheckpoint()
    members = (
        touched_rows.select("node")
        .unionByName(eps.select(F.col("comp").alias("node")))
        .unionByName(endpoints)
        .distinct()
    )
    # surviving sameAs edges of the touched components: one partition-
    # pruned scan of the sameAs directory; an edge's endpoints always
    # share a component, so the u-side semi-join is sufficient
    surviving = (
        store_triples(spark, store_path)
        .filter(F.col("p") == F.lit(sid))
        .select(F.col("s").alias("u"), F.col("o").alias("v"))
        .join(members.withColumnRenamed("node", "u"), "u", "semi")
    )
    if plan_sink is not None:
        plan_sink.append(surviving._jdf.queryExecution().executedPlan().toString())
    comp = connected_components(members, surviving)
    recomputed = _canonicalize_by_term(spark, store_path, comp)
    new_map = (
        old.join(eps, "comp", "left_anti")
        .unionByName(recomputed)
        .localCheckpoint()  # pin: overwrites the map it read
    )
    new_map.write.mode("overwrite").parquet(os.path.join(store_path, "sameas", "map"))
