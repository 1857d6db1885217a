"""Single-slice construction of small driver-local DataFrames.

``spark.createDataFrame(rows, schema)`` parallelizes the pickled rows
into ``defaultParallelism`` slices, and every materialization of the
resulting LocalTableScan launches ONE PYTHON WORKER ROUND-TRIP PER
SLICE (~150-200 ms each). That is invisible at local[4] and a tax on
every constants/VALUES/metadata relation at local[32] — and it turns
pathological under ``coalesce(1)``, which chains all slices into one
task: a ONE-ROW store-manifest write measured 5-8 s (r11, guide §4 —
the JVM↔Python boundary, paid 32× for zero rows).

``local_df`` pins the parallelize to ONE slice: one worker round-trip
per materialization, whatever the core count. Driver-local rows are
metadata-scale by contract everywhere this is used (manifests, VALUES
clauses, constant seeds, stats lists), so a single slice is never a
parallelism loss.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

# arrow_df briefly raises a SESSION conf around one createDataFrame call;
# two concurrent uploads in one session could otherwise interleave their
# set/restore and leave an inflated batch size behind (ADVICE r11 #2 —
# the conf also governs executor-side toPandas/pandas_udf batching). The
# driver contract is single-threaded, so this lock is belt-and-braces for
# embedders that share a session across threads.
_ARROW_CONF_LOCK = threading.Lock()


def arrow_df(spark: SparkSession, columns: dict, schema) -> DataFrame:
    """DataFrame from driver-resident numpy/pyarrow columns via a pyarrow
    Table. ``createDataFrame(pandas)`` re-blocks every column through the
    pandas block manager and converts per slice on FIRST materialization —
    measured 7.2 s for a 6.6M-row int64 pair set vs 1.0 s through a
    pyarrow Table (zero-copy from int64 numpy). Works with the Arrow conf
    off too (input-format support, not the toPandas path). Spark casts
    the Table to ``schema``: int64 columns load into any integral type,
    large_string or object string columns into string."""
    import pyarrow as pa

    table = pa.table(
        {k: v if isinstance(v, (pa.Array, pa.ChunkedArray)) else pa.array(v)
         for k, v in columns.items()}
    )
    # createDataFrame(Table) makes ONE partition PER ARROW BATCH of
    # spark.sql.execution.arrow.maxRecordsPerBatch rows (default 10k):
    # a 6.6M-row closure upload scanned as 665 tasks, whose ~10k-row
    # slivers also defeat map-side partial aggregation downstream
    # (measured: the final groupBy over the uploaded pairs shuffled
    # nearly every input row). Size batches so the relation lands in at
    # most defaultParallelism partitions — full parallelism, real
    # combine — by raising the conf around this one driver-side slicing
    # call (read once inside createDataFrame; restored immediately).
    chunk = max(
        10_000,
        -(-table.num_rows // max(1, spark.sparkContext.defaultParallelism)),
    )
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    with _ARROW_CONF_LOCK:
        old = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, str(chunk))
        try:
            return spark.createDataFrame(table, schema=schema)
        finally:
            if old is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, old)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Slice-pinned equivalent of ``spark.createDataFrame(rows, schema)``:
    one slice per ~50k rows (so a metadata relation costs one worker
    round-trip, while an occasional big driver list still parallelizes).

    Empty ``rows`` fall through to the plain path: an empty local
    relation is a zero-slice LocalTableScan (no workers to save), and
    ``parallelize([], 1)`` would lose the schema-only shortcut."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    n_slices = max(1, min(
        spark.sparkContext.defaultParallelism, 1 + (len(rows) - 1) // 50_000
    ))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema
    )
