"""Driver-local DataFrames: the one way the package turns driver data into
a relation.

Every relation built from driver data — a query's VALUES rows, closure
seeds, ASK and DESCRIBE constants, one-row manifests, uploaded kernel
results, schema-only empties — goes through ``arrow_df``. Spark turns
the pyarrow Table into a JVM ``LocalRelation``: its scan runs no Python
worker, its size statistics are exact (a small one broadcasts into a
join), and an empty one is a ``LocalRelation <empty>`` the optimizer
folds away. ``createDataFrame`` over Python rows would instead pickle
them into an RDD (a ``LogicalRDD`` whose every scan runs a Python worker
per slice; measured 0.29-0.42 s to collect one row, against 0.07-0.10 s
for the same row through ``arrow_df``, ``local[2]``, 4 vCPUs).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

# arrow_df briefly raises a SESSION conf around one createDataFrame call;
# two concurrent uploads in one session could otherwise interleave their
# set/restore and leave an inflated batch size behind (the conf also
# governs executor-side toPandas/pandas_udf batching). The driver contract
# is single-threaded, so this lock is belt-and-braces for embedders that
# share a session across threads.
_ARROW_CONF_LOCK = threading.Lock()


def arrow_df(spark: SparkSession, columns, schema=None) -> DataFrame:
    """DataFrame from driver-resident columns via a pyarrow Table.

    ``columns``: a pyarrow Table, or a dict of column name -> numpy /
    pyarrow array or Python list, in ``schema``'s column order; an empty
    dict is an empty relation of ``schema``. ``schema`` (a DDL string or
    StructType; None: the Table's own Arrow types) is what Spark casts the
    Table to: int64 columns load into any integral type, large_string or
    object string columns into string, all-None columns into any type.
    ``createDataFrame(pandas)`` would re-block every column through the
    pandas block manager and convert per slice on first materialization —
    measured 7.2 s for a 6.6M-row int64 pair set vs 1.0 s through a
    pyarrow Table (zero-copy from int64 numpy). Works with the Arrow conf
    off too (input-format support, not the toPandas path)."""
    import pyarrow as pa
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = columns if isinstance(columns, pa.Table) else pa.table(
        {k: v if isinstance(v, (pa.Array, pa.ChunkedArray)) else pa.array(v)
         for k, v in (columns or dict.fromkeys(schema.names, [])).items()}
    )
    # createDataFrame(Table) makes ONE partition PER ARROW BATCH of
    # spark.sql.execution.arrow.maxRecordsPerBatch rows (default 10k):
    # a 6.6M-row closure upload scanned as 665 tasks, whose ~10k-row
    # slivers also defeat map-side partial aggregation downstream
    # (measured: the final groupBy over the uploaded pairs shuffled
    # nearly every input row, and the plain call took 14-31 s against
    # 2-4 s here on a 6.6M-row table of two longs, local[2], 4 vCPUs).
    # Size batches so the relation lands in at most defaultParallelism
    # partitions — full parallelism, real combine — by raising the conf
    # around this one driver-side slicing call (read once inside
    # createDataFrame; restored immediately).
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
