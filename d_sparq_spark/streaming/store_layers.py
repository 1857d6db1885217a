"""Layered parquet store shared by the streaming dedup pipelines
(batch-<id> deltas + periodically folded base-<id> layers).

Both incremental dedup state stores — the exact corpus-digest table
(streaming/dedup.py) and the near-dup band/text store
(streaming/near_dedup.py) — write one `batch-<id>` directory per
microbatch for idempotent replay. Without compaction that is one layer
per microbatch FOREVER: at production cadence the file-LISTING cost, not
the data, becomes the bottleneck (the r7 verdict's finding). These
helpers are generic over (directory, schema) and keep the live layer
count O(compact_every) while preserving every row's original batch_id,
so the `batch_id < current` retry-exclusion filter keeps working on
folded data.

Crash-safety protocol (review r8):

- a BASE layer is live only once its _SUCCESS marker exists — the v1
  committer renames task files in one by one and writes _SUCCESS last,
  so part- files alone may be a PARTIAL base whose adoption would
  silently supersede the still-intact batch layers it was folded from;
- readers ignore any batch-<i> with i <= the newest committed base id,
  so a crash between base commit and cleanup never double-counts;
- stale folded directories are deleted opportunistically by the next
  compaction pass.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d_sparq_spark.localdata import arrow_df


def _local(path: str) -> str:
    """Strip a file: scheme; the layered store is a filesystem directory
    (local in tests; the same listing protocol maps to any FS that lists
    directories — the point of compaction is to make that listing O(N))."""
    return path[len("file:"):] if path.startswith("file:") else path


def _scan_layers(path: str):
    """Inventory a layered store directory.

    Returns (base_id, layers) where layers maps (kind, id) -> (dirpath,
    committed) for every `base-<id>` / `batch-<id>` child, and base_id is
    the NEWEST committed base layer's id (None if no base).

    Commit detection is asymmetric by design (review r8): a BASE layer is
    committed ONLY once its _SUCCESS marker exists. A BATCH layer may
    fall back to part- files (a batch dir only ever supersedes nothing;
    worst case a retry rewrites it)."""
    root = _local(path)
    layers: dict = {}
    base_id = None
    if not os.path.isdir(root):
        return base_id, layers
    for name in os.listdir(root):
        for kind in ("base", "batch"):
            prefix = kind + "-"
            if name.startswith(prefix):
                try:
                    i = int(name[len(prefix):])
                except ValueError:
                    continue
                full = os.path.join(root, name)
                try:
                    files = os.listdir(full)
                except OSError:
                    continue
                committed = "_SUCCESS" in files or (
                    kind == "batch" and any(f.startswith("part-") for f in files)
                )
                layers[(kind, i)] = (full, committed)
                if kind == "base" and committed and (base_id is None or i > base_id):
                    base_id = i
    return base_id, layers


def _live_layer_dirs(path: str) -> list:
    """The exactly-once live set of a layered store: the newest committed
    base-<M> plus every committed batch-<i> with i > M. Anything with
    i <= M is a folded leftover a crash kept around — ignored here,
    deleted by the next compact_layers pass."""
    base_id, layers = _scan_layers(path)
    dirs = []
    for (kind, i), (full, committed) in sorted(layers.items()):
        if not committed:
            continue
        if kind == "base" and i == base_id:
            dirs.append(full)
        elif kind == "batch" and (base_id is None or i > base_id):
            dirs.append(full)
    return dirs


def compact_layers(spark: SparkSession, path: str, schema, upto: int) -> None:
    """Fold every live layer with id <= upto into ONE base-<upto> layer,
    preserving each row's original batch_id (the retry-exclusion filter
    keeps working on folded data). Crash-safe protocol:

    1. if base-<upto> is already committed (a foreachBatch retry whose
       first attempt finished the fold), skip straight to cleanup;
    2. else write base-<upto> from the union of the fold inputs — inputs
       and output are distinct directories, so no read-under-overwrite;
    3. delete the folded inputs and any stale (already-superseded or
       uncommitted) layers an earlier crash left behind.

    Readers (_live_layer_dirs) ignore layers with id <= the newest
    committed base id, so a crash between 2 and 3 never double-counts."""
    base_id, layers = _scan_layers(path)
    target = _local(path + f"/base-{upto}")
    target_done = layers.get(("base", upto), (None, False))[1]
    live_base = (
        [layers[("base", base_id)][0]]
        if base_id is not None and base_id < upto
        else []
    )
    live_batches = [
        full
        for (kind, i), (full, committed) in sorted(layers.items())
        if kind == "batch"
        and committed
        and i <= upto
        and (base_id is None or i > base_id)
    ]
    if not target_done:
        if not live_batches:
            return  # nothing new to fold; don't churn the base
        shutil.rmtree(target, ignore_errors=True)  # uncommitted leftover
        spark.read.schema(schema).parquet(*live_base, *live_batches).write.mode(
            "error"
        ).parquet(path + f"/base-{upto}")
        if not os.path.exists(os.path.join(target, "_SUCCESS")):
            # never delete the fold inputs behind an unmarked base: with
            # job-commit markers disabled the strict base-commit rule
            # above would see no live base AND no batch layers -> data
            # loss. Refuse loudly instead (review r8).
            raise RuntimeError(
                "compact_layers: base layer written without a _SUCCESS "
                "marker (mapreduce.fileoutputcommitter.marksuccessfuljobs "
                "disabled?) — compaction requires the commit marker"
            )
    # cleanup: everything at or below the new base is superseded
    for (kind, i), (full, committed) in layers.items():
        if (kind, i) != ("base", upto) and (i <= upto or not committed):
            shutil.rmtree(full, ignore_errors=True)


def _read_layer(
    spark: SparkSession, path: str, schema, before_batch: int
) -> DataFrame:
    """A layered parquet store (batch-<id> deltas + optional compacted
    base), tolerant ONLY of not existing yet (first batch); excludes rows
    the current batch's own earlier attempt wrote, so retries see the
    state the first attempt saw."""
    dirs = _live_layer_dirs(path)
    if not dirs:
        return arrow_df(spark, {}, schema)
    df = spark.read.schema(schema).parquet(*dirs)
    return df.filter(F.col("batch_id") < F.lit(before_batch))
