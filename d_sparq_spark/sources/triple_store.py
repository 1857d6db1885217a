"""Triple-store layout at rest (SURVEY §2.A A9/A10, §1.2).

The reference bulk-loads subject-grouped documents into per-node MongoDB
collections placed by METIS partition, with boundary triples replicated so
star/path joins are node-local. Spark replaces all of that with one
columnar Parquet layout:

- ``by_p/``  — partitionBy('p'): vertical partitioning (one directory per
  predicate, the S2RDF "VP" layout). A pattern with a bound predicate
  prunes to one directory — Catalyst partition pruning IS the predicate
  index.

Placement is left to broadcast joins and AQE; subject-grouped stars are
served by the optional property table (plans/catalog.py).

At 100 TB: by_p holds ~|P| directories (RDF predicate counts are small,
typically < 10k); within each, row-group min/max on s gives secondary
pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# the by_p contract: data columns s, o, then the partition column p
VP_SCHEMA = "s long, o long, p long"


def write_vp(
    triples_enc: DataFrame,
    base_path: str,
    mode: str = "overwrite",
    dynamic: bool = False,
) -> None:
    """Vertical-partitioned copy: one directory per predicate. This
    function OWNS the by_p layout contract alongside read_vp — loaders
    must call it instead of re-spelling the write (review r7: bulk_load
    and append_load each had an inline copy that could drift).
    ``dynamic=True`` (delete_load's partition rewrite) overwrites ONLY the
    partitions present in ``triples_enc`` — a per-writer option, so the
    session-level partitionOverwriteMode is never mutated. Callers must
    handle partitions that became EMPTY themselves (no rows for p ⇒ the
    old directory is left untouched by a dynamic overwrite).

    The input must have exactly the columns s, p, o: read_vp declares
    that schema, so an extra column would be written and never read."""
    if sorted(triples_enc.columns) != ["o", "p", "s"]:
        raise ValueError(
            f"write_vp: expected columns s, p, o, got {triples_enc.columns}"
        )
    w = triples_enc.write.mode(mode)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy("p").parquet(f"{base_path}/by_p")


def read_vp(spark: SparkSession, base_path: str) -> DataFrame:
    """Read the VP layout back with the store's declared schema: s, o
    and the partition column p are all BIGINT. Declaring it skips the
    Spark job that schema inference runs over the parquet footers, and
    types p directly (partition-directory inference would return INT for
    id ranges under 2^31, and the encoded engine's bigint-only decode
    would then leak raw integer predicate ids). An existing layout with
    no partitions reads as empty."""
    return spark.read.schema(VP_SCHEMA).parquet(f"{base_path}/by_p")

