"""Incremental exact dedup as a STREAM of batches — the production shape
of q_dedup_incremental (VERDICT r3 #7): documents arrive in microbatches;
each batch dedups against a persisted corpus-digest table and within
itself, emits a per-document verdict, and appends its kept digests back to
the corpus table so later batches see them.

Scale design (the same discipline as operators/dedup.py):

- Only 64-hex digests ever ship between batches or into state — document
  bodies never leave their microbatch scan.
- Corpus state is a parquet TABLE, not in-memory streaming state: at
  100 TB the digest set itself is billions of rows, far beyond the state
  store; a digest-keyed table (or Delta/Iceberg MERGE target) is the shape
  that scales, and the per-batch join against it is a plain hash join that
  AQE can broadcast while the corpus is small.
- Idempotent restarts: every per-batch write lands under batch_id=<id>, so
  a foreachBatch RETRY of the same microbatch overwrites its own output
  instead of double-appending (exactly-once without a transactional sink).
- LAYER COMPACTION (r9, VERDICT r8 #3): the corpus table uses the same
  layered-store protocol as the near-dup band store (streaming/
  store_layers.py) — with compact_every=N, every N batches all layers
  strictly earlier than the current batch fold into one base-<id> layer,
  so the live layer count stays O(compact_every) instead of one
  batch-<id> directory per microbatch forever (the listing-cost bound).
  Rows keep their original batch_id inside the base, so the
  `batch_id < current` retry-exclusion filter keeps working on folded
  data; the current batch's own layer is never folded. The seed/ layer
  stays its own directory (batch_id=-1, always earlier than any batch).

Verdict semantics match the batch twin exactly (stream==batch is
equivalence-tested at sf0.1 in tests/test_streaming.py): corpus digests
carry their ORIGIN ('corpus' for the seeded set, 'stream' for digests kept
by earlier microbatches), so a duplicate of an earlier-batch keeper is
labeled dup_in_batch — the label the one-shot batch query gives it — not
dup_of_corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from d_sparq_spark.localdata import arrow_df

CORPUS_SCHEMA = "dg string, origin string, batch_id long"
VERDICT_SCHEMA = "doc_id long, dg string, verdict string"


def digest_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text, ...) -> (doc_id, dg): the reduction that keeps bodies
    out of every downstream shuffle."""
    return docs.select("doc_id", F.sha2(F.col(text_col), 256).alias("dg"))


def incremental_verdicts(new_digests: DataFrame, corpus: DataFrame) -> DataFrame:
    """Verdict per new document against a corpus-digest set with origins.

    dup_of_corpus: digest already in the seeded corpus;
    dup_in_batch: digest kept by an earlier streamed batch, or a
        non-min-doc_id copy within this batch;
    keep: first sighting anywhere.
    Returns (doc_id, dg, verdict) — one row per input row.
    """
    w = Window.partitionBy("dg")
    marked = (
        new_digests.withColumn("_min_id", F.min("doc_id").over(w))
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .join(corpus.select("dg", "origin").dropDuplicates(["dg"]), "dg", "left")
    )
    return marked.select(
        "doc_id",
        "dg",
        F.when(F.col("origin") == "corpus", "dup_of_corpus")
        .when(F.col("origin") == "stream", "dup_in_batch")
        .when((F.col("_n") > 1) & (F.col("doc_id") != F.col("_min_id")), "dup_in_batch")
        .otherwise("keep")
        .alias("verdict"),
    )


def read_corpus(
    spark: SparkSession, corpus_dir: str, before_batch: int | None = None
) -> DataFrame:
    """The corpus-digest table, tolerant of NOT-YET-EXISTING state (first
    batch of a fresh pipeline) — and of nothing else: any other read error
    must propagate, because silently degrading to the seed set would
    relabel every earlier-batch duplicate as 'keep' (review r4 finding).
    Batch/base layers resolve through the crash-safe layered-store
    protocol (store_layers._live_layer_dirs): folded leftovers with ids at
    or below the newest committed base are ignored, partial bases without
    their _SUCCESS marker never adopted.

    before_batch excludes rows a retried batch's own FIRST attempt wrote:
    a foreachBatch replay of batch N must see exactly the corpus state the
    first attempt saw, or its keepers come back as origin='stream' dups
    and the retry both mislabels them and overwrites batch-N's corpus
    contribution with an empty keep set."""
    from pyspark.errors import AnalysisException

    from d_sparq_spark.streaming.store_layers import _live_layer_dirs

    dfs = []
    dirs = _live_layer_dirs(corpus_dir)
    if dirs:
        dfs.append(spark.read.schema(CORPUS_SCHEMA).parquet(*dirs))
    try:
        dfs.append(spark.read.schema(CORPUS_SCHEMA).parquet(corpus_dir + "/seed"))
    except AnalysisException:
        pass  # no seed layer (pipeline without a backfill)
    if not dfs:
        return arrow_df(spark, {}, CORPUS_SCHEMA)
    out = dfs[0] if len(dfs) == 1 else dfs[0].unionByName(dfs[1])
    if before_batch is not None:
        out = out.filter(F.col("batch_id") < F.lit(before_batch))
    return out


def seed_corpus(docs: DataFrame, corpus_dir: str, text_col: str = "text") -> None:
    """Materialize the existing corpus as distinct digests with
    origin='corpus' (the one-time backfill step of the pipeline)."""
    digest_docs(docs, text_col).select("dg").distinct().withColumn(
        "origin", F.lit("corpus")
    ).withColumn("batch_id", F.lit(-1).cast("long")).write.mode("overwrite").parquet(
        corpus_dir + "/seed"
    )


def dedup_foreach_batch(
    corpus_dir: str,
    verdict_dir: str,
    text_col: str = "text",
    compact_every: int | None = None,
):
    """foreachBatch body: verdict the microbatch, then append its kept
    digests to the corpus table. Both writes land under batch_id=<id> so a
    retried batch is idempotent. Every compact_every batches, all corpus
    layers strictly earlier than the current batch fold into one base
    layer (the current batch's own layer is never folded, so a retry that
    rewrites batch-<id> cannot duplicate rows already in a base)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from d_sparq_spark.streaming.store_layers import compact_layers

        spark = batch_df.sparkSession
        digests = digest_docs(batch_df, text_col)
        verdicts = incremental_verdicts(
            digests, read_corpus(spark, corpus_dir, before_batch=batch_id)
        )
        # one pass computes both outputs; verdicts is small (ids + digests)
        verdicts.persist()
        try:
            verdicts.write.mode("overwrite").parquet(
                f"{verdict_dir}/batch_id={batch_id}"
            )
            (
                verdicts.filter(F.col("verdict") == "keep")
                .select("dg")
                .distinct()
                .withColumn("origin", F.lit("stream"))
                .withColumn("batch_id", F.lit(batch_id).cast("long"))
                .write.mode("overwrite")
                .parquet(f"{corpus_dir}/batch-{batch_id}")
            )
        finally:
            verdicts.unpersist()
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_layers(spark, corpus_dir, CORPUS_SCHEMA, batch_id - 1)

    return process


def dedup_stream(
    docs_stream: DataFrame,
    corpus_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_every: int | None = None,
):
    """Wire a streaming documents source through the incremental dedup.
    Returns the started query; trigger(availableNow) drains a finite
    backlog (the replay-equivalence test), a processing-time trigger runs
    it as the continuous ingest pipeline."""
    return (
        docs_stream.writeStream.foreachBatch(
            dedup_foreach_batch(
                corpus_dir, verdict_dir, text_col, compact_every=compact_every
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
