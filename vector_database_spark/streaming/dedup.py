"""Streaming dedup — the ingest-time twin of `operators.dedup`.

A training-data firehose dedups at ingest so duplicates never reach
storage: key every document by its normalized-text hash and drop
repeats inside the watermark horizon. State is one key per distinct
document bounded by the watermark (Spark expires keys older than the
event-time horizon) — the streaming analog of `exact_dedup`'s
hash-groupBy, with the same normalization, so a batch backfill and the
streaming path keep identical keys.

The batch sketches (`operators.sketch.count_min`, KMV) run UNCHANGED
on streaming DataFrames (explode + groupBy are stream-capable
aggregations) — tested in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_database_spark.operators.dedup import normalize_text


def streaming_exact_dedup(
    docs: DataFrame,
    *,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop exact duplicates (normalized text) arriving within the
    watermark horizon. Exactly one document per key survives; a key
    already in state always drops later arrivals (cross-batch
    determinism), but WITHIN one micro-batch the surviving row is
    engine-chosen (partition order), as with Spark's own
    dropDuplicates. State size is the distinct-document count inside
    the horizon, not the stream length — the property that makes this
    run forever at ingest scale."""
    keyed = docs.withColumn("_dedup_key", F.md5(normalize_text(text_col)))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_dedup_key"])
        .drop("_dedup_key")
    )


def streaming_neardup_ingest(
    docs_stream: DataFrame,
    state_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    checkpoint: str | None = None,
    flagged_sink: str | None = None,
):
    """Ingest-time NEAR-dup detection: each micro-batch is checked
    against the accumulated corpus (signatures + shingles persisted
    under ``state_path``) via `operators.dedup.incremental_neardup`,
    then appended to that state. Near-dup pairs go to
    ``flagged_sink`` (parquet) when given.

    State is two parquet tables — signatures (one row per doc) and
    distinct shingle rows — NOT Spark state-store state, so it
    survives restarts, is queryable, and a batch backfill can seed it
    with `minhash_signatures_fused` + `shingle_rows` outputs written
    under a ``batch=<n>`` subdirectory. Writes are RETRY-IDEMPOTENT:
    each micro-batch overwrites its own ``batch=<id>`` partition
    directory, so foreachBatch's at-least-once redelivery replaces
    the same rows instead of appending duplicates (duplicate shingle
    rows would silently corrupt every future Jaccard involving those
    docs). Per batch the corpus is never rescanned: the banded join
    touches batch×bands signature rows plus the candidates' shingles.

    Returns the started StreamingQuery.
    """
    from vector_database_spark.operators.dedup import (
        incremental_neardup,
        minhash_signatures_fused,
        shingle_rows,
    )

    sig_path = f"{state_path}/signatures"
    sh_path = f"{state_path}/shingles"

    def _read_state(spark, path: str) -> DataFrame | None:
        """Read accumulated state; None ONLY when the path does not
        exist yet. Any other failure (corrupt footer, permissions,
        transient FS error) re-raises — silently treating it as
        'no state' would skip the corpus check for the batch and
        then append it as clean, losing duplicates forever."""
        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(path).drop("batch")
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return None
            raise

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        corpus_sigs = _read_state(spark, sig_path)
        have_state = corpus_sigs is not None
        if have_state:
            corpus_sh = _read_state(spark, sh_path)
            pairs, new_sigs, new_sh = incremental_neardup(
                batch_df, corpus_sigs, corpus_sh,
                id_col=id_col, text_col=text_col, threshold=threshold,
            )
            if flagged_sink is not None:
                # idempotent under redelivery: the batch replaces its
                # own partition, never appends beside a prior attempt
                pairs.write.mode("overwrite").parquet(
                    f"{flagged_sink}/batch={batch_id}"
                )
            else:
                pairs.count()  # force detection even without a sink
        else:
            new_sigs = minhash_signatures_fused(
                batch_df, id_col=id_col, text_col=text_col
            )
            new_sh = shingle_rows(
                batch_df, id_col=id_col, text_col=text_col
            ).localCheckpoint(eager=False)
            # batch-internal pairs of the very first batch
            if flagged_sink is not None:
                from vector_database_spark.operators.dedup import (
                    minhash_dedup_pairs,
                )

                minhash_dedup_pairs(
                    batch_df, id_col=id_col, text_col=text_col,
                    threshold=threshold, shingles=new_sh,
                ).write.mode("overwrite").parquet(
                    f"{flagged_sink}/batch={batch_id}"
                )
        # per-batch partition overwrite: a redelivered batch REPLACES
        # its own rows, so a crash anywhere in _process cannot leave
        # duplicated state behind
        new_sigs.write.mode("overwrite").parquet(f"{sig_path}/batch={batch_id}")
        new_sh.write.mode("overwrite").parquet(f"{sh_path}/batch={batch_id}")

    w = docs_stream.writeStream.foreachBatch(_process)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return w.trigger(availableNow=True).start()
