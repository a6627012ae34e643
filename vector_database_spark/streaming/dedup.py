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
    ``flagged_sink`` (parquet) when given. The first batch takes the
    same path over an empty corpus, so its within-batch pairs are
    flagged too.

    State is two parquet tables — signatures (one row per doc) and
    distinct shingle rows — NOT Spark state-store state, so it
    survives restarts, is queryable, and a batch backfill can seed it
    with `minhash_signatures_fused` + `shingle_rows` outputs written
    under a ``batch=<n>`` subdirectory. Writes are RETRY-IDEMPOTENT:
    each micro-batch reads the state WITHOUT its own ``batch=<id>``
    partition and then overwrites that partition (and its flagged
    partition), so foreachBatch's at-least-once redelivery of a batch
    sees the state its first attempt saw and replaces the same rows,
    instead of appending duplicates (duplicate shingle rows would
    silently corrupt every future Jaccard involving those docs) or
    dropping the batch's docs as already ingested. Per batch the
    corpus is never rescanned: the banded join touches batch×bands
    signature rows plus the candidates' shingles.

    Returns the started StreamingQuery.
    """
    from vector_database_spark.operators.dedup import incremental_neardup
    from vector_database_spark.schemas import local_frame

    sig_path = f"{state_path}/signatures"
    sh_path = f"{state_path}/shingles"

    def _read_state(spark, path: str, ddl: str, batch_id: int) -> DataFrame:
        """Accumulated state of every batch but ``batch_id`` (an
        earlier attempt of this batch may have written its own
        partition); empty ONLY when the path does not exist yet. Any
        other failure (corrupt footer, permissions, transient FS
        error) re-raises — silently treating it as 'no state' would
        skip the corpus check for the batch and then append it as
        clean, losing duplicates forever."""
        from pyspark.errors import AnalysisException

        try:
            state = spark.read.parquet(path)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return local_frame(spark, [], ddl)
            raise
        return state.where(
            F.col("batch").cast("string") != F.lit(str(batch_id))
        ).drop("batch")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        pairs, new_sigs, new_sh = incremental_neardup(
            batch_df,
            _read_state(spark, sig_path, "id long, minhash array<long>", batch_id),
            _read_state(spark, sh_path, "id long, shingle string", batch_id),
            id_col=id_col, text_col=text_col, threshold=threshold,
        )
        # per-batch partition overwrite: a redelivered batch REPLACES
        # its own rows, so a crash anywhere in _process cannot leave
        # duplicated state behind
        if flagged_sink is not None:
            pairs.write.mode("overwrite").parquet(
                f"{flagged_sink}/batch={batch_id}"
            )
        new_sigs.write.mode("overwrite").parquet(f"{sig_path}/batch={batch_id}")
        new_sh.write.mode("overwrite").parquet(f"{sh_path}/batch={batch_id}")

    w = docs_stream.writeStream.foreachBatch(_process)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return w.trigger(availableNow=True).start()
