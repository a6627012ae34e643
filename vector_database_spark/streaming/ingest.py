"""Structured Streaming ingestion + index maintenance.

The reference's only mutation paths are per-record insert/delete on
the in-memory trie (MemoryVectorIndex.Add/Remove, O23/O25) and the
per-document rebuild (IndexDocument, O15). In Spark both become
micro-batch operations:

* ``stream_vectors_to_table`` — append incoming (doc_id, id, vector)
  micro-batches to the base Parquet table (watermarked dedup by id).
* ``foreach_batch_reindex`` — after each micro-batch, rebuild the
  BSP-tree for exactly the documents touched by that batch (dynamic
  partition overwrite — the same swap as the batch path). This is the
  reference's incremental insert re-expressed as per-partition
  compaction: cost is O(doc size) per touched doc, amortized by
  batching, instead of O(log n) per record with unbounded tree decay.

Windowed/sessionized analytics over the events stream live in
`streaming.windows`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_database_spark.operators.catalog import index_documents


def stream_vectors_to_table(
    stream_df: DataFrame,
    base_path: str,
    checkpoint: str,
    *,
    dedup_id_col: str = "id",
    watermark_col: str | None = None,
    watermark: str = "10 minutes",
):
    """Append a vector stream to the base table with optional
    watermarked exactly-once-per-id dedup. Returns the StreamingQuery."""
    df = stream_df
    if watermark_col is not None:
        # per-ID dedup: keying on (id, ts) would pass a re-sent id
        # with a re-stamped timestamp straight through, and duplicate
        # ids poison the downstream build (an id-split can never
        # separate equal ids)
        df = df.withWatermark(
            watermark_col, watermark
        ).dropDuplicatesWithinWatermark([dedup_id_col])
    return (
        df.writeStream.format("parquet")
        .option("path", base_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def foreach_batch_reindex(
    stream_df: DataFrame,
    base_path: str,
    index_path: str,
    checkpoint: str,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    doc_col: str = "doc_id",
    local_threshold: int = 20_000,
    trigger_once: bool = False,
    compaction_threshold: float | None = None,
):
    """foreachBatch sink: append the micro-batch to the base table,
    then rebuild the index partitions of touched documents.

    ``compaction_threshold=None`` rebuilds every touched document each
    batch (strictest freshness). A fraction (e.g. ``0.2``) enables the
    LSM-style policy: a touched document is rebuilt only once its
    un-indexed tail exceeds that share of its rows — the amortized
    per-record insert (reference ``Add``); reads stay exact because
    `catalog.tail_rows` rows are brute-force served by the facade."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            # idempotence under foreachBatch's at-least-once replay:
            # a redelivered batch would append its rows a second time
            # (duplicate ids wedge the id-split build permanently), so
            # drop rows whose (doc, id) already landed — the anti-join
            # is scoped to the batch's own documents
            to_write = batch_df
            from pyspark.errors import AnalysisException

            try:
                existing = (
                    spark.read.parquet(base_path)
                    .join(
                        batch_df.select(doc_col).distinct(),
                        doc_col,
                        "left_semi",
                    )
                    .select(doc_col, id_col)
                )
                # materialize BEFORE the append below (the anti-join
                # plan reads base_path — writing to it with a live
                # scan in the lineage is read-under-write)
                to_write = batch_df.join(
                    existing, [doc_col, id_col], "left_anti"
                ).localCheckpoint(eager=True)
                if to_write.isEmpty():
                    return
            except AnalysisException as e:
                if (
                    "PATH_NOT_FOUND" not in str(e)
                    and "Path does not exist" not in str(e)
                ):
                    raise
                # first batch: no base table yet
            to_write.write.mode("append").partitionBy(doc_col).parquet(base_path)
            touched = [r[0] for r in to_write.select(doc_col).distinct().collect()]
            full = spark.read.parquet(base_path)
            if compaction_threshold is not None:
                from vector_database_spark.operators.catalog import tail_rows

                scoped = full.where(F.col(doc_col).isin(touched))
                try:
                    idx = spark.read.parquet(index_path)
                except Exception:
                    idx = None
                if idx is not None:
                    totals = scoped.groupBy(doc_col).agg(
                        F.count(F.lit(1)).alias("n")
                    )
                    tails = (
                        tail_rows(scoped, idx, id_col=id_col, doc_col=doc_col)
                        .groupBy(doc_col)
                        .agg(F.count(F.lit(1)).alias("n_tail"))
                    )
                    touched = [
                        r[0]
                        for r in totals.join(tails, doc_col)
                        .where(
                            F.col("n_tail")
                            > F.lit(float(compaction_threshold)) * F.col("n")
                        )
                        .select(doc_col)
                        .collect()
                    ]
            if touched:
                index_documents(
                    full,
                    index_path,
                    doc_ids=touched,
                    id_col=id_col,
                    vector_col=vector_col,
                    doc_col=doc_col,
                    local_threshold=local_threshold,
                )
        finally:
            batch_df.unpersist()

    writer = stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_ivf_ingest(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    drift_threshold: float = 0.25,
    retrain: str = "never",
    trigger_once: bool = False,
):
    """foreachBatch sink for the IVF inverted file: each micro-batch
    runs `ann.ivf_append` (assign-on-append under the stored
    centroids, drift off the per-cell table; see its contract for the retrain
    policy — streaming defaults to ``'never'`` so a poison batch
    can't trigger an unbounded rebuild inside the stream; run the
    retrain as an explicit maintenance job instead).

    Idempotence under foreachBatch's at-least-once redelivery: rows
    whose id already landed in the layout are anti-joined away before
    the append — a redelivered batch appends nothing, so the layout
    equals the batch-mode `ivf_append` chain exactly (the
    foreach_batch_reindex rule applied to the per-cell layout).

    PRECONDITION: the IVF layout at ``path`` must already exist
    (``ann.ivf_write`` / ``ivf_build``) — streaming append assigns
    under the STORED centroids, so there is nothing to assign against
    before a build. Checked here at sink-construction time (a clear
    error now beats the first micro-batch dying inside foreachBatch);
    vacuuming the layout while the stream runs still fails mid-stream,
    as any read-under-delete does."""
    spark = stream_df.sparkSession
    try:
        spark.read.parquet(f"{path}/centroids").limit(1).collect()
    except Exception as exc:  # noqa: BLE001 - any read failure = no layout
        raise ValueError(
            f"foreach_batch_ivf_ingest: no IVF layout at {path!r} "
            "(build one with ann.ivf_build + ann.ivf_write first); "
            f"centroids read failed with: {exc}"
        ) from None

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        from vector_database_spark.operators.ann import ivf_append

        existing = spark.read.parquet(f"{path}/vectors").select(
            F.col("id").alias(id_col)
        )
        fresh = batch_df.join(
            existing, id_col, "left_anti"
        ).localCheckpoint(eager=True)
        if fresh.isEmpty():
            return
        ivf_append(
            spark,
            path,
            fresh,
            id_col=id_col,
            vector_col=vector_col,
            drift_threshold=drift_threshold,
            retrain=retrain,
        )

    writer = stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
