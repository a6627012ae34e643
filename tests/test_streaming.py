"""Structured Streaming: micro-batch ingest + reindex, windowed aggs.

Streams are driven from parquet file sources with availableNow
triggers so tests are hermetic and deterministic.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from vector_database_spark.operators.catalog import load_index
from vector_database_spark.sources.generators import random_uniform
from vector_database_spark.streaming.ingest import foreach_batch_reindex
from vector_database_spark.streaming.windows import (
    latest_per_key,
    session_counts,
    tumbling_counts,
)


def test_foreach_batch_reindex(spark):
    tmp = tempfile.mkdtemp()
    src, base, idxp, ckpt = (
        f"{tmp}/src",
        f"{tmp}/base",
        f"{tmp}/index",
        f"{tmp}/ckpt",
    )
    vecs = (
        random_uniform(spark, 60, 3, seed=1)
        .withColumn("doc_id", F.col("id") % 2)
    )
    vecs.write.parquet(src)

    stream = spark.readStream.schema(
        "id long, vector array<float>, doc_id long"
    ).parquet(src)
    q = foreach_batch_reindex(
        stream, base, idxp, ckpt, local_threshold=16, trigger_once=True
    )
    q.awaitTermination(120)

    idx = load_index(spark, idxp)
    assert idx.select("doc_id").distinct().count() == 2
    assert idx.where(F.col("id").isNotNull()).count() == 60

    # second batch: new vectors for doc 0 only -> doc 1 partition stable
    doc1_before = idx.where(F.col("doc_id") == 1).count()
    more = (
        random_uniform(spark, 10, 3, seed=2)
        .withColumn("id", F.col("id") + 1000)
        .withColumn("doc_id", F.lit(0))
    )
    more.write.mode("append").parquet(src)
    q2 = foreach_batch_reindex(
        spark.readStream.schema("id long, vector array<float>, doc_id long").parquet(src),
        base,
        idxp,
        ckpt,
        local_threshold=16,
        trigger_once=True,
    )
    q2.awaitTermination(120)
    idx2 = load_index(spark, idxp)
    assert idx2.where(F.col("doc_id") == 1).count() == doc1_before
    assert idx2.where((F.col("doc_id") == 0) & F.col("id").isNotNull()).count() == 40


def _event_stream(spark, tmp):
    rows = [
        (0, "2024-01-01 10:00:00", 1, "click", 1.0),
        (1, "2024-01-01 10:10:00", 1, "click", 2.0),
        (2, "2024-01-01 11:05:00", 1, "view", 3.0),
        (3, "2024-01-01 10:20:00", 2, "click", 4.0),
        (4, "2024-01-01 12:00:00", 2, "click", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    path = f"{tmp}/events_src"
    df.write.parquet(path)
    return spark.readStream.schema(
        "event_id long, user_id long, event_type string, value double, ts timestamp"
    ).parquet(path)


def _run_to_memory(stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_tumbling_counts(spark):
    tmp = tempfile.mkdtemp()
    ev = _event_stream(spark, tmp)
    out = tumbling_counts(ev, watermark="10 hours")
    _run_to_memory(out, "tumb", mode="complete")
    rows = {
        (str(r.window_start), r.event_type): r.n
        for r in spark.sql("SELECT * FROM tumb").collect()
    }
    assert rows[("2024-01-01 10:00:00", "click")] == 3
    assert rows[("2024-01-01 11:00:00", "view")] == 1


def test_streaming_session_counts(spark):
    tmp = tempfile.mkdtemp()
    ev = _event_stream(spark, tmp)
    out = session_counts(ev, gap="30 minutes", watermark="10 hours")
    _run_to_memory(out, "sess", mode="complete")
    rows = [
        (r.user_id, r.n_events)
        for r in spark.sql("SELECT * FROM sess ORDER BY user_id, session_start").collect()
    ]
    # user 1: events at 10:00/10:10 in one session, 11:05 its own;
    # user 2: 10:20 and 12:00 separate sessions
    assert rows == [(1, 2), (1, 1), (2, 1), (2, 1)]


def test_streaming_latest_per_key(spark):
    tmp = tempfile.mkdtemp()
    ev = _event_stream(spark, tmp)
    out = latest_per_key(ev, watermark="10 hours")
    _run_to_memory(out, "latest", mode="complete")
    rows = {
        (r.user_id, r.event_type): r.event_id
        for r in spark.sql("SELECT * FROM latest").collect()
    }
    assert rows[(1, "click")] == 1
    assert rows[(2, "click")] == 4


def test_stateful_running_stats_across_batches(spark):
    """applyInPandasWithState: keyed state persists across separate
    availableNow runs sharing a checkpoint."""
    import tempfile as _tf

    from vector_database_spark.streaming.stateful import running_user_stats

    tmp = _tf.mkdtemp()
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    b1 = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 5.0), (3, 2, 1.0)],
        "event_id long, user_id long, value double",
    )
    b1.write.parquet(src)

    def run(out):
        stream = spark.readStream.schema(
            "event_id long, user_id long, value double"
        ).parquet(src)

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(out)

        q = (
            running_user_stats(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(f"{tmp}/out1")
    rows = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.read.parquet(f"{tmp}/out1").collect()
    }
    assert rows == {1: (2, 15.0), 2: (1, 1.0)}

    # second batch continues the same state via the shared checkpoint
    spark.createDataFrame(
        [(4, 1, 2.0), (5, 3, 7.0)], "event_id long, user_id long, value double"
    ).write.mode("append").parquet(src)
    run(f"{tmp}/out2")
    rows2 = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.read.parquet(f"{tmp}/out2").collect()
    }
    assert rows2[1] == (3, 17.0)  # accumulated across runs
    assert rows2[3] == (1, 7.0)


def test_streaming_exact_dedup_across_batches(spark):
    """dropDuplicatesWithinWatermark state persists across availableNow
    runs: a duplicate arriving in a LATER batch (within the watermark)
    is still dropped; the first arrival survives."""
    import tempfile as _tf

    from vector_database_spark.streaming.dedup import streaming_exact_dedup

    tmp = _tf.mkdtemp()
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    spark.createDataFrame(
        [
            (0, "2024-01-01 10:00:00", "hello   WORLD"),
            (1, "2024-01-01 10:01:00", "hello world"),  # dup of 0 (normalized)
            (2, "2024-01-01 10:02:00", "something else"),
        ],
        "doc_id long, ts_s string, text string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.parquet(src)

    def run(out):
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(out)

        q = (
            streaming_exact_dedup(stream, watermark="2 hours")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(f"{tmp}/out1")
    ids1 = sorted(r.doc_id for r in spark.read.parquet(f"{tmp}/out1").collect())
    # exactly one of the two duplicates survives (which one is
    # engine-chosen within a micro-batch), plus the distinct doc
    assert len(ids1) == 2 and 2 in ids1 and (0 in ids1) != (1 in ids1)

    # batch 2: another dup of doc 0 within the watermark + a new doc
    spark.createDataFrame(
        [
            (3, "2024-01-01 10:30:00", "HELLO    world"),  # still a dup
            (4, "2024-01-01 10:31:00", "brand new content"),
        ],
        "doc_id long, ts_s string, text string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.mode(
        "append"
    ).parquet(src)
    run(f"{tmp}/out2")
    ids2 = sorted(r.doc_id for r in spark.read.parquet(f"{tmp}/out2").collect())
    assert ids2 == [4]  # the cross-batch duplicate was dropped by state


def test_batch_sketch_operators_run_on_streams(spark):
    """The count-min sketch operator is stream-capable UNCHANGED: the
    streaming sketch table equals the batch sketch table."""
    import tempfile as _tf

    from vector_database_spark.operators.sketch import count_min

    tmp = _tf.mkdtemp()
    src = f"{tmp}/src"
    batch = spark.createDataFrame(
        [(i, i % 7) for i in range(200)], "event_id long, user_id long"
    )
    batch.write.parquet(src)
    want = {
        (r.row, r.bucket): r.c
        for r in count_min(batch, "user_id", width=32, depth=4).collect()
    }

    stream = spark.readStream.schema("event_id long, user_id long").parquet(src)
    out = count_min(stream, "user_id", width=32, depth=4)
    q = (
        out.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.row, r.bucket): r.c
        for r in spark.sql("SELECT * FROM cms_stream").collect()
    }
    assert got == want and got


def test_stream_stream_interval_join(spark):
    """Stream-stream interval join (attribution shape): the streaming
    result equals the batch join of the same frames (unified
    semantics are the oracle)."""
    import tempfile as _tf

    from vector_database_spark.streaming.joins import interval_join

    tmp = _tf.mkdtemp()
    imps = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 100),
            (1, "2024-01-01 12:00:00", 101),
            (2, "2024-01-01 10:05:00", 102),
        ],
        "user_id long, ts_s string, imp_id long",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    clicks = spark.createDataFrame(
        [
            (1, "2024-01-01 10:10:00", 900),  # within 30m of imp 100
            (1, "2024-01-01 11:00:00", 901),  # matches nothing
            (2, "2024-01-01 10:06:00", 902),  # within 30m of imp 102
        ],
        "user_id long, ts_s string, click_id long",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    imps.write.parquet(f"{tmp}/imps")
    clicks.write.parquet(f"{tmp}/clicks")

    batch = interval_join(imps, clicks, on="user_id", within="30 minutes")
    want = {(r.imp_id, r.click_id) for r in batch.collect()}
    assert want == {(100, 900), (102, 902)}

    s_imps = spark.readStream.schema(
        "user_id long, imp_id long, ts timestamp"
    ).parquet(f"{tmp}/imps")
    s_clicks = spark.readStream.schema(
        "user_id long, click_id long, ts timestamp"
    ).parquet(f"{tmp}/clicks")
    out = interval_join(s_imps, s_clicks, on="user_id", within="30 minutes")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.imp_id, r.click_id)
        for r in spark.sql("SELECT * FROM ssjoin").collect()
    }
    assert got == want


def test_stateless_text_operators_run_on_streams(spark):
    """chunk_documents and pii_scrub are stateless narrow projections,
    so they run on a stream UNCHANGED (append mode, no watermark, no
    state store) and emit exactly the batch result — the property that
    lets the ingest pipeline chunk/scrub documents at arrival time."""
    import tempfile as _tf

    from vector_database_spark.operators import text as tx

    tmp = _tf.mkdtemp()
    src = f"{tmp}/docs"
    batch = spark.createDataFrame(
        [(i, f"w{i} mail u{i}@ex.io " + " ".join(f"t{j}" for j in range(10)))
         for i in range(40)],
        "doc_id long, text string",
    )
    batch.write.parquet(src)
    want_chunks = {
        (r.doc_id, r.chunk_id, r.chunk_text)
        for r in tx.chunk_documents(batch, size=4, stride=3).collect()
    }
    want_pii = {
        (r.id, r.n_email, r.scrubbed)
        for r in tx.pii_scrub(batch).collect()
    }

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q1 = (
        tx.chunk_documents(stream, size=4, stride=3)
        .writeStream.format("memory").queryName("chunk_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q2 = (
        tx.pii_scrub(stream)
        .writeStream.format("memory").queryName("pii_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    got_chunks = {
        (r.doc_id, r.chunk_id, r.chunk_text)
        for r in spark.sql("SELECT * FROM chunk_stream").collect()
    }
    got_pii = {
        (r.id, r.n_email, r.scrubbed)
        for r in spark.sql("SELECT * FROM pii_stream").collect()
    }
    assert got_chunks == want_chunks and got_chunks
    assert got_pii == want_pii
    assert all(n == 1 and "<EMAIL>" in s for _, n, s in got_pii)


def test_streaming_neardup_ingest_accumulates_state(spark):
    """Near-dup flagging at ingest: parquet-backed corpus state
    accumulates across micro-batches AND across query restarts; the
    flagged pairs equal the full-batch recompute."""
    import tempfile as _tf

    from vector_database_spark.operators.dedup import minhash_dedup_pairs
    from vector_database_spark.streaming.dedup import streaming_neardup_ingest

    tmp = _tf.mkdtemp()
    src, state, ckpt, sink = (
        f"{tmp}/src", f"{tmp}/state", f"{tmp}/ckpt", f"{tmp}/flagged"
    )
    b0 = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "a tall ship sails on the open sea tonight with the wind")],
        "doc_id long, text string",
    )
    b0.write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = streaming_neardup_ingest(
            stream, state, threshold=0.5, checkpoint=ckpt, flagged_sink=sink
        )
        q.awaitTermination(180)

    run_once()
    # restart with new arrivals: a near-dup of doc 0 and an exact
    # late duplicate of doc 1
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy cat today"),
         (11, "a tall ship sails on the open sea tonight with the wind")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    run_once()

    got = {(r.a_id, r.b_id) for r in spark.read.parquet(sink).collect()}
    alldocs = spark.read.parquet(src)
    want = {(r.a_id, r.b_id)
            for r in minhash_dedup_pairs(alldocs, threshold=0.5).collect()}
    assert got == want and (0, 10) in got and (1, 11) in got
    # state grew to one signature row per doc
    assert spark.read.parquet(f"{state}/signatures").count() == 4


def test_streaming_neardup_ingest_redelivered_batch_keeps_state(spark):
    """A redelivered micro-batch (same rows, same batch id, fresh
    checkpoint) reads the state without its own earlier partition: it
    re-flags the same pairs and rewrites the same state rows instead
    of dropping its docs as already ingested."""
    import tempfile as _tf

    from vector_database_spark.streaming.dedup import streaming_neardup_ingest

    tmp = _tf.mkdtemp()
    src, state, sink = f"{tmp}/src", f"{tmp}/state", f"{tmp}/flagged"
    spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "a tall ship sails on the open sea tonight with the wind"),
         (2, "the quick brown fox jumps over the lazy cat today")],
        "doc_id long, text string",
    ).write.parquet(src)

    def run(ckpt):
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        streaming_neardup_ingest(
            stream, state, threshold=0.5, checkpoint=f"{tmp}/{ckpt}",
            flagged_sink=sink,
        ).awaitTermination(180)
        return (
            spark.read.parquet(f"{state}/signatures").count(),
            spark.read.parquet(f"{state}/shingles").count(),
            sorted((r.a_id, r.b_id) for r in spark.read.parquet(sink).collect()),
        )

    first = run("ckpt1")
    assert first[0] == 3 and first[1] > 0 and first[2] == [(0, 2)]
    assert run("ckpt2") == first  # batch 0 again


def test_foreach_batch_ivf_ingest_matches_batch_appends(spark):
    """Streaming IVF ingest == the batch ivf_append chain: after two
    micro-batches the layout equals one-shot assignment of all rows
    under the stored centroids, and a REDELIVERED batch (same files,
    fresh checkpoint) appends nothing — the at-least-once guard."""
    from vector_database_spark.operators.ann import (
        _assign_cells,
        ivf_build,
        ivf_read,
        ivf_write,
    )
    from vector_database_spark.streaming.ingest import foreach_batch_ivf_ingest

    tmp = tempfile.mkdtemp()
    src, path = f"{tmp}/src", f"{tmp}/ivf"
    allv = random_uniform(spark, 90, 4, seed=3)
    base = allv.where(F.col("id") < 50)
    assigned, cents = ivf_build(base, n_cells=4, iters=2)
    ivf_write(assigned, cents, path)

    allv.where((F.col("id") >= 50) & (F.col("id") < 70)).write.parquet(src)
    stream = spark.readStream.schema("id long, vector array<float>").parquet(src)
    q = foreach_batch_ivf_ingest(
        stream, path, f"{tmp}/ckpt1", trigger_once=True
    )
    q.awaitTermination(120)

    allv.where(F.col("id") >= 70).write.mode("append").parquet(src)
    q2 = foreach_batch_ivf_ingest(
        spark.readStream.schema("id long, vector array<float>").parquet(src),
        path,
        f"{tmp}/ckpt1",
        trigger_once=True,
    )
    q2.awaitTermination(120)

    stored, cents2 = ivf_read(spark, path)
    assert cents2 == cents
    want = {(r.id, r.cell) for r in _assign_cells(allv, cents).collect()}
    assert {(r.id, r.cell) for r in stored.collect()} == want

    # redelivery: same source, FRESH checkpoint -> anti-join eats it all
    q3 = foreach_batch_ivf_ingest(
        spark.readStream.schema("id long, vector array<float>").parquet(src),
        path,
        f"{tmp}/ckpt_redeliver",
        trigger_once=True,
    )
    q3.awaitTermination(120)
    stored2, _ = ivf_read(spark, path)
    assert stored2.count() == 90


def test_streaming_histogram_drift_equals_batch(spark):
    """Streamed histogram accumulation == the batch histogram after
    any number of micro-batches, and chi-square drift of the streamed
    state vs a reference equals sketch.distribution_drift on the same
    split — streamed-then-compared is the batch computation exactly."""
    import math

    from vector_database_spark.operators import sketch as sk
    from vector_database_spark.streaming.monitor import (
        drift_vs_reference,
        read_histogram,
        streaming_histogram_ingest,
    )

    tmp = tempfile.mkdtemp()
    src, state = f"{tmp}/src", f"{tmp}/state"
    rows = [(i, "t%d" % (i % 3), float((i * 37) % 19) - 3.0) for i in range(400)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    a = df.where(F.col("event_id") % 2 == 0)
    b = df.where(F.col("event_id") % 2 == 1)
    a.where(F.col("event_id") < 200).write.parquet(src)
    q = streaming_histogram_ingest(
        spark.readStream.schema("event_id long, event_type string, value double").parquet(src),
        state, f"{tmp}/ckpt", value_col="value", lo=-5.0, hi=15.0,
        n_bins=8, group_cols=["event_type"], trigger_once=True,
    )
    q.awaitTermination(120)
    a.where(F.col("event_id") >= 200).write.mode("append").parquet(src)
    q2 = streaming_histogram_ingest(
        spark.readStream.schema("event_id long, event_type string, value double").parquet(src),
        state, f"{tmp}/ckpt", value_col="value", lo=-5.0, hi=15.0,
        n_bins=8, group_cols=["event_type"], trigger_once=True,
    )
    q2.awaitTermination(120)

    cur = read_histogram(spark, state, group_cols=["event_type"])
    # reference = batch histogram of the OTHER half
    from vector_database_spark.streaming.monitor import _bin_expr

    val, bexp = _bin_expr("value", -5.0, 15.0, 8)
    ref = (
        b.where(val.isNotNull())
        .select("event_type", bexp.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # streamed state == batch histogram of half A
    want_hist = {
        (r.event_type, r.bin): r.c
        for r in a.select("event_type", bexp.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .collect()
    }
    got_hist = {(r.event_type, r.bin): r.c for r in cur.collect()}
    assert got_hist == want_hist

    got = {
        r.event_type: (r.n_a, r.n_b, r.bins_used, r.chi2)
        for r in drift_vs_reference(
            cur, ref, group_cols=["event_type"]
        ).collect()
    }
    want = {
        r.event_type: (r.n_a, r.n_b, r.bins_used, r.chi2)
        for r in sk.distribution_drift(
            a, b, "value", lo=-5.0, hi=15.0, n_bins=8,
            group_cols=["event_type"],
        ).collect()
    }
    assert set(got) == set(want) and got
    for k in got:
        assert got[k][:3] == want[k][:3]
        assert math.isclose(got[k][3], want[k][3], rel_tol=0, abs_tol=0.0)


def test_streaming_quantile_sketch_equals_batch_across_restarts(spark):
    """The mergeable quantile sketch's streaming twin: per-batch
    bottom-m states merged across batch dirs (and across a query
    RESTART) equal the batch sketch over all rows bit-for-bit —
    order-independence of hash sampling is the contract."""
    from vector_database_spark.operators import sketch as sk
    from vector_database_spark.streaming.monitor import (
        read_quantile_sketch,
        streaming_quantile_sketch_ingest,
    )

    tmp = tempfile.mkdtemp()
    src, state = f"{tmp}/src", f"{tmp}/state"
    rows = [
        (i, "t%d" % (i % 2), float((i * 37) % 101) / 7.0) for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    ddl = "event_id long, event_type string, value double"
    df.where(F.col("event_id") < 250).write.parquet(src)
    q = streaming_quantile_sketch_ingest(
        spark.readStream.schema(ddl).parquet(src),
        state, f"{tmp}/ckpt",
        id_col="event_id", key_cols=["event_type"], m=32,
        trigger_once=True,
    )
    q.awaitTermination(120)
    df.where(F.col("event_id") >= 250).write.mode("append").parquet(src)
    # restart from the same checkpoint — only the new files process
    q2 = streaming_quantile_sketch_ingest(
        spark.readStream.schema(ddl).parquet(src),
        state, f"{tmp}/ckpt",
        id_col="event_id", key_cols=["event_type"], m=32,
        trigger_once=True,
    )
    q2.awaitTermination(120)

    merged = read_quantile_sketch(
        spark, state, key_cols=["event_type"], m=32
    )
    want_state = sk.quantile_sketch(
        df, id_col="event_id", key_cols=["event_type"], m=32
    )
    key = lambda r: r.event_type  # noqa: E731
    got = {key(r): (r.n, list(r.hs), list(r.ids), list(r.vs))
           for r in merged.collect()}
    want = {key(r): (r.n, list(r.hs), list(r.ids), list(r.vs))
            for r in want_state.collect()}
    assert got == want
    # and the rank picks agree too
    gq = {r.event_type: (r.n, r.sample_n, r.p50, r.p90, r.p99)
          for r in sk.quantile_sketch_query(
              merged, key_cols=["event_type"]).collect()}
    wq = {r.event_type: (r.n, r.sample_n, r.p50, r.p90, r.p99)
          for r in sk.quantile_sketch_query(
              want_state, key_cols=["event_type"]).collect()}
    assert gq == wq


def test_streaming_hll_equals_batch_across_restarts(spark):
    """Streamed HLL registers max-merged across batch dirs (and a
    restart) == the batch registers over all rows — and therefore the
    identical estimate."""
    from vector_database_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )
    from vector_database_spark.streaming.monitor import (
        read_hll,
        streaming_hll_ingest,
    )

    tmp = tempfile.mkdtemp()
    src, state = f"{tmp}/src", f"{tmp}/state"
    rows = [(i, "t%d" % (i % 2), (i * 13) % 900) for i in range(3000)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long"
    )
    ddl = "event_id long, event_type string, user_id long"
    df.where(F.col("event_id") < 1500).write.parquet(src)
    q = streaming_hll_ingest(
        spark.readStream.schema(ddl).parquet(src),
        state, f"{tmp}/ckpt", value_col="user_id",
        key_cols=["event_type"], trigger_once=True,
    )
    q.awaitTermination(120)
    df.where(F.col("event_id") >= 1500).write.mode("append").parquet(src)
    q2 = streaming_hll_ingest(
        spark.readStream.schema(ddl).parquet(src),
        state, f"{tmp}/ckpt", value_col="user_id",
        key_cols=["event_type"], trigger_once=True,
    )
    q2.awaitTermination(120)
    merged = read_hll(spark, state, key_cols=["event_type"])
    want = hll_registers(df, value_col="user_id", key_cols=["event_type"])
    unpack = lambda d: sorted(  # noqa: E731
        (r.event_type, r.bucket, r.reg) for r in d.collect()
    )
    assert unpack(merged) == unpack(want)
    ge = {
        r.event_type: (r.estimate, r.denom_scaled)
        for r in hll_estimate(merged, key_cols=["event_type"]).collect()
    }
    we = {
        r.event_type: (r.estimate, r.denom_scaled)
        for r in hll_estimate(want, key_cols=["event_type"]).collect()
    }
    assert ge == we


def test_streaming_bloom_equals_batch_across_restarts(spark):
    """Streamed Bloom lanes bit_or-merged across batch dirs (and a
    restart) == the batch build over all keys — identical bits,
    identical membership verdicts."""
    from vector_database_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
    )
    from vector_database_spark.streaming.monitor import (
        read_bloom,
        streaming_bloom_ingest,
    )

    tmp = tempfile.mkdtemp()
    src, state = f"{tmp}/src", f"{tmp}/state"
    df = spark.range(2000).select(F.col("id").alias("key"))
    ddl = "key long"
    df.where(F.col("key") < 1000).write.parquet(src)
    q = streaming_bloom_ingest(
        spark.readStream.schema(ddl).parquet(src),
        state, f"{tmp}/ckpt", trigger_once=True,
    )
    q.awaitTermination(120)
    df.where(F.col("key") >= 1000).write.mode("append").parquet(src)
    q2 = streaming_bloom_ingest(
        spark.readStream.schema(ddl).parquet(src),
        state, f"{tmp}/ckpt", trigger_once=True,
    )
    q2.awaitTermination(120)
    merged = read_bloom(spark, state)
    want = bloom_build(df)
    unpack = lambda d: sorted((r.lane, r.bits) for r in d.collect())  # noqa: E731
    assert unpack(merged) == unpack(want)
    probes = spark.range(4000).select(F.col("id").alias("key"))
    res = bloom_probe(merged, probes)
    assert res.where((F.col("key") < 2000) & ~F.col("present")).count() == 0


def test_streaming_kmv_equals_batch_across_restarts(spark):
    """Streamed bottom-k KMV state merged across batch dirs (and a
    restart) == the one-shot batch sketch over all keys — identical
    mins array, so set estimates downstream are identical too."""
    from vector_database_spark.operators.sketch import (
        kmv_set_estimates,
        kmv_sketch,
    )
    from vector_database_spark.streaming.monitor import (
        read_kmv,
        streaming_kmv_ingest,
    )

    tmp = tempfile.mkdtemp()
    src, state = f"{tmp}/src", f"{tmp}/state"
    df = spark.range(3000).select(F.col("id").alias("key"))
    ddl = "key long"
    df.where(F.col("key") < 1500).write.parquet(src)
    q = streaming_kmv_ingest(
        spark.readStream.schema(ddl).parquet(src),
        state, f"{tmp}/ckpt", k=64, trigger_once=True,
    )
    q.awaitTermination(120)
    df.where(F.col("key") >= 1500).write.mode("append").parquet(src)
    q2 = streaming_kmv_ingest(
        spark.readStream.schema(ddl).parquet(src),
        state, f"{tmp}/ckpt", k=64, trigger_once=True,
    )
    q2.awaitTermination(120)
    merged = read_kmv(spark, state, k=64)
    want = kmv_sketch(df, "key", k=64)
    assert list(merged.first()["mins"]) == list(want.first()["mins"])
    # the merged sketch drops straight into the set-ops estimator
    other = kmv_sketch(
        spark.range(2000, 5000).select(F.col("id").alias("key")),
        "key", k=64,
    )
    est = kmv_set_estimates(merged, other, k=64).first()
    ref = kmv_set_estimates(want, other, k=64).first()
    assert est == ref


def test_read_bloom_backfills_legacy_geometry(spark):
    """State dirs written before round-9 geometry binding carry only
    (lane, bits); read_bloom must backfill the historical defaults
    (16384, 3) and merge them with new-format batches instead of
    failing on the missing columns (round-9 ADVICE)."""
    from vector_database_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
    )
    from vector_database_spark.streaming.monitor import read_bloom

    tmp = tempfile.mkdtemp()
    df = spark.range(2000).select(F.col("id").alias("key"))
    # legacy batch: geometry columns stripped (pre-r9 wire format)
    bloom_build(df.where(F.col("key") < 1000)).select(
        "lane", "bits"
    ).write.parquet(f"{tmp}/state/batch=0")
    # new-format batch with the same (default) geometry
    bloom_build(df.where(F.col("key") >= 1000)).write.parquet(
        f"{tmp}/state/batch=1"
    )
    merged = read_bloom(spark, f"{tmp}/state")
    want = bloom_build(df)
    unpack = lambda d: sorted(  # noqa: E731
        (r.lane, r.bits, r.n_bits, r.k) for r in d.collect()
    )
    assert unpack(merged) == unpack(want)
    probes = spark.range(3000).select(F.col("id").alias("key"))
    res = bloom_probe(merged, probes)
    assert res.where((F.col("key") < 2000) & ~F.col("present")).count() == 0
