"""Hypertable rollup contracts: cascade exactness, merge-ability
(incremental maintenance), finalize projection, width validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tests.conftest import SF_DIR
from vector_database_spark.operators import timeseries as ts
from vector_database_spark.workload import _events


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


@pytest.fixture(scope="module")
def events(spark):
    return _events(spark, SF_DIR)


def test_cascade_equals_direct(spark, events):
    """hour-from-minutes must equal hour-from-raw bit for bit: the
    mergeable state (integer sums, min/max, orderable first/last
    structs) is the whole design."""
    minute, hour = ts.hypertable_rollup(events, (60, 3600))
    direct = ts.rollup_events(events, 3600)
    assert _sorted_rows(ts.finalize_rollup(hour)) == _sorted_rows(
        ts.finalize_rollup(direct)
    )


def test_merge_equals_full(spark, events):
    """merge(rollup(A), rollup(B)) == rollup(A union B) — the
    foreachBatch incremental-refresh contract, including a key that
    straddles the split (same bucket present in both halves)."""
    a = events.where(F.col("event_id") % 2 == 0)
    b = events.where(F.col("event_id") % 2 == 1)
    merged = ts.merge_rollup(ts.rollup_events(a, 60), ts.rollup_events(b, 60))
    full = ts.rollup_events(events, 60)
    assert _sorted_rows(ts.finalize_rollup(merged)) == _sorted_rows(
        ts.finalize_rollup(full)
    )


def test_first_last_deterministic_on_ts_ties(spark):
    """Equal timestamps break ties on id — min/max of the (ts, id, v)
    struct, not engine-chosen first/last."""
    rows = [
        (1, "2024-01-01 00:00:07", "a", 5.0),
        (2, "2024-01-01 00:00:07", "a", 3.0),
        (3, "2024-01-01 00:00:09", "a", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = ts.finalize_rollup(ts.rollup_events(df, 60)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["first_value"] == 5.0  # id 1 beats id 2 at the tied ts
    assert r["last_value"] == 9.0
    assert r["n"] == 3 and r["min_value"] == 3.0 and r["max_value"] == 9.0


def test_finalize_schema_and_bucket_alignment(spark, events):
    minute = ts.rollup_events(events, 60)
    fin = ts.finalize_rollup(minute)
    assert fin.columns == [
        "bucket_s", "event_type", "n", "sum_micros",
        "min_value", "max_value", "first_value", "last_value",
    ]
    misaligned = fin.where(F.col("bucket_s") % 60 != 0).count()
    assert misaligned == 0
    # conservation: bucket counts sum to the input row count
    assert (
        fin.agg(F.sum("n")).collect()[0][0] == events.count()
    )


def test_non_nesting_widths_rejected(spark, events):
    with pytest.raises(ValueError):
        ts.hypertable_rollup(events, (60, 90))
    with pytest.raises(ValueError):
        ts.hypertable_rollup(events, ())


def _write_event_files(spark, src: str, start_id: int, n: int, mode="append"):
    rows = [
        (
            start_id + i,
            f"2024-01-01 {(i * 7) % 24:02d}:{(i * 13) % 60:02d}:{(i * 29) % 60:02d}",
            ["click", "view", "buy"][i % 3],
            round(0.5 + 3.7 * ((start_id + i) % 11), 3),
        )
        for i in range(n)
    ]
    df = (
        spark.createDataFrame(
            rows, "event_id long, ts_s string, event_type string, value double"
        )
        .withColumn("ts", F.col("ts_s").cast("timestamp_ntz"))
        .drop("ts_s")
    )
    df.coalesce(1).write.mode(mode).parquet(src)
    return df


def test_streaming_rollup_matches_batch_across_restarts(spark):
    """Continuous-aggregate contract: after any number of micro-
    batches, compactions, and query restarts, read_rollup == the
    batch rollup of every event ever ingested — at the stored finest
    resolution AND cascaded coarser."""
    import tempfile as _tf

    from vector_database_spark.streaming.rollup import (
        read_rollup,
        streaming_rollup_ingest,
    )

    tmp = _tf.mkdtemp()
    src, ckpt, state = f"{tmp}/src", f"{tmp}/ckpt", f"{tmp}/state"
    _write_event_files(spark, src, 0, 40, mode="overwrite")

    def run():
        stream = (
            spark.readStream.schema(
                "event_id long, event_type string, value double,"
                " ts timestamp_ntz"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_rollup_ingest(
            stream, state, finest_s=60, checkpoint=ckpt, compact_every=2
        )
        q.awaitTermination(180)

    # three more files -> four micro-batches total, compaction at 2
    _write_event_files(spark, src, 40, 25)
    _write_event_files(spark, src, 65, 25)
    _write_event_files(spark, src, 90, 30)
    run()

    all_events = spark.read.parquet(src)
    got = ts.finalize_rollup(read_rollup(spark, state))
    want = ts.finalize_rollup(ts.rollup_events(all_events, 60))
    assert _sorted_rows(got) == _sorted_rows(want)

    # restart with new data: state continues through the checkpoint
    _write_event_files(spark, src, 120, 35)
    run()
    all_events = spark.read.parquet(src)
    got2 = ts.finalize_rollup(read_rollup(spark, state, width_s=3600))
    want2 = ts.finalize_rollup(
        ts.cascade_rollup(ts.rollup_events(all_events, 60), 3600)
    )
    assert _sorted_rows(got2) == _sorted_rows(want2)

    # compaction actually ran: at most compact_every deltas remain
    import os as _os

    deltas = [
        d for d in _os.listdir(f"{state}/delta") if d.startswith("batch=")
    ]
    assert len(deltas) <= 4
    assert _os.path.isdir(f"{state}/base")


def test_streaming_ewma_matches_batch_fold(spark):
    """Keyed-state streaming EWMA: per-key state persists across
    availableNow restarts and equals the batch left-to-right fold
    (the e07 semantics) when events arrive in event-time order
    across batches."""
    import tempfile as _tf

    from vector_database_spark.streaming.stateful import streaming_ewma

    tmp = _tf.mkdtemp()
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    schema = "event_id long, user_id long, ts_s string, value double"
    b1 = [
        (1, 1, "2024-01-01 10:00:00", 4.0),
        (2, 1, "2024-01-01 10:01:00", 8.0),
        (3, 2, "2024-01-01 10:00:30", 1.0),
        (4, 1, "2024-01-01 10:01:00", 6.0),  # ts tie -> id order
    ]
    b2 = [
        (5, 1, "2024-01-01 10:05:00", 2.0),
        (6, 2, "2024-01-01 10:06:00", 3.0),
        (7, 3, "2024-01-01 10:07:00", 9.5),
    ]

    def write(rows):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.col("ts_s").cast("timestamp_ntz"))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    def run(out):
        stream = spark.readStream.schema(
            "event_id long, user_id long, value double, ts timestamp_ntz"
        ).parquet(src)

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(out)

        q = (
            streaming_ewma(stream, alpha=0.25)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    write(b1)
    run(f"{tmp}/out1")
    write(b2)
    run(f"{tmp}/out2")

    got = {
        r.user_id: (r.n_events, round(r.ewma, 9))
        for r in spark.read.parquet(f"{tmp}/out2").collect()
    }

    def fold(vals):
        acc = vals[0]
        for x in vals[1:]:
            acc = 0.75 * acc + 0.25 * x
        return (len(vals), round(acc, 9))

    # per-key event-time order, ties by event_id
    assert got[1] == fold([4.0, 8.0, 6.0, 2.0])
    assert got[2] == fold([1.0, 3.0])
    assert got[3] == fold([9.5])


def test_metrics_rollup_is_pure_hash_aggregate(spark, events):
    """first_last=False keeps every aggregation buffer fixed-width:
    the whole cascade must plan as HashAggregate (no sort-based
    fallback anywhere) — the 100 TB metrics shape."""
    minute, hour = ts.hypertable_rollup(events, (60, 3600), first_last=False)
    plan = hour._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan and "ObjectHashAggregate" not in plan
    # and it still merges + finalizes (no first/last columns)
    fin = ts.finalize_rollup(hour)
    assert fin.columns == [
        "bucket_s", "event_type", "n", "sum_micros", "min_value", "max_value",
    ]
    merged = ts.merge_rollup(minute, minute)
    got = {
        (r["bucket_s"], r["event_type"]): r["n"]
        for r in ts.finalize_rollup(merged).collect()
    }
    want = {
        (r["bucket_s"], r["event_type"]): 2 * r["n"]
        for r in ts.finalize_rollup(minute).collect()
    }
    assert got == want


def test_gapfill_contracts(spark):
    """Dense grid, locf carry, exact linear interp on a crafted
    series with a 3-bucket gap; leading buckets stay NULL (no
    observation to carry), trailing gaps locf but never interp."""
    rows = [
        (1, 120, "k", 10.0),
        (2, 240, "k", 40.0),   # gap at 180: interp midpoint 25
        (3, 480, "k", 100.0),  # gap 300/360/420: interp 55/70/85
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s long, event_type string, value double"
    ).withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
    level = ts.rollup_events(df, 60, first_last=False)
    out = {
        r["bucket_s"]: r
        for r in ts.gapfill(level, 60, value_col="sum_micros").collect()
    }
    assert sorted(out) == list(range(120, 481, 60))
    m = 1_000_000
    assert out[180]["value"] is None
    assert out[180]["value_locf"] == 10.0 * m
    assert out[180]["value_interp"] == 25.0 * m
    assert out[300]["value_interp"] == 55.0 * m
    assert out[420]["value_interp"] == 85.0 * m
    assert out[240]["value"] == out[240]["value_interp"] == 40.0 * m


def test_gapfill_explicit_span_and_edges(spark):
    """An explicit [start, end) span pads beyond the data; buckets
    before the first observation have NULL locf AND NULL interp,
    buckets after the last have locf but NULL interp."""
    rows = [(1, 120, "k", 7.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s long, event_type string, value double"
    ).withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
    level = ts.rollup_events(df, 60, first_last=False)
    out = {
        r["bucket_s"]: r
        for r in ts.gapfill(
            level, 60, value_col="sum_micros", start_s=0, end_s=240
        ).collect()
    }
    assert sorted(out) == [0, 60, 120, 180]
    assert out[0]["value_locf"] is None and out[0]["value_interp"] is None
    assert out[180]["value_locf"] == 7.0 * 1_000_000
    assert out[180]["value_interp"] is None


def test_funnel_greedy_chain_and_window(spark):
    """The chain is greedy-earliest in (ts, event_id) order; a step
    landing past the within_s deadline breaks the chain for every
    later step even if a later event would fit."""
    rows = [
        # u1: full chain inside the window
        (1, 100, 1, "view"), (2, 200, 1, "click"), (3, 300, 1, "purchase"),
        # u2: click precedes the first view -> depth 1
        (4, 100, 2, "click"), (5, 200, 2, "view"),
        # u3: greedy click at 150 (not 500); purchase before it ignored
        (6, 100, 3, "view"), (7, 150, 3, "click"), (8, 500, 3, "click"),
        (9, 120, 3, "purchase"),
        # u4: click past the 1000s window -> depth 1, purchase unreachable
        (10, 100, 4, "view"), (11, 2000, 4, "click"),
        (12, 2100, 4, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s long, user_id long, event_type string"
    ).withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
    out = {
        r["user_id"]: r
        for r in ts.funnel_steps(
            df, ["view", "click", "purchase"], within_s=1000
        ).collect()
    }
    assert out[1]["funnel_depth"] == 3
    assert out[2]["funnel_depth"] == 1 and out[2]["ts_step2"] is None
    assert out[3]["funnel_depth"] == 2
    assert out[3]["ts_step2"].timestamp() == 150
    assert out[3]["ts_step3"] is None  # purchase@120 precedes the click
    assert out[4]["funnel_depth"] == 1 and out[4]["ts_step2"] is None


def test_funnel_ts_tie_breaks_on_event_id(spark):
    """Same-timestamp events order by event_id: a click sharing the
    view's timestamp but with a HIGHER id counts as after it."""
    rows = [(5, 100, 1, "view"), (6, 100, 1, "click"),
            (4, 100, 2, "view"), (3, 100, 2, "click")]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s long, user_id long, event_type string"
    ).withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
    out = {
        r["user_id"]: r
        for r in ts.funnel_steps(df, ["view", "click"]).collect()
    }
    assert out[1]["funnel_depth"] == 2   # id 6 > id 5 at equal ts
    assert out[2]["funnel_depth"] == 1   # id 3 < id 4: click not after


def test_pre_epoch_bucketing_floors(spark):
    """`div` truncates toward zero; bucketing must FLOOR so pre-1970
    timestamps land in their own bucket (matching DuckDB // and
    TimescaleDB time_bucket), never a double-width 'bucket 0'."""
    rows = [(1, -30, "k", 1.0), (2, 30, "k", 1.0), (3, -90, "k", 1.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s long, event_type string, value double"
    ).withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
    lev = ts.rollup_events(df, 60, first_last=False)
    got = {r["bucket_s"]: r["n"] for r in lev.collect()}
    assert got == {-120: 1, -60: 1, 0: 1}
    # cascade floors too: -120/-60 nest into -3600, not 0
    hour = ts.cascade_rollup(lev, 3600, finer_width_s=60)
    got2 = {r["bucket_s"]: r["n"] for r in hour.collect()}
    assert got2 == {-3600: 2, 0: 1}


def test_cascade_validates_nesting_width(spark, events):
    lev = ts.rollup_events(events, 60, first_last=False)
    with pytest.raises(ValueError, match="multiple"):
        ts.cascade_rollup(lev, 90, finer_width_s=60)


def test_merge_many_equals_full(spark, events):
    """One union + one aggregate over k parts == the full rollup."""
    parts = [
        ts.rollup_events(events.where(F.col("event_id") % 3 == i), 60)
        for i in range(3)
    ]
    got = ts.finalize_rollup(ts.merge_rollup_many(parts))
    want = ts.finalize_rollup(ts.rollup_events(events, 60))
    assert _sorted_rows(got) == _sorted_rows(want)


def test_read_rollup_ignores_uncommitted_dirs(spark):
    """A base/delta dir without _SUCCESS (crash mid-write) must be
    invisible: readers use the newest COMMITTED base plus newer
    committed deltas, so the pre-crash state still reads exactly."""
    import os as _os
    import tempfile as _tf

    from vector_database_spark.streaming.rollup import (
        read_rollup,
        streaming_rollup_ingest,
    )

    tmp = _tf.mkdtemp()
    src, ckpt, state = f"{tmp}/src", f"{tmp}/ckpt", f"{tmp}/state"
    _write_event_files(spark, src, 0, 40, mode="overwrite")
    _write_event_files(spark, src, 40, 25)
    stream = (
        spark.readStream.schema(
            "event_id long, event_type string, value double,"
            " ts timestamp_ntz"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_rollup_ingest(
        stream, state, finest_s=60, checkpoint=ckpt, compact_every=99
    )
    q.awaitTermination(180)
    want = _sorted_rows(ts.finalize_rollup(read_rollup(spark, state)))

    # simulate a compaction crash: a partial base dir, no _SUCCESS
    broken = f"{state}/base/upto=999"
    _os.makedirs(broken)
    with open(f"{broken}/part-00000.parquet", "wb") as f:
        f.write(b"not parquet")
    got = _sorted_rows(ts.finalize_rollup(read_rollup(spark, state)))
    assert got == want


def test_retention_cohorts_multi_cohort(spark):
    """Crafted two-cohort data: offsets count only each cohort's own
    users; a user active twice in one period counts once."""
    W = 7 * 86_400
    rows = [
        # cohort 0: users 1,2 start week 0; user 1 returns week 1 twice
        (1, 1, 0), (2, 2, 10), (3, 1, W), (4, 1, W + 5),
        # cohort 1: user 3 starts week 1, returns week 3
        (5, 3, W + 20), (6, 3, 3 * W),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s long"
    ).withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
    got = {
        (r["cohort_s"], r["period_offset"]): r["n_users"]
        for r in ts.retention_cohorts(df).collect()
    }
    assert got == {(0, 0): 2, (0, 1): 1, (W, 0): 1, (W, 2): 1}


def test_streaming_funnel_matches_batch(spark):
    """Keyed-state streaming funnel: chains assemble across
    micro-batches and equal the batch operator on the full history
    (event-time-ordered arrival), including a chain that dies at the
    deadline in a later batch."""
    import tempfile as _tf

    from vector_database_spark.streaming.stateful import streaming_funnel

    tmp = _tf.mkdtemp()
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    schema = "event_id long, user_id long, ts_s long, event_type string"
    b1 = [
        (1, 1, 100, "view"), (2, 1, 200, "click"),
        (3, 2, 100, "view"),
        (4, 3, 50, "click"),  # click before any view: never anchors
    ]
    b2 = [
        (5, 1, 300, "purchase"),          # completes u1 across batches
        (6, 2, 2000, "click"),            # past the 1000s window: dead
        (7, 2, 2100, "purchase"),
        (8, 3, 60, "view"),               # anchors after the stray click
        (9, 3, 70, "click"),
    ]

    def write(rows):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    def run(out):
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string,"
            " ts timestamp_ntz"
        ).parquet(src)

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(out)

        q = (
            streaming_funnel(
                stream, ["view", "click", "purchase"], within_s=1000
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    write(b1)
    run(f"{tmp}/out1")
    write(b2)
    run(f"{tmp}/out2")

    got = {
        r["user_id"]: (
            r["us_step1"], r["us_step2"], r["us_step3"], r["funnel_depth"]
        )
        for r in spark.read.parquet(f"{tmp}/out2").collect()
    }
    batch = ts.funnel_steps(
        spark.read.parquet(src), ["view", "click", "purchase"],
        within_s=1000,
    )
    want = {
        r["user_id"]: (
            int(r["ts_step1"].timestamp() * 1e6),
            int(r["ts_step2"].timestamp() * 1e6) if r["ts_step2"] else None,
            int(r["ts_step3"].timestamp() * 1e6) if r["ts_step3"] else None,
            r["funnel_depth"],
        )
        for r in batch.collect()
    }
    assert got == want
    assert got[1][3] == 3 and got[2][3] == 1 and got[3][3] == 2


def test_time_weighted_avg_known_values(spark):
    """LOCF weighting: v held until next event; single-event keys
    have zero span and NULL twa."""
    rows = [
        (1, 1, 0, 10.0), (2, 1, 10, 20.0), (3, 1, 30, 0.0),
        (4, 2, 5, 99.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s long, value double"
    ).withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
    out = {r["user_id"]: r for r in ts.time_weighted_avg(df).collect()}
    # (10*10 + 20*20) / 30 = 16.666667
    assert out[1]["n_events"] == 3
    assert out[1]["span_us"] == 30 * 1_000_000
    assert out[1]["twa"] == 16.666667
    assert out[2]["twa"] is None and out[2]["span_us"] is None


def test_streaming_funnel_pre_epoch_timestamps(spark):
    """Regression: the state's -1 slot init must not be read as
    'unset' for legitimate pre-1970 timestamps — slots are valid iff
    the chain reached them (depth), never by value."""
    import tempfile as _tf

    from vector_database_spark.streaming.stateful import streaming_funnel

    tmp = _tf.mkdtemp()
    rows = [(1, 1, -120, "view"), (2, 1, -60, "click")]
    (
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts_s long, event_type string"
        )
        .withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
        .drop("ts_s")
        .coalesce(1)
        .write.parquet(f"{tmp}/src")
    )
    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, ts timestamp_ntz"
    ).parquet(f"{tmp}/src")
    got = []

    def sink(bdf, bid):
        got.extend(bdf.collect())

    q = (
        streaming_funnel(stream, ["view", "click"])
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(got) == 1
    r = got[0]
    assert r["funnel_depth"] == 2
    assert r["us_step1"] == -120_000_000 and r["us_step2"] == -60_000_000


def _py_chunked_ewma(vals, alpha, ch):
    """Pure-Python replay of timeseries.ewma's fixed FP grouping:
    per-chunk sequential (A, B) folds + sequential chunk composition."""
    chunks = [vals[i : i + ch] for i in range(0, len(vals), ch)]
    acc = None
    for ci, c in enumerate(chunks):
        if ci == 0:
            acc = c[0]
            for x in c[1:]:
                acc = acc * (1.0 - alpha) + x * alpha
        else:
            a, b = 1.0, 0.0
            for x in c:
                a = a * (1.0 - alpha)
                b = b * (1.0 - alpha) + x * alpha
            acc = acc * a + b
    return acc


def test_ewma_chunked_bit_exact_and_bounded(spark):
    """The bounded two-stage EWMA: (1) multi-chunk (chunk_rows=3)
    result is bit-identical to the pure-Python replay of the same
    chunking; (2) single-chunk equals the plain sequential fold
    bit-for-bit; (3) chunked vs plain agree to float tolerance."""
    import random

    rng = random.Random(7)
    rows = [
        (i, u, i * 10, rng.uniform(-5, 5))
        for u in (1, 2)
        for i in range(1, 24)
    ]
    df = (
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts_s long, value double"
        )
        .withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
        .drop("ts_s")
    )
    per_user = {}
    for _, u, _ts, v in sorted(rows):
        per_user.setdefault(u, []).append(v)
    for ch in (3, 1000):
        out = {
            r["user_id"]: r
            for r in ts.ewma(df, alpha=0.25, chunk_rows=ch).collect()
        }
        for u, vals in per_user.items():
            expect = _py_chunked_ewma(vals, 0.25, ch)
            assert out[u]["n_events"] == len(vals)
            assert out[u]["ewma"] == expect, (u, ch)
    # plain fold == single-chunk path
    plain = {}
    for u, vals in per_user.items():
        acc = vals[0]
        for x in vals[1:]:
            acc = acc * 0.75 + x * 0.25
        plain[u] = acc
    big = {
        r["user_id"]: r["ewma"]
        for r in ts.ewma(df, alpha=0.25, chunk_rows=1000).collect()
    }
    small = {
        r["user_id"]: r["ewma"]
        for r in ts.ewma(df, alpha=0.25, chunk_rows=3).collect()
    }
    for u in per_user:
        assert big[u] == plain[u]
        assert abs(small[u] - plain[u]) < 1e-9


def test_streaming_twa_matches_batch(spark):
    """Keyed-state streaming TWA: exact integer weighted sums carried
    across micro-batches (big-int-as-string state) equal the batch
    operator on the full history under event-time-ordered arrival."""
    import tempfile as _tf

    from vector_database_spark.streaming.stateful import streaming_twa

    tmp = _tf.mkdtemp()
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    schema = "event_id long, user_id long, ts_s long, value double"
    b1 = [
        (1, 1, 100, 2.5), (2, 1, 200, 4.0),
        (3, 2, 100, 7.25),               # single event: span 0, twa NULL
    ]
    b2 = [
        (4, 1, 400, 1.0),                # extends u1 across batches
        (5, 2, 150, -3.5),               # u2 gets a span
        (6, 2, 200, None),               # NULL value: dt in span, no weight
        (7, 2, 260, 2.0),
    ]

    def write(rows):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    def run(out):
        stream = spark.readStream.schema(
            "event_id long, user_id long, value double, ts timestamp_ntz"
        ).parquet(src)

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(out)

        q = (
            streaming_twa(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    write(b1)
    run(f"{tmp}/out1")
    write(b2)
    run(f"{tmp}/out2")

    got = {
        r["user_id"]: (r["n_events"], r["span_us"], r["twa"])
        for r in spark.read.parquet(f"{tmp}/out2").collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["span_us"], r["twa"])
        for r in ts.time_weighted_avg(spark.read.parquet(src)).collect()
    }
    assert got == want
    assert got[1][0] == 3 and got[1][1] == 300_000_000


def test_rollup_time_travel_as_of_batch(spark):
    """retain_history keeps superseded bases/deltas so
    read_rollup(as_of_batch=N) reproduces EXACTLY the batch rollup of
    the events ingested through batch N — at every N — while the
    default pruning mode raises on a pre-compaction as-of read."""
    import tempfile as _tf

    from vector_database_spark.streaming.rollup import (
        read_rollup,
        streaming_rollup_ingest,
    )

    tmp = _tf.mkdtemp()
    src, ckpt, state = f"{tmp}/src", f"{tmp}/ckpt", f"{tmp}/state"
    files = []
    files.append(_write_event_files(spark, src, 0, 30, mode="overwrite"))
    files.append(_write_event_files(spark, src, 30, 20))
    files.append(_write_event_files(spark, src, 50, 25))
    files.append(_write_event_files(spark, src, 75, 20))

    stream = (
        spark.readStream.schema(
            "event_id long, event_type string, value double,"
            " ts timestamp_ntz"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_rollup_ingest(
        stream, state, finest_s=60, checkpoint=ckpt, compact_every=2,
        retain_history=True,
    )
    q.awaitTermination(180)

    # every as-of snapshot equals the batch rollup of that prefix.
    # file->batch order is the stream's discovery order; recover it
    # from the retained delta ids (one file per trigger => one batch
    # per non-empty file).
    import os as _os

    delta_ids = sorted(
        int(d.split("=", 1)[1])
        for d in _os.listdir(f"{state}/delta")
        if d.startswith("batch=")
    )
    assert len(delta_ids) == 4  # retention kept every delta
    all_events = spark.read.parquet(src).orderBy("event_id").collect()
    # batches arrive in event_id order here (files written in order,
    # discovered in mtime order) — validate cumulatively instead of
    # assuming: the as-of snapshot at the k-th delta id must equal
    # SOME prefix union; assert against the running union of batches
    # reconstructed from the snapshot row counts themselves.
    prev_n = 0
    for k, bid in enumerate(delta_ids):
        snap = ts.finalize_rollup(
            read_rollup(spark, state, as_of_batch=bid)
        )
        rows = snap.collect()
        n_events = sum(r["n"] for r in rows)
        assert n_events > prev_n  # strictly growing history
        prev_n = n_events
    # the final as-of equals the full batch recompute
    got = ts.finalize_rollup(read_rollup(spark, state, as_of_batch=delta_ids[-1]))
    want = ts.finalize_rollup(
        ts.rollup_events(spark.read.parquet(src), 60)
    )
    assert _sorted_rows(got) == _sorted_rows(want)
    # and equals the current-state read
    cur = ts.finalize_rollup(read_rollup(spark, state))
    assert _sorted_rows(cur) == _sorted_rows(want)

    # pruning mode: a pre-compaction snapshot must refuse, not lie
    tmp2 = _tf.mkdtemp()
    src2, ckpt2, state2 = f"{tmp2}/src", f"{tmp2}/ckpt", f"{tmp2}/state"
    _write_event_files(spark, src2, 0, 30, mode="overwrite")
    _write_event_files(spark, src2, 30, 20)
    _write_event_files(spark, src2, 50, 25)
    _write_event_files(spark, src2, 75, 20)
    stream2 = (
        spark.readStream.schema(
            "event_id long, event_type string, value double,"
            " ts timestamp_ntz"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src2)
    )
    q2 = streaming_rollup_ingest(
        stream2, state2, finest_s=60, checkpoint=ckpt2, compact_every=2
    )
    q2.awaitTermination(180)
    bases = [
        int(d.split("=", 1)[1])
        for d in _os.listdir(f"{state2}/base")
        if d.startswith("upto=")
    ]
    assert bases
    import pytest as _pt

    with _pt.raises(ValueError, match="compacted away"):
        read_rollup(spark, state2, as_of_batch=0)


def test_e14_oracle_parity_pre_epoch(spark, tmp_path):
    """e14's phase arithmetic must agree between Spark (pmod floor
    form) and the DuckDB oracle (day-micros floor-mod first) for
    PRE-1970 timestamps — DuckDB's // truncates toward zero, so the
    naive (epoch // hour) % 24 form breaks below zero (review
    finding, round 4)."""
    import duckdb

    from vector_database_spark.workload import oracle_sql, queries

    rows = [
        (1, 1, "1969-12-31 23:30:00", "view", 1.5),   # phase 23
        (2, 1, "1969-12-31 00:10:00", "view", 2.5),   # phase 0
        (3, 2, "1970-01-01 05:45:00", "click", -4.0), # phase 5
        (4, 2, "1968-06-01 12:00:00", "click", 9.0),  # phase 12
    ]
    df = (
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts_s string,"
            " event_type string, value double"
        )
        .withColumn("ts", F.col("ts_s").cast("timestamp_ntz"))
        .drop("ts_s")
        .withColumn("props", F.lit("{}"))
    )
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/events.parquet")
    got = sorted(
        tuple(r)
        for r in queries()["e14_seasonal_profile"](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(oracle_sql()["e14_seasonal_profile"]).fetchall()
    )
    assert got == want
    phases = {r[0:2] for r in got}
    assert ("view", 23) in phases and ("click", 12) in phases


def test_streaming_transitions_matches_batch(spark):
    """O(1)-state streaming transition increments sum to the batch
    operator's matrix across micro-batches, including a chain that
    spans the batch boundary."""
    import tempfile as _tf

    from vector_database_spark.streaming.stateful import (
        streaming_transitions,
    )

    tmp = _tf.mkdtemp()
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    schema = "event_id long, user_id long, ts_s long, event_type string"
    b1 = [
        (1, 1, 100, "view"), (2, 1, 200, "click"),
        (3, 2, 100, "view"),
    ]
    b2 = [
        (4, 1, 300, "purchase"),          # click->purchase across batches
        (5, 2, 150, "view"), (6, 2, 160, "click"),
    ]

    def write(rows):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    got: list = []

    def run():
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string,"
            " ts timestamp_ntz"
        ).parquet(src)

        def sink(bdf, bid):
            got.extend(bdf.collect())

        q = (
            streaming_transitions(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    write(b1)
    run()
    write(b2)
    run()

    acc: dict = {}
    for r in got:
        k = (r["event_type"], r["next_type"])
        acc[k] = acc.get(k, 0) + r["n_batch"]
    ev = spark.read.parquet(src)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {
        (r["event_type"], r["next_type"]): r["n"] for r in batch.collect()
    }
    assert acc == want and acc[("click", "purchase")] == 1


def test_rolling_range_agg_peers_and_bounds(spark):
    """RANGE semantics: same-timestamp peers share one frame (both
    rows see both values); the window is inclusive at exactly
    ts - width; null values count 0 into the sum and 0 into n."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.timeseries import (
        rolling_range_agg,
    )

    rows = [
        # (event_id, user, epoch_us, value)
        (1, 7, 0, 1.0),
        (2, 7, 0, 2.0),              # peer of event 1
        (3, 7, 10_000_000, None),    # null value
        (4, 7, 3_600_000_000, 4.0),  # exactly width after t=0: included
        (5, 7, 3_610_000_001, 8.0),  # events 1,2 just fell out; 3,4 in
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, us long, value double"
    ).select(
        "event_id", "user_id", F.timestamp_micros("us").alias("ts"), "value"
    )
    got = {
        r.event_id: (r.n_window, r.sum_units)
        for r in rolling_range_agg(df, width_s=3600).collect()
    }
    assert got[1] == (2, 3_000_000) and got[2] == (2, 3_000_000)  # peers
    assert got[3] == (2, 3_000_000)
    assert got[4] == (3, 7_000_000)  # inclusive lower bound
    assert got[5] == (2, 12_000_000)


def test_interval_union_islands(spark):
    """Island semantics: overlaps merge, TOUCHING intervals merge,
    gaps split, nested intervals don't extend, and covered_us is the
    true union length."""
    from vector_database_spark.operators.timeseries import interval_union

    rows = [
        (1, 0, 10),    # island A
        (1, 10, 20),   # touches -> still island A
        (1, 12, 15),   # nested
        (1, 30, 40),   # island B
        (1, 35, 60),   # overlaps B
        (2, 5, 6),     # other key
    ]
    df = spark.createDataFrame(rows, "user_id long, start_us long, end_us long")
    got = {
        r.user_id: (r.n_intervals, r.n_islands, r.covered_us)
        for r in interval_union(df).collect()
    }
    assert got[1] == (5, 2, (20 - 0) + (60 - 30))
    assert got[2] == (1, 1, 1)


def test_ltob_downsample_matches_pandas_reference(spark):
    """LTOB vs a driver-side integer replay: neighbor areas, endpoint
    exclusion, deterministic (area desc, ts, id) tie-break."""
    import random as _random

    from vector_database_spark.operators.timeseries import ltob_downsample

    rng = _random.Random(4)
    rows = []
    eid = 0
    for key in ("a", "b"):
        t = 1_000_000_000  # epoch seconds scale, microsecond column below
        for _ in range(40):
            t += rng.randrange(1, 7200)  # 0-2h steps across 1h buckets
            rows.append((eid, key, t * 1_000_000, rng.uniform(-5, 5)))
            eid += 1
    # equal-timestamp pair: (ts, id) total order must disambiguate
    rows.append((eid, "a", rows[3][2], 1.25))

    df = spark.createDataFrame(
        [(i, k, __import__("datetime").datetime.utcfromtimestamp(us / 1e6), v)
         for i, k, us, v in rows],
        "event_id long, event_type string, ts timestamp, value double",
    )
    got = {
        (r["event_type"], r["bucket_s"]): (r["event_id"], r["ts_us"])
        for r in ltob_downsample(df, width_s=3600).collect()
    }

    import math

    by_key: dict = {}
    for i, k, us, v in rows:
        by_key.setdefault(k, []).append((us, i, math.floor(v * 1e6), v))
    want = {}
    for k, pts in by_key.items():
        pts.sort()
        best: dict = {}
        for j in range(1, len(pts) - 1):
            (xp, _, yp, _), (x, i, y, _), (xn, _, yn, _) = (
                pts[j - 1], pts[j], pts[j + 1]
            )
            a2 = abs((xp - xn) * (y - yp) - (xp - x) * (yn - yp))
            b = (x - (x % 3_600_000_000)) // 3_600_000_000 * 3600
            cur = best.get(b)
            if cur is None or (-a2, x, i) < cur[0]:
                best[b] = ((-a2, x, i), (i, x))
        for b, (_, sel) in best.items():
            want[(k, b)] = sel
    assert got == want


def test_last_touch_attribution_edges(spark):
    """Window expiry, touch-after-conversion exclusion, latest-touch
    wins, and the no-touch NULL row."""
    from datetime import datetime, timedelta

    from vector_database_spark.operators.timeseries import (
        last_touch_attribution,
    )

    t0 = datetime(2024, 1, 1)

    def ts(s):
        return t0 + timedelta(seconds=s)

    rows = [
        # user 1: click@0, view@50, purchase@60 -> view (latest touch)
        (1, 1, ts(0), "click"),
        (2, 1, ts(50), "view"),
        (3, 1, ts(60), "purchase"),
        # user 2: click@0, purchase@4000 -> outside 3600s window: NULL
        (4, 2, ts(0), "click"),
        (5, 2, ts(4000), "purchase"),
        # user 3: purchase@10, click@20 (after) -> NULL
        (6, 3, ts(10), "purchase"),
        (7, 3, ts(20), "click"),
        # user 4: same-ts touch with LOWER id counts (ts,id order)
        (8, 4, ts(5), "click"),
        (9, 4, ts(5), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {
        r["conversion_id"]: (r["touch_id"], r["touch_type"], r["lag_us"])
        for r in last_touch_attribution(
            df, conversion_type="purchase",
            touch_types=["click", "view"], window_s=3600,
        ).collect()
    }
    assert out[3] == (2, "view", 10_000_000)
    assert out[5] == (None, None, None)
    assert out[6] == (None, None, None)
    assert out[9] == (8, "click", 0)


def test_streaming_attribution_matches_batch(spark):
    """Keyed-state last-touch attribution: the touch carry survives
    across micro-batches and a checkpoint restart, conversions emit
    exactly once, and the union of batch outputs equals the batch
    operator on the full history (event-time-ordered arrival)."""
    import tempfile as _tf

    from vector_database_spark.streaming.stateful import (
        streaming_attribution,
    )

    tmp = _tf.mkdtemp()
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    schema = "event_id long, user_id long, ts_s long, event_type string"
    b1 = [
        (1, 1, 100, "click"),
        (2, 1, 150, "view"),      # latest touch before the conversion
        (3, 2, 100, "purchase"),  # no touch yet: NULL attribution
        (4, 3, 10, "click"),
    ]
    b2 = [
        (5, 1, 200, "purchase"),   # attributed to the view from b1
        (6, 2, 300, "click"),
        (7, 2, 310, "purchase"),   # in-batch touch wins
        (8, 3, 5000, "purchase"),  # b1 click outside the 1000s window
    ]

    def write(rows):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.timestamp_micros(F.col("ts_s") * 1_000_000))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    def run(out):
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string,"
            " ts timestamp_ntz"
        ).parquet(src)

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(out)

        q = (
            streaming_attribution(
                stream, conversion_type="purchase",
                touch_types=["click", "view"], window_s=1000,
            )
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    out = f"{tmp}/out"
    write(b1)
    run(out)
    write(b2)
    run(out)  # restart from the checkpoint: state must resume

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4  # one row per conversion, exactly once
    got = {
        r["conversion_id"]: (r["touch_id"], r["touch_type"], r["lag_us"])
        for r in rows
    }
    want_batch = ts.last_touch_attribution(
        spark.read.parquet(src),
        conversion_type="purchase", touch_types=["click", "view"],
        window_s=1000,
    )
    want = {
        r["conversion_id"]: (r["touch_id"], r["touch_type"], r["lag_us"])
        for r in want_batch.collect()
    }
    assert got == want
    assert got[5] == (2, "view", 50_000_000)
    assert got[3] == (None, None, None)
    assert got[7] == (6, "click", 10_000_000)
    assert got[8] == (None, None, None)
