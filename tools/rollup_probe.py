"""Time-series family throughput probe at synthetic scale.

Generates N deterministic events (spark.range — no driver data), then
times, end-to-end with a noop sink:

* finest-level rollup (minute buckets, OHLC struct state),
* the same with ``first_last=False`` (pure-HashAggregate metrics shape),
* the minute->hour cascade on top,
* gapfill over the hourly level,
* per-key time-weighted average.

Usage: python tools/rollup_probe.py [n_events] [n_keys]
Prints one JSON line with events/sec per operator (best of 2).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_database_spark import get_spark
from vector_database_spark.operators import timeseries as ts


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    spark = get_spark(
        app_name="rollup-probe",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    # ~30 days of events, deterministic values, n_keys event types
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + (
                F.abs(F.hash(F.col("id"), F.lit(7)).cast("long"))
                % (30 * 86_400)
            )
            * 1_000_000
        ).alias("ts"),
        F.concat(F.lit("k"), (F.col("id") % n_keys).cast("string")).alias(
            "event_type"
        ),
        (F.abs(F.hash(F.col("id"), F.lit(9)).cast("long")) % 100_000
         / 100.0).alias("value"),
        (F.col("id") % 1000).alias("user_id"),
    )

    def bench(name, thunk, timings, passes=2):
        best = None
        for _ in range(passes):
            t0 = time.time()
            thunk().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 2)

    t: dict[str, float] = {}
    bench("rollup_minute_ohlc", lambda: ts.rollup_events(ev, 60), t)
    bench(
        "rollup_minute_metrics",
        lambda: ts.rollup_events(ev, 60, first_last=False),
        t,
    )
    bench(
        "cascade_minute_to_hour",
        lambda: ts.cascade_rollup(
            ts.rollup_events(ev, 60, first_last=False), 3600,
            finer_width_s=60,
        ),
        t,
    )
    bench(
        "gapfill_hour",
        lambda: ts.gapfill(
            ts.rollup_events(ev, 3600, first_last=False), 3600
        ),
        t,
    )
    bench(
        "time_weighted_avg",
        lambda: ts.time_weighted_avg(ev, key_cols=("user_id",)),
        t,
    )
    print(
        json.dumps(
            {
                "n_events": n,
                "n_keys": n_keys,
                "sec": t,
                "events_per_sec": {
                    k: int(n / v) if v > 0 else None for k, v in t.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
