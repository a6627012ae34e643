"""Hot-key survival probe for the per-key fold family.

The round-3 verdict's top item: one bot user with ~10M events must
NOT become a single multi-GB aggregation-buffer row (OOM). Plants a
synthetic corpus where ONE key owns `hot_n` events (default 10M) and
the rest are spread over `n_keys` normal keys, then runs

* funnel_steps (bounded conditional-min chain — O(steps) state/key),
* ewma (bounded two-stage chunked affine fold),
* e02's sessionize shape (lag + running-sum windows — external sort
  spills, no collect),

each to a noop count, and reports wall time. Completion IS the
assertion: the old conditional-collect funnel / plain collect-fold
EWMA held the hot key's full event list in one buffer row.

Usage: python tools/hotkey_probe.py [hot_n] [n_keys] [cold_n]
Prints one JSON line.
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
    hot_n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    cold_n = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000

    spark = get_spark(
        app_name="hotkey-probe",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    # hot key 0 gets hot_n events; keys 1..n_keys share cold_n
    hot = spark.range(hot_n).select(
        F.col("id").alias("event_id"),
        F.lit(0).cast("long").alias("user_id"),
        F.timestamp_micros(F.col("id") * 1000).alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("id") % 997).cast("double").alias("value"),
    )
    cold = spark.range(cold_n).select(
        (F.col("id") + hot_n).alias("event_id"),
        (F.col("id") % n_keys + 1).cast("long").alias("user_id"),
        F.timestamp_micros(F.col("id") * 1000).alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("id") % 997).cast("double").alias("value"),
    )
    ev = hot.unionAll(cold)

    out: dict[str, float] = {}

    def run(name, df):
        # noop sink: count() would let Catalyst prune the fold
        # expressions entirely (repo rule — never time with count)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 2)

    run(
        "funnel",
        ts.funnel_steps(ev, ["view", "click", "purchase"], within_s=86_400),
    )
    run("ewma", ts.ewma(ev, alpha=0.25))

    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        ev.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    run("sessionize", sess)

    # round-8 window-only event ops on the same hot corpus: both are
    # one per-key window pass — the external sort spills, state per
    # row is O(1), so a 10M-event user must stream through
    run(
        "ltob",
        ts.ltob_downsample(ev, width_s=3600, key_cols=("user_id",)),
    )
    run(
        "attribution",
        ts.last_touch_attribution(
            ev, conversion_type="purchase",
            touch_types=["view", "click"], window_s=3600,
        ),
    )

    print(
        json.dumps(
            {
                "metric": "hot-key survival (s)",
                "hot_n": hot_n,
                "cold_n": cold_n,
                **out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
