"""Local-phase granularity probe (round-12 verdict item 1): the
committed throttle diagnosis
(data/probes/pool_throttle_diag_r12.txt) proved this host
fractionally schedules SUSTAINED compute (~2-3 effective cores; 64
identical 156k x 96 subtree tasks finished under local[8] but not
local[32]), and that short bursts dodge the squeeze. This probe runs
FULL interleaved 10M x 96 builds over the same staged parquet as
tools/headline_probe.py across a ``local_threshold`` grid, with a
paired host anchor before every pass, so task granularity (smaller
subtrees = shorter tasks) is measured on the same box in the same
window. (The grid's second lever, a pool-concurrency cap, measured
neutral-to-negative and was removed from `build_index`.)

Usage: python tools/local_phase_probe.py [n_rows] [dims] [rounds]

Each round runs every config once, round-robin, so host drift hits
all configs equally (the d03/route-probe interleaving rule). Output:
one JSON line per pass + a final summary line for data/probes/.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.host_anchor import SCAN_HEALTHY_BAND, host_anchor
from vector_database_spark import get_spark
from vector_database_spark.operators.index_build import build_index
from vector_database_spark.sources.generators import clusters

# (label, local_threshold [None = auto ~166k at 96 dims])
CONFIGS = [
    # NOTE: the r13 retune changed auto to 4M cells (~40k rows at 96
    # dims), so 'auto' in runs AFTER that commit is ~equal to '40k';
    # the r13 grid artifact was produced with auto still at 16M cells
    # (~156k rows). Use SPARK_GRAFT_GRID to pin explicit thresholds
    # when reproducing.
    ("auto", None),
    ("40k", 40_000),
    ("25k", 25_000),
]

# Override the grid from the environment, e.g. a refinement sweep:
#   SPARK_GRAFT_GRID="20k:20000,40k:40000,80k:80000"
# (label:threshold|auto pairs, comma-separated).
if os.environ.get("SPARK_GRAFT_GRID"):
    CONFIGS = []
    for part in os.environ["SPARK_GRAFT_GRID"].split(","):
        label, thr = part.split(":")
        CONFIGS.append((label, None if thr == "auto" else int(thr)))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    dims = int(sys.argv[2]) if len(sys.argv) > 2 else 96
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    spark = get_spark(
        app_name="local-phase-probe", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    stage_dir = os.path.join(
        tempfile.gettempdir(), f"headline_{n}x{dims}.parquet"
    )
    if not os.path.exists(os.path.join(stage_dir, "_SUCCESS")):
        t0 = time.time()
        clusters(spark, n, dims, n_clusters=64, seed=11).select(
            "id", "vector"
        ).repartition(64).write.mode("overwrite").parquet(stage_dir)
        print(f"stage {n}x{dims} parquet: {time.time()-t0:.1f}s", flush=True)
    vecs = spark.read.parquet(stage_dir)

    host_anchor(spark)  # untimed warmup (footer + codegen)
    results: dict[str, list] = {c[0]: [] for c in CONFIGS}
    anchors: dict[str, list] = {c[0]: [] for c in CONFIGS}
    for rnd in range(rounds):
        for label, thr in CONFIGS:
            a = host_anchor(spark)
            anchors[label].append(a)
            t0 = time.time()
            idx = build_index(vecs, local_threshold=thr).persist()
            n_nodes = idx.count()
            dt = time.time() - t0
            n_leaves = idx.where(F.col("id").isNotNull()).count()
            idx.unpersist()
            ok = n_nodes == 2 * n - 1 and n_leaves == n
            results[label].append(round(dt, 1))
            print(
                json.dumps(
                    {
                        "round": rnd,
                        "config": label,
                        "build_sec": round(dt, 1),
                        "nodes_ok": ok,
                        "anchor": a,
                    }
                ),
                flush=True,
            )
            if not ok:
                raise AssertionError((label, n_nodes, n_leaves))

    print(
        json.dumps(
            {
                "probe": "local_phase_grid",
                "n": n,
                "dims": dims,
                "build_sec": results,
                "best": {k: min(v) for k, v in results.items() if v},
                "anchors": anchors,
                "scan_anchor_healthy_band": list(SCAN_HEALTHY_BAND),
                "reference_anchor_sec": 180,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
