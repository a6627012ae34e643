"""Blocked kNN-graph probe (round-6 verdict items 1+3) ABOVE toy
size:

1. BULK BUILD at >= 200k rows: `knn_graph_blocked(method='dgemm')`
   must complete without the driver (or any single task) holding the
   corpus matrix — candidates come from the per-cell equi-join, so
   peak kernel memory is ~ the largest cell, not n. Prints wall time
   and edges/sec.

2. APPEND == REBUILD at 128k (the ivf_ingest_probe pattern):
   `knn_graph_append` under stored centroids must leave the layout
   edge-for-edge IDENTICAL (src, dst, rank, dist) to a full
   `knn_graph_blocked` rebuild of old∪new under the same centroids —
   which also makes beam search over the two graphs identical.
   A distribution-shifted batch must trip drift and (retrain='auto')
   rebuild.

Usage: python tools/knn_graph_probe.py [bulk_rows] [dims] [base_rows] [batch_rows]
Defaults: 200k x 64 bulk; 96k base + 32k append.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_database_spark import get_spark
from vector_database_spark.operators.ann import ivf_read
from vector_database_spark.operators.graph import (
    knn_graph_append,
    knn_graph_blocked,
    knn_graph_read,
    knn_graph_write,
)
from vector_database_spark.sources.generators import clusters


def main() -> int:
    bulk_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    dims = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    base_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 96_000
    batch_rows = int(sys.argv[4]) if len(sys.argv) > 4 else 32_000
    k, n_cells, nprobe = 8, 256, 2
    ok = True

    spark = get_spark(
        app_name="knn-graph-probe", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    # --- 1. bulk build at scale ---
    bulk = clusters(
        spark, n=bulk_rows, dims=dims, n_clusters=48, seed=11
    ).select("id", "vector").localCheckpoint()
    t0 = time.time()
    edges = knn_graph_blocked(
        bulk, k, n_cells=n_cells, nprobe=nprobe, method="dgemm"
    )
    n_edges = edges.count()
    dt = time.time() - t0
    print(
        f"bulk build {bulk_rows}x{dims} k={k} cells={n_cells} "
        f"nprobe={nprobe}: {dt:.1f}s, {n_edges} edges "
        f"({n_edges / dt:,.0f} edges/s)"
    )
    if n_edges != bulk_rows * k:
        # every node has >= k candidates in its own cell at this size
        print(f"FAIL: expected {bulk_rows * k} edges")
        ok = False

    # --- 2. append == rebuild at base+batch ---
    total = base_rows + batch_rows
    allv = clusters(
        spark, n=total, dims=32, n_clusters=24, seed=7
    ).select("id", "vector").localCheckpoint()
    base = allv.where(F.col("id") < base_rows)
    batch = allv.where(F.col("id") >= base_rows)
    root = os.path.join(tempfile.mkdtemp(prefix="kg_probe_"), "kg")
    try:
        t0 = time.time()
        knn_graph_write(base, k, root, n_cells=64, nprobe=nprobe)
        print(f"build+write {base_rows}: {time.time() - t0:.1f}s")
        _, cents = ivf_read(spark, root)
        t0 = time.time()
        info = knn_graph_append(spark, root, batch, retrain="never")
        print(
            f"append {batch_rows}: {time.time() - t0:.1f}s  "
            f"affected={info['affected']} drift={info['drift']}"
        )
        got_df, _meta = knn_graph_read(spark, root)
        want_df = knn_graph_blocked(
            allv, k, centroids=cents, nprobe=nprobe, method="dgemm"
        )
        got = {
            (r.src, r.dst, r.rank, round(r.dist, 12))
            for r in got_df.collect()
        }
        want = {
            (r.src, r.dst, r.rank, round(r.dist, 12))
            for r in want_df.collect()
        }
        if got == want:
            print(f"append == rebuild: {len(got)} edges identical")
        else:
            print(
                f"FAIL: append != rebuild "
                f"(|got|={len(got)} |want|={len(want)} "
                f"symdiff={len(got ^ want)})"
            )
            ok = False

        # --- 3. drift trip on a shifted batch ---
        shifted = batch.select(
            (F.col("id") + total).alias("id"),
            F.transform(
                "vector", lambda x: x * F.lit(5.0) + F.lit(10.0)
            ).alias("vector"),
        )
        info = knn_graph_append(spark, root, shifted, retrain="auto",
                                drift_threshold=0.25)
        print(f"shifted batch: drift={info['drift']} retrained={info['retrained']}")
        if not info["retrained"]:
            print("FAIL: shifted batch did not trip retrain")
            ok = False
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)

    print("PROBE", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
