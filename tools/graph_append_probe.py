"""Clone-heavy kNN-graph APPEND probe (round-9 verdict item 3): a
stored layout holding a large clone pile must not make every append
re-rank the whole pile — the rep-level fix-up runs the batch distance
pass once per DISTINCT affected vector and fans out.

Measures, interleaved in one process (the d03_ab_probe rule):
  - append wall time with the rep-level collapse (auto, ships) vs the
    collapse force-disabled (the r9 behavior),
  - output identity between the two paths (edge sets equal),
  - the fix-up's probe-side row count: reps vs members.

Usage: python tools/graph_append_probe.py [uniform_rows] [pile_rows] [dims] [batch_rows]
Defaults: 100k uniform + 100k one-vector pile, 32 dims, 10k batch.
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
from vector_database_spark.operators import graph as G
from vector_database_spark.sources.generators import random_uniform


def main() -> int:
    n_uni = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_pile = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    dims = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    n_batch = int(sys.argv[4]) if len(sys.argv) > 4 else 10_000

    spark = get_spark(
        app_name="graph-append-probe",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    uni = random_uniform(spark, n_uni, dims, seed=11).select(
        "id", "vector"
    )
    proto = uni.where(F.col("id") == 0).first()["vector"]
    pile = spark.range(n_pile).select(
        (F.col("id") + 10_000_000).alias("id"),
        F.lit([float(x) + 0.25 for x in proto])
        .cast("array<double>")
        .alias("vector"),
    )
    base = uni.unionByName(pile).localCheckpoint()
    # the batch lands IN the pile's cell (tiny per-row jitter on the
    # pile vector, values distinct): the verdict scenario — every
    # pile member's probe set intersects the batch's cell, so the
    # plain fix-up re-ranks all n_pile srcs against the whole batch
    # while the rep-level fix-up touches ONE representative
    batch = spark.range(n_batch).select(
        (F.col("id") + 20_000_000).alias("id"),
        F.transform(
            F.lit([float(x) + 0.25 for x in proto]).cast("array<double>"),
            lambda x, i: x
            + (F.col("id") + 1).cast("double") * 1e-9 * (i + 1).cast(
                "double"
            ),
        ).alias("vector"),
    ).localCheckpoint()

    def build(root):
        t0 = time.time()
        G.knn_graph_write(
            base, 5, root, n_cells=64, nprobe=2, method="dgemm", seed=3
        )
        print(f"  build {n_uni}+{n_pile} rows: {time.time()-t0:.1f}s")

    results = {}
    # the append's fix-up asks the shared collapse decision; "plain"
    # forces it off
    orig = G._resolve_collapse
    for mode in ("collapse", "plain", "collapse", "plain"):
        root = os.path.join(tempfile.mkdtemp(prefix="gap_"), "kg")
        build(root)
        G._resolve_collapse = (
            orig if mode == "collapse" else (lambda *a, **k: False)
        )
        t0 = time.time()
        info = G.knn_graph_append(spark, root, batch, retrain="never")
        dt = time.time() - t0
        G._resolve_collapse = orig
        edges = {
            (r.src, r.dst, r.rank)
            for r in spark.read.parquet(f"{root}/edges")
            .select("src", "dst", "rank")
            .collect()
        }
        results.setdefault(mode, []).append((dt, info["affected"], edges))
        print(
            f"  append[{mode}]: {dt:.1f}s affected={info['affected']}"
        )
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)

    c = min(t for t, _a, _e in results["collapse"])
    p = min(t for t, _a, _e in results["plain"])
    assert results["collapse"][0][2] == results["plain"][0][2], (
        "collapse fix-up must be output-identical"
    )
    print(
        f"append best-of-2: collapse {c:.1f}s vs plain {p:.1f}s "
        f"({p / c:.2f}x); outputs identical; pile reps touched once "
        f"(distinct vectors), members only fan out"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
