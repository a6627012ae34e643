"""Interleaved A/B: graph_beam_search's round-14 one-exchange hop
loop vs the r7-r13 shape (distinct + window = two exchanges per hop),
over the SAME prebuilt graph and query panel the bench uses.

The legacy loop is reproduced inline (labeled twin) so both variants
run in one process, interleaved min-of-N — the only comparison that
survives this host's throttle swings. Outputs are asserted EQUAL
row-for-row (same (qid, id, rank), dists bit-identical) before any
timing is trusted.

Usage: python tools/beam_ab_probe.py [sf_dir] [passes]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from vector_database_spark import get_spark
from vector_database_spark import workload
from vector_database_spark.operators.graph import (
    graph_beam_search,
    knn_graph_blocked,
)


def _legacy_beam(edges, vectors_df, queries_df, *, ef=4, hops=4):
    """The pre-r14 hop loop, verbatim: union + distinct (exchange on
    (qid, id, _vec)) + top-ef row_number window (exchange on qid)."""
    from vector_database_spark.functions.vector import euclidean

    vecs = vectors_df.select(
        F.col("id").cast("long").alias("id"),
        F.col("vector").alias("_vec"),
    )
    entry = vecs.agg(F.min("id")).first()[0]
    out_edges_v = (
        edges.select(
            F.col("src").cast("long").alias("id"),
            F.col("dst").cast("long").alias("_dst"),
        )
        .join(
            vecs.select(F.col("id").alias("_dst"), F.col("_vec").alias("_dvec")),
            "_dst",
        )
        .localCheckpoint(eager=False)
    )
    qdf = queries_df.select(F.col("qid").cast("long").alias("qid"), F.col("qvec"))
    qb = F.broadcast(qdf.localCheckpoint(eager=False))
    entry_vec = F.broadcast(
        vecs.where(F.col("id") == int(entry)).select("id", "_vec")
    )
    beam = qdf.select("qid").crossJoin(entry_vec)
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("id").asc())

    def rank_beam(cand):
        return (
            cand.join(qb, "qid")
            .withColumn("dist", euclidean(F.col("_vec"), F.col("qvec")))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(ef))
        )

    for _ in range(int(hops)):
        nb = beam.select("qid", "id").join(out_edges_v, "id").select(
            "qid", F.col("_dst").alias("id"), F.col("_dvec").alias("_vec")
        )
        cand = beam.select("qid", "id", "_vec").unionByName(nb).distinct()
        beam = rank_beam(cand).select("qid", "id", "_vec")
        beam = beam.localCheckpoint(eager=False)
    return rank_beam(beam).select("qid", "id", "dist", "rank")


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    spark = get_spark(
        app_name="beam-ab",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    vecs = workload._embeddings(spark, sf_dir)
    edges = (
        knn_graph_blocked(vecs, 8, n_cells=16, nprobe=4, method="dgemm")
        .select("src", "dst")
        .localCheckpoint()
    )
    qdf = vecs.where(F.col("id") < 16).select(
        F.col("id").alias("qid"),
        F.col("vector").cast("array<double>").alias("qvec"),
    )

    # equality first: same beam, bit-identical dists
    new_rows = sorted(
        (r.qid, r.id, r.rank, r.dist)
        for r in graph_beam_search(edges, vecs, qdf, ef=8, hops=4).collect()
    )
    old_rows = sorted(
        (r.qid, r.id, r.rank, r.dist)
        for r in _legacy_beam(edges, vecs, qdf, ef=8, hops=4).collect()
    )
    assert new_rows == old_rows and new_rows, (
        len(new_rows), len(old_rows),
        [p for p in zip(new_rows, old_rows) if p[0] != p[1]][:5],
    )

    tracker = spark.sparkContext.statusTracker()

    def _jobs():
        return len(tracker.getJobIdsForGroup(None) or [])

    res = {"n_rows": len(new_rows), "new": [], "old": [],
           "new_jobs": [], "old_jobs": []}
    for _ in range(passes):
        for key, fn in (("new", graph_beam_search), ("old", _legacy_beam)):
            j0 = _jobs()
            t0 = time.time()
            _force(fn(edges, vecs, qdf, ef=8, hops=4))
            res[key].append(round(time.time() - t0, 3))
            res[f"{key}_jobs"].append(_jobs() - j0)
    res["new_min"] = min(res["new"])
    res["old_min"] = min(res["old"])
    res["speedup_min"] = round(res["old_min"] / res["new_min"], 3)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
