"""Scale probe for the round-6 retrieval surface at sf0.1 (240k
embeddings x 64, 5k documents): BM25, MaxSim (brute + candidate-
refined), RRF fusion, MMR rerank, exact kNN-graph build
(`knn_graph_blocked` probing every cell) + beam search over the full
embedding corpus.
Best-of-2 within one session (the repo's throttle rule). Prints one
JSON line for SCALE.md.

Usage: python tools/retrieval_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_database_spark import get_spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def best2(fn) -> float:
    ts = []
    for _ in range(2):
        t0 = time.time()
        fn()
        ts.append(round(time.time() - t0, 3))
    return min(ts)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(
        app_name="retrieval-probe", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    from vector_database_spark.operators.graph import (
        graph_beam_search,
        knn_graph_blocked,
    )
    from vector_database_spark.operators.search import (
        maxsim_topk,
        mmr_rerank,
        rrf_fuse,
        knn,
    )
    from vector_database_spark.operators.text import bm25_scores
    from vector_database_spark.functions.vector import cosine_similarity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").localCheckpoint()
    vecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
        .localCheckpoint()
    )
    n_docs, n_vecs = docs.count(), vecs.count()
    timings: dict[str, float] = {}

    terms = ["join", "hash", "filter", "merge"]
    timings["bm25_top20"] = best2(
        lambda: _force(bm25_scores(docs, terms, k=20))
    )

    # multi-vector: 8-token docs carved from the embedding table
    mv = vecs.select(F.expr("id div 8").alias("doc_id"), "id", "vector")
    queries = mv.where(F.col("doc_id").isin([0, 7, 21])).select(
        F.col("doc_id").alias("qid"),
        F.col("id").alias("qtok"),
        F.col("vector").cast("array<double>").alias("qvec"),
    ).localCheckpoint()
    timings["maxsim_brute_3q"] = best2(
        lambda: _force(maxsim_topk(mv, queries, k=5, metric="dot"))
    )

    panel = [
        (int(r.id), list(r.vector))
        for r in vecs.where(F.col("id").isin([3, 99])).collect()
    ]
    dense = knn(vecs.where(F.col("id") < 5000), panel, 20, metric="cosine").select(
        "qid", "id", "rank"
    )
    sparse = bm25_scores(docs, terms, k=20).select(
        F.lit(3).cast("long").alias("qid"), "id", "rank"
    )
    timings["hybrid_rrf"] = best2(
        lambda: _force(rrf_fuse([dense, sparse], k=10))
    )

    qdf = spark.createDataFrame(panel, "qid long, qvec array<double>")
    rel = cosine_similarity(F.col("vector"), F.col("qvec"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("id").asc())
    pool = (
        vecs.crossJoin(F.broadcast(qdf))
        .withColumn("rel", rel)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 50)
        .select("qid", "id", "vector", "rel")
    )
    timings["mmr_pool50_k10"] = best2(
        lambda: _force(mmr_rerank(pool, 10, lam=0.5))
    )

    sub = vecs.where(F.col("id") < 20_000).localCheckpoint()
    t0 = time.time()
    # nprobe == n_cells: every cell probed, so the graph is exact
    edges = (
        knn_graph_blocked(sub, 4, n_cells=16, nprobe=16)
        .select("src", "dst")
        .localCheckpoint()
    )
    timings["knn_graph_blocked_exact_build"] = round(time.time() - t0, 3)
    timings["beam_search_full_corpus"] = best2(
        lambda: _force(graph_beam_search(edges, sub, qdf, ef=8, hops=6))
    )

    print(
        json.dumps(
            {
                "probe": "retrieval_sf01",
                "n_docs": n_docs,
                "n_vecs": n_vecs,
                "timings": timings,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
