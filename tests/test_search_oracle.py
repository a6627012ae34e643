"""Search correctness vs brute-force oracle — the reference's core test
pattern (MemoryVectorIndexTests.cs:136-207): zero false positives, zero
false negatives, exact id-set equality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_spark.operators.index_build import build_index
from vector_database_spark.operators.search import (
    brute_force_search,
    knn,
    search,
    search_candidates,
)
from vector_database_spark.sources.generators import grid_2d, random_uniform


def _id_sets(df):
    out = {}
    for r in df.select("qid", "id").collect():
        out.setdefault(r.qid, set()).add(r.id)
    return out


GRID_PANEL = [(0, [0.5, 0.9]), (1, [0.3, 0.3]), (2, [-1.0, -1.0]), (3, [0.0, 0.0])]


@pytest.mark.parametrize("domain", [0.6, 0.3, 0.05])
@pytest.mark.parametrize("strategy", ["iterative", "broadcast"])
def test_grid_search_matches_oracle(spark, domain, strategy):
    vecs = grid_2d(spark, 10)
    idx = build_index(vecs, local_threshold=25)
    got = _id_sets(search(idx, vecs, GRID_PANEL, domain, strategy=strategy))
    want = _id_sets(brute_force_search(vecs, GRID_PANEL, domain))
    for qid, _ in GRID_PANEL:
        assert got.get(qid, set()) == want.get(qid, set()), f"qid={qid}"


def test_iterative_shuffle_join_regime(spark):
    """The >broadcast-bound physical strategy (index repartitioned by
    (doc_id, range_id), per-level shuffle of the slim frontier only)
    must return the identical result set."""
    vecs = random_uniform(spark, n=600, dims=6, seed=11)
    idx = build_index(vecs, local_threshold=32)
    panel = [(0, [0.1] * 6), (1, [0.8] * 6)]
    got = _id_sets(
        search(
            idx, vecs, panel, 0.9, strategy="iterative", broadcast_index=False
        )
    )
    want = _id_sets(brute_force_search(vecs, panel, 0.9))
    for qid, _ in panel:
        assert got.get(qid, set()) == want.get(qid, set()), f"qid={qid}"


@pytest.mark.parametrize("strategy", ["brute", "broadcast", "iterative"])
def test_filtered_search_matches_filtered_brute(spark, embeddings, strategy):
    """search(where=) is EXACT filter-then-refine under every
    strategy: identical to brute force over the predicate-qualified
    corpus (the tree candidate set is a superset of the ball for any
    row subset), and every hit satisfies the predicate."""
    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    idx = build_index(vecs, local_threshold=64)
    panel = [
        (int(r.id), list(r.vector))
        for r in vecs.where(F.col("id").isin([3, 99])).collect()
    ]
    got = search(
        idx, vecs, panel, 1.4, strategy=strategy, where="id % 3 = 0"
    )
    rows = got.collect()
    assert rows and all(r.id % 3 == 0 for r in rows)
    want = _id_sets(
        brute_force_search(vecs.where(F.col("id") % 3 == 0), panel, 1.4)
    )
    assert _id_sets(got) == want


def test_filtered_cosine_search_matches_filtered_brute(spark, embeddings):
    """cosine_search(where=) with a SHARED index built over the
    UNFILTERED corpus: non-qualifying candidates drop at the
    refinement join, result == raw-cosine filter over qualifying
    rows."""
    from vector_database_spark.functions.vector import cosine_similarity
    from vector_database_spark.operators.search import cosine_search

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    from vector_database_spark.functions.vector import normalize

    idx = build_index(
        vecs.select("id", normalize(F.col("vector")).alias("vector")),
        local_threshold=64,
    )
    panel = [
        (int(r.id), list(r.vector))
        for r in vecs.where(F.col("id").isin([3, 99])).collect()
    ]
    got = cosine_search(
        vecs, panel, 0.35, index_df=idx, where="id % 3 = 0"
    ).collect()
    assert got and all(r.id % 3 == 0 for r in got)
    qdf = spark.createDataFrame(panel, "qid long, qvec array<double>")
    want = {
        (r.qid, r.id)
        for r in vecs.where(F.col("id") % 3 == 0)
        .crossJoin(F.broadcast(qdf))
        .where(cosine_similarity(F.col("vector"), F.col("qvec")) >= 0.35)
        .select("qid", "id")
        .collect()
    }
    assert {(r.qid, r.id) for r in got} == want


def test_embeddings_search_matches_oracle(spark, embeddings):
    vecs = embeddings.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    idx = build_index(vecs, local_threshold=64)
    panel = [
        (int(r.id), list(r.vector))
        for r in vecs.where(F.col("id").isin([0, 7, 42, 123, 250])).collect()
    ]
    domain = 1.5
    got = _id_sets(search(idx, vecs, panel, domain))
    want = _id_sets(brute_force_search(vecs, panel, domain))
    assert got == want
    # sanity: every query matches at least itself
    for qid, _ in panel:
        assert qid in want[qid]


def test_candidates_are_superset_and_pruned(spark):
    vecs = grid_2d(spark, 32)
    n = 32 * 32
    idx = build_index(vecs, local_threshold=64)
    panel = [(0, [0.25, -0.25])]
    domain = 0.1
    cands = search_candidates(idx, panel, domain).count()
    true = brute_force_search(vecs, panel, domain).count()
    assert cands >= true
    # pruning actually prunes: far fewer candidates than points
    assert cands < n / 4, f"pruning too weak: {cands}/{n}"


def test_knn_matches_sorted_bruteforce(spark):
    vecs = random_uniform(spark, 300, 8, seed=11)
    panel = [(0, [0.0] * 8), (1, [0.5] * 8)]
    res = knn(vecs, panel, k=10)
    rows = res.collect()
    assert len(rows) == 20
    brute = brute_force_search(vecs, panel, domain=1e9)
    for qid in (0, 1):
        want = sorted(
            [(r.dist, r.id) for r in brute.collect() if r.qid == qid]
        )[:10]
        got = sorted(
            [(r.dist, r.id) for r in rows if r.qid == qid]
        )
        assert [i for _, i in got] == [i for _, i in want]


def test_search_stats_telemetry(spark):
    """Candidates >= matches, selectivity/candidate_frac consistent,
    and on a selective grid query the walk must actually prune."""
    from vector_database_spark.operators.search import search_stats

    vecs = grid_2d(spark, 32)
    n = 32 * 32
    idx = build_index(vecs, local_threshold=64)
    st = {
        r.qid: r
        for r in search_stats(idx, vecs, [(0, [0.25, -0.25])], 0.1).collect()
    }
    r = st[0]
    true = brute_force_search(vecs, [(0, [0.25, -0.25])], 0.1).count()
    assert r.n_matches == true
    assert r.n_candidates >= r.n_matches
    assert r.n_total == n
    assert r.n_candidates < n / 4  # pruning pulled its weight
    assert abs(r.selectivity - round(r.n_matches / r.n_candidates, 4)) < 1e-9
    assert abs(r.candidate_frac - round(r.n_candidates / n, 4)) < 1e-9


def test_knn_plan_single_survivor_shuffle(spark):
    """The exact-kNN plan must pre-reduce map-side: the only shuffle
    exchange carries the per-batch top-k survivors, never the N x q
    candidate rows (the round-1 global per-qid window funneled every
    candidate of a query through one reducer)."""
    import re

    vecs = random_uniform(spark, 2000, 8, seed=13)
    out = knn(vecs, [(0, [0.0] * 8), (1, [0.5] * 8)], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_search_chebyshev_box(spark):
    vecs = grid_2d(spark, 10)
    idx = build_index(vecs, local_threshold=25)
    got = _id_sets(search(idx, vecs, GRID_PANEL, 0.3, metric="chebyshev"))
    # oracle: direct box filter
    from vector_database_spark.functions.vector import linf_distance

    qdf = spark.createDataFrame(
        [(q, v) for q, v in GRID_PANEL], "qid long, qvec array<double>"
    )
    want = _id_sets(
        vecs.crossJoin(qdf)
        .where(linf_distance(F.col("vector"), F.col("qvec")) <= 0.3)
        .select("qid", "id")
    )
    assert got == want


def test_ball_pruning_tighter_and_exact(spark):
    """O24 budget pruning: fewer candidates than box, same exact result."""
    from vector_database_spark.operators.search import (
        search_candidates_broadcast,
    )

    vecs = grid_2d(spark, 32)
    idx = build_index(vecs, local_threshold=64)
    panel = [(0, [0.25, -0.25]), (1, [-0.8, 0.8])]
    domain = 0.15
    box = search_candidates_broadcast(idx, panel, domain, pruning="box").count()
    ball = search_candidates_broadcast(idx, panel, domain, pruning="ball").count()
    assert ball <= box
    got = _id_sets(search(idx, vecs, panel, domain, strategy="broadcast"))
    want = _id_sets(brute_force_search(vecs, panel, domain))
    assert got == want


def test_ball_pruning_embeddings_oracle(spark, embeddings):
    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    idx = build_index(vecs, local_threshold=64)
    panel = [
        (int(r.id), list(r.vector))
        for r in vecs.where(F.col("id").isin([7, 123])).collect()
    ]
    got = _id_sets(search(idx, vecs, panel, 1.3, strategy="broadcast"))
    want = _id_sets(brute_force_search(vecs, panel, 1.3))
    assert got == want

def test_shuffle_regime_index_side_no_exchange(spark):
    """In the >broadcast-bound regime the index is repartitioned by
    (doc_id, range_id) and persisted; a per-level frontier join must
    then shuffle ONLY the frontier — the index side reads the cached
    distribution with no new Exchange."""
    from vector_database_spark.sources.generators import random_uniform

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        vecs = random_uniform(spark, n=400, dims=4, seed=5)
        idx = build_index(vecs, local_threshold=32)
        par = spark.sparkContext.defaultParallelism
        cached = idx.repartition(par, "doc_id", "range_id").persist()
        cached.count()
        frontier = spark.createDataFrame(
            [(0, 0, 0)], "qid long, doc_id long, range_id long"
        )
        j = frontier.join(cached, ["doc_id", "range_id"])
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        outside_cache = plan.split("InMemoryRelation")[0]
        assert outside_cache.count("Exchange") == 1, outside_cache
        cached.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cosine_search_equals_brute(spark, embeddings):
    from pyspark.sql import functions as F

    from vector_database_spark.functions.vector import cosine_similarity
    from vector_database_spark.operators.search import cosine_search

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    panel = [(int(r.id), list(r.vector))
             for r in vecs.where(F.col("id").isin([3, 99])).collect()]
    got = {(r.qid, r.id) for r in cosine_search(vecs, panel, 0.25).collect()}
    qdf = spark.createDataFrame(panel, "qid long, qvec array<double>")
    brute = (
        vecs.crossJoin(F.broadcast(qdf))
        .where(cosine_similarity(F.col("vector"), F.col("qvec")) >= 0.25)
        .select("qid", "id")
    )
    want = {(r.qid, r.id) for r in brute.collect()}
    assert got == want and got
    # the query point itself always matches at cos = 1
    assert (3, 3) in got and (99, 99) in got


def test_maxsim_matches_numpy_and_candidate_refine(spark, embeddings):
    """maxsim_topk == a numpy MaxSim replay (sum over query tokens of
    the max dot product per doc), and restricting to a candidate set
    that contains the true top-k (the ANN-front refine contract)
    returns the identical ranking."""
    import numpy as np

    from vector_database_spark.operators.search import maxsim_topk

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).where(F.col("vec_id") < 256)
    docs = vecs.select(
        F.expr("id div 8").alias("doc_id"), "id", "vector"
    )
    queries = docs.where(F.col("doc_id") == 3).select(
        F.col("doc_id").alias("qid"),
        F.col("id").alias("qtok"),
        F.col("vector").cast("array<double>").alias("qvec"),
    )
    got = maxsim_topk(docs, queries, k=4, metric="dot").collect()

    rows = docs.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(
            np.asarray(r.vector, dtype=np.float64)
        )
    Q = [np.asarray(r.qvec) for r in sorted(queries.collect(), key=lambda r: r.qtok)]
    scores = {
        d: sum(max(float(q @ v) for v in vs) for q in Q)
        for d, vs in by_doc.items()
    }
    want = sorted(scores, key=lambda d: (-scores[d], d))[:4]
    assert [r.doc for r in sorted(got, key=lambda r: r.rank)] == want
    for r in got:
        assert abs(r.score - scores[r.doc]) < 1e-6

    cand = spark.createDataFrame([(d,) for d in want], "doc_id long")
    refined = maxsim_topk(
        docs, queries, k=4, metric="dot", candidate_docs=cand
    ).collect()
    assert {(r.qid, r.doc, r.rank) for r in refined} == {
        (r.qid, r.doc, r.rank) for r in got
    }


@pytest.mark.parametrize("metric", ["euclidean", "chebyshev"])
def test_search_stats_routes_and_doc_scope(spark, metric):
    """search_stats agrees across its routes (walker, iterative with a
    broadcast index, iterative with the shuffle-join layout), and a
    doc-scoped call counts exactly the scoped document's rows whether
    or not the vector table carries a doc_id column (a doc-less table
    is scoped through the tree's leaf ids). search(strategy='brute',
    doc_id=) scopes the same way and equals the tree route."""
    from vector_database_spark.operators.search import search_stats

    with_doc = random_uniform(spark, n=600, dims=4, seed=5).select(
        (F.col("id") % 3).alias("doc_id"), "id", "vector"
    ).persist()
    no_doc = with_doc.select("id", "vector")
    idx = build_index(with_doc, doc_col="doc_id", local_threshold=32).persist()
    panel = [(0, [0.2, 0.3, 0.2, 0.3]), (1, [0.7, 0.6, 0.7, 0.6])]
    domain, doc = 0.45, 1
    scoped = with_doc.where(F.col("doc_id") == doc)
    n_doc = scoped.count()
    want = {
        (r.qid, r.id, r.dist)
        for r in brute_force_search(scoped, panel, domain, metric=metric).collect()
    }
    assert want
    n_want = {q: sum(1 for w in want if w[0] == q) for q, _ in panel}

    routes = {
        "broadcast": {"strategy": "broadcast"},
        "iterative": {"strategy": "iterative"},
        "shuffle": {"strategy": "iterative", "broadcast_index": False},
    }
    for vecs in (with_doc, no_doc):
        got = {
            name: sorted(
                tuple(r)
                for r in search_stats(
                    idx, vecs, panel, domain, doc_id=doc, metric=metric, **kw
                ).collect()
            )
            for name, kw in routes.items()
        }
        # both iterative regimes walk the same box frontier
        assert got["iterative"] == got["shuffle"]
        if metric == "chebyshev":
            # the walker prunes with the same box: identical rows
            assert got["broadcast"] == got["iterative"]
        for b, i in zip(got["broadcast"], got["iterative"]):
            # Euclidean walker prunes by ball: fewer candidates, the
            # same matches and the same scoped total
            assert b[0] == i[0] and b[2] == i[2] and b[4] == i[4]
            assert b[1] <= i[1]
        for qid, _, n_matches, _, n_total, _ in got["iterative"]:
            assert n_total == n_doc
            assert n_matches == n_want[qid]

        for strategy in ("brute", "broadcast"):
            res = {
                (r.qid, r.id, r.dist)
                for r in search(
                    idx, vecs, panel, domain, doc_id=doc, metric=metric,
                    strategy=strategy,
                ).collect()
            }
            assert res == want, strategy
    idx.unpersist()
    with_doc.unpersist()
