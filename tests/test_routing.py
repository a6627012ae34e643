"""Cost-model routing: decision boundaries (pure function) and the
pilot candidate-frac estimator against measured telemetry."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_database_spark.operators.index_build import build_index
from vector_database_spark.operators.search import (
    BROADCAST_INDEX_MAX_ROWS,
    _auto_strategy,
    brute_force_search,
    estimate_candidate_frac,
    search,
    search_stats,
)
from vector_database_spark.sources.generators import clusters


def test_auto_strategy_boundaries():
    small = BROADCAST_INDEX_MAX_ROWS  # walker-eligible index size
    big = BROADCAST_INDEX_MAX_ROWS * 10
    # tiny panels never amortize the walker's fixed tree transfer
    assert _auto_strategy(small, 1, 0.0) == "brute"
    # a big panel with real pruning routes to the walker
    assert _auto_strategy(small, 64, 0.05) == "broadcast"
    # no pruning -> the tree can never win locally
    assert _auto_strategy(small, 64, 1.0) == "brute"
    assert _auto_strategy(big, 1, 1.0) == "brute"
    # beyond the walker cap, a big pruned panel clears the iterative
    # job-latency floor
    assert _auto_strategy(big, 64, 0.01) == "iterative"


def test_pilot_estimate_tracks_measured_frac(spark):
    vecs = clusters(spark, 4000, 16, n_clusters=8, seed=7).select("id", "vector")
    vecs = vecs.persist()
    idx = build_index(vecs, local_threshold=256).persist()
    panel = [
        (int(r.id), list(r.vector))
        for r in vecs.where(F.col("id").isin([3, 777, 1500])).collect()
    ]
    for domain in (0.3, 1.0):
        est = estimate_candidate_frac(idx, panel, domain)
        st = search_stats(idx, vecs, panel, domain, strategy="broadcast").collect()
        measured = sum(r.candidate_frac for r in st) / len(st)
        # the estimator only needs to be good enough to route: right
        # order of magnitude, never wildly below the measured frac
        assert est >= measured * 0.3, (domain, est, measured)
        assert est <= max(1.0, measured * 3 + 0.1), (domain, est, measured)
    idx.unpersist()
    vecs.unpersist()


def test_auto_equals_every_strategy(spark):
    vecs = clusters(spark, 3000, 8, n_clusters=4, seed=11).select("id", "vector")
    vecs = vecs.persist()
    idx = build_index(vecs, local_threshold=128).persist()
    panel = [
        (int(r.id), list(r.vector))
        for r in vecs.where(F.col("id").isin([1, 2000])).collect()
    ]
    want = {(r.qid, r.id) for r in brute_force_search(vecs, panel, 0.9).collect()}
    for strategy in ("auto", "brute", "broadcast", "iterative"):
        got = {
            (r.qid, r.id)
            for r in search(idx, vecs, panel, 0.9, strategy=strategy).collect()
        }
        assert got == want, strategy
    idx.unpersist()
    vecs.unpersist()


def test_auto_skips_pilot_when_brute_is_certain(spark, monkeypatch):
    """The walker's margin only shrinks as the candidate-frac estimate
    grows, so when even a perfectly pruning walk cannot win (a 1-query
    panel) search(strategy='auto') routes to brute without the pilot
    collect; a big selective panel still runs the estimate and routes
    as the cost model says."""
    from vector_database_spark.operators import search as S

    vecs = clusters(spark, 3000, 8, n_clusters=4, seed=11).select("id", "vector")
    vecs = vecs.persist()
    idx = build_index(vecs, local_threshold=128).persist()
    rows = vecs.orderBy("id").limit(64).collect()
    panel = [(int(r.id), list(r.vector)) for r in rows]
    domain = 0.05
    route = _auto_strategy(
        S._index_size(idx), len(panel), estimate_candidate_frac(idx, panel, domain)
    )
    assert route == "broadcast"

    calls = {"pilot": 0, "walker": 0}
    orig_pilot, orig_walker = S._pilot_top_levels, S.search_candidates_broadcast

    def pilot(*a, **k):
        calls["pilot"] += 1
        return orig_pilot(*a, **k)

    def walker(*a, **k):
        calls["walker"] += 1
        return orig_walker(*a, **k)

    monkeypatch.setattr(S, "_pilot_top_levels", pilot)
    monkeypatch.setattr(S, "search_candidates_broadcast", walker)
    for qs, want_calls in (
        (panel[:1], {"pilot": 0, "walker": 0}),
        (panel, {"pilot": 1, "walker": 1}),
    ):
        calls.update(pilot=0, walker=0)
        got = {(r.qid, r.id) for r in search(idx, vecs, qs, domain).collect()}
        assert calls == want_calls, len(qs)
        want = {
            (r.qid, r.id) for r in brute_force_search(vecs, qs, domain).collect()
        }
        assert got == want and got
    idx.unpersist()
    vecs.unpersist()


def test_unknown_strategy_is_rejected(spark):
    """An unrecognised `strategy` raises instead of silently running
    the iterative frontier join: the router takes auto|broadcast|
    iterative, `search` adds brute (its scan route)."""
    import pytest

    from vector_database_spark.operators.search import search_candidates_auto

    vecs = clusters(spark, 500, 8, n_clusters=4, seed=11).select("id", "vector")
    idx = build_index(vecs, local_threshold=128)
    panel = [(0, [0.0] * 8)]
    with pytest.raises(ValueError, match="bogus"):
        search(idx, vecs, panel, 0.9, strategy="bogus")
    for strategy in ("bogus", "brute"):
        with pytest.raises(ValueError, match=strategy):
            search_stats(idx, vecs, panel, 0.9, strategy=strategy)
        with pytest.raises(ValueError, match=strategy):
            search_candidates_auto(idx, panel, 0.9, strategy=strategy)
