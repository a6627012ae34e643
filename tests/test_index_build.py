"""Index-build structural invariants (FIXTURES.md §A):

- root range_id = 0; children 2r+1 / 2r+2 (DDL.sql:195-196)
- leaf <=> id non-null <=> child ids null (DDL.sql:190-199)
- every input id appears in exactly one leaf
- distributed and local phases produce the same search behavior
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_spark.operators.index_build import build_index
from vector_database_spark.sources.generators import grid_2d, one_hot, random_uniform


def _assert_invariants(index_df, ids_df):
    idx = index_df.cache()
    try:
        rows = idx.collect()
        by_rid = {(r.doc_id, r.range_id): r for r in rows}
        assert len(by_rid) == len(rows), "duplicate range ids"
        docs = {r.doc_id for r in rows}
        for d in docs:
            assert (d, 0) in by_rid, "missing root"
        for r in rows:
            is_leaf = r.id is not None
            if is_leaf:
                assert r.low_range_id is None and r.high_range_id is None
                assert r.dimension is None and r.mid is None
            else:
                assert r.low_range_id == 2 * r.range_id + 1
                assert r.high_range_id == 2 * r.range_id + 2
                assert (r.doc_id, r.low_range_id) in by_rid, "dangling low child"
                assert (r.doc_id, r.high_range_id) in by_rid, "dangling high child"
                # id-split nodes have dimension AND mid null together
                assert (r.dimension is None) == (r.mid is None)
            if r.range_id != 0:
                parent = (r.range_id - 1) // 2
                assert (r.doc_id, parent) in by_rid, "orphan node"
        # every input id in exactly one leaf
        leaf_ids = idx.where(F.col("id").isNotNull()).select(
            F.col("id").alias("_lid")
        )
        n_input = ids_df.count()
        assert leaf_ids.count() == n_input
        missing = ids_df.join(
            leaf_ids, ids_df["id"] == leaf_ids["_lid"], "left_anti"
        ).count()
        assert missing == 0
    finally:
        idx.unpersist()


@pytest.mark.parametrize("threshold", [0, 1_000_000])
def test_grid_invariants(spark, threshold):
    """threshold=0 forces the pure distributed path; huge threshold
    forces the pure local (applyInPandas) path."""
    vecs = grid_2d(spark, 10)
    idx = build_index(vecs, local_threshold=threshold)
    _assert_invariants(idx, vecs.select("id"))


def test_one_hot_equal_variance(spark):
    """Adversarial identity set: every dimension has equal variance
    (Program.cs:54-66) — exercises deterministic tie-breaking."""
    vecs = one_hot(spark, 32)
    idx = build_index(vecs, local_threshold=8)
    _assert_invariants(idx, vecs.select("id"))


def test_duplicate_vectors_id_split(spark):
    """All-equal vectors: stdev=0 everywhere -> id-split nodes
    (dimension null, children non-null) per DDL.sql:100,190-193."""
    df = spark.range(16).select(
        "id", F.array(F.lit(0.5), F.lit(0.5)).cast("array<float>").alias("vector")
    )
    idx = build_index(df, local_threshold=0)
    _assert_invariants(idx, df.select("id"))
    splits = idx.where(F.col("id").isNull()).collect()
    assert splits, "expected internal nodes"
    assert all(r.dimension is None for r in splits)


def test_single_point(spark):
    df = spark.range(1).select(
        "id", F.array(F.lit(1.0), F.lit(2.0)).cast("array<float>").alias("vector")
    )
    idx = build_index(df, local_threshold=0).collect()
    assert len(idx) == 1
    r = idx[0]
    assert r.range_id == 0 and r.id == 0 and r.dimension is None


def test_empty_input(spark):
    df = spark.range(0).select(
        "id", F.array(F.lit(1.0)).cast("array<float>").alias("vector")
    )
    assert build_index(df).count() == 0


def test_multi_doc(spark):
    vecs = random_uniform(spark, 60, 4, seed=7).withColumn(
        "doc", F.col("id") % 3
    )
    idx = build_index(vecs, doc_col="doc", local_threshold=10)
    assert idx.select("doc_id").distinct().count() == 3
    for d in range(3):
        _assert_invariants(
            idx.where(F.col("doc_id") == d),
            vecs.where(F.col("doc") == d).select("id"),
        )


def test_phases_agree_on_leaf_partition(spark):
    """The distributed and local phases must induce the same
    leaf partitioning of ids (same split semantics)."""
    vecs = random_uniform(spark, 200, 3, seed=3)
    idx_dist = build_index(vecs, local_threshold=0)
    idx_local = build_index(vecs, local_threshold=1_000_000)

    def leaf_map(idx):
        return {
            r.range_id: r.id for r in idx.where(F.col("id").isNotNull()).collect()
        }

    # Split means are float64 in both phases but summation order can
    # differ; identical trees hold for this fixture size.
    assert leaf_map(idx_dist) == leaf_map(idx_local)


def test_checkpoint_every_equivalent_trees(spark):
    """The route-chain design (round 12): checkpoint_every=1 is the
    write-per-level legacy behavior; larger values route through the
    chained broadcast joins and must produce the IDENTICAL tree
    (broadcast joins preserve partition structure, so Summarizer
    merge order and every split decision match bit-for-bit)."""
    vecs = random_uniform(spark, 300, 4, seed=11)

    def node_map(idx):
        return {
            (r.doc_id, r.range_id): (r.dimension, r.mid, r.id)
            for r in idx.collect()
        }

    base = node_map(build_index(vecs, local_threshold=0, checkpoint_every=1))
    for ck in (3, 100):
        got = node_map(
            build_index(vecs, local_threshold=0, checkpoint_every=ck)
        )
        assert got == base, ck


def test_local_threshold_invariant_tree(spark):
    """Round-12 verdict item 1 bit-identity guard: granularity changes
    which rows share a local task, so the tree at local_threshold=500
    (two distributed levels + small subtrees) must equal the tree at
    20,000 (one whole-tree local task): identical node set, identical
    split DIMENSIONS, identical leaf-id assignment. Split MIDS are the
    same mean computed by two engines (distributed Summarizer Welford
    vs the numpy sum/cnt one-pass) whose accumulation orders differ —
    measured 2 of 3,999 mids one ulp apart at this fixture — so mids
    are compared at 1e-12 relative (a boundary flip from an ulp'd mid
    would ALSO flip a leaf assignment, which IS exact-checked)."""
    import math

    vecs = random_uniform(spark, 2000, 4, seed=23)

    def node_map(idx):
        return {
            (r.doc_id, r.range_id): (r.dimension, r.mid, r.id)
            for r in idx.collect()
        }

    a = node_map(build_index(vecs, local_threshold=500))
    b = node_map(build_index(vecs, local_threshold=20_000))
    assert set(a) == set(b)
    for k, (dim_a, mid_a, id_a) in a.items():
        dim_b, mid_b, id_b = b[k]
        assert (dim_a, id_a) == (dim_b, id_b), k
        if mid_a is None or mid_b is None:
            assert mid_a is None and mid_b is None, k
        else:
            assert math.isclose(mid_a, mid_b, rel_tol=1e-12, abs_tol=1e-12), k
