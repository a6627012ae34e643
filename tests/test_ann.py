"""ANN strategies: recall against the exact brute-force baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_spark.operators.ann import ivf_build, ivf_knn, rp_lsh_knn
from vector_database_spark.operators.search import knn


def _queries_df(spark, vecs, ids):
    return (
        vecs.where(F.col("id").isin(ids))
        .select(F.col("id").alias("qid"), F.col("vector").cast("array<double>").alias("qvec"))
    )


def test_ivf_knn_recall(spark, embeddings):
    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    assigned, cents = ivf_build(vecs, n_cells=8, iters=2)
    assigned = assigned.persist()
    qids = [3, 99, 250]
    qdf = _queries_df(spark, vecs, qids)
    approx = ivf_knn(assigned, cents, qdf, k=10, nprobe=6)
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    exact = knn(vecs, panel, k=10)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.qid, set()).add(r.id)
    ap = {}
    for r in approx.collect():
        ap.setdefault(r.qid, set()).add(r.id)
    # recall@10 with nprobe=4 of 8 cells should be high on clustered data
    for q in qids:
        recall = len(ex[q] & ap.get(q, set())) / 10
        assert recall >= 0.7, f"qid={q} recall={recall}"
    assigned.unpersist()


def test_rp_lsh_knn_recall(spark, embeddings):
    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    qids = [3, 99]
    qdf = _queries_df(spark, vecs, qids)
    approx = rp_lsh_knn(
        vecs, qdf, k=5, dims=64, n_bits=4, n_tables=16, seed=11
    )
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    exact = knn(vecs, panel, k=5, metric="cosine")
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.qid, set()).add(r.id)
    ap = {}
    for r in approx.collect():
        ap.setdefault(r.qid, set()).add(r.id)
    for q in qids:
        recall = len(ex[q] & ap.get(q, set())) / 5
        assert recall >= 0.6, f"qid={q} recall={recall}"
        # the query point itself always shares every bucket with itself
        assert q in ap[q]


def test_ivf_persisted_partition_pruning(spark, embeddings):
    """The persisted inverted file must let a probe read only its
    cells: the scan's partition filters mention `cell`."""
    import tempfile

    from vector_database_spark.operators.ann import ivf_read, ivf_write

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    assigned, cents = ivf_build(vecs, n_cells=4, iters=1)
    path = tempfile.mkdtemp() + "/ivf"
    ivf_write(assigned, cents, path)
    assigned2, cents2 = ivf_read(spark, path)
    assert [len(c) for c in cents2] == [64] * 4
    probe = assigned2.where(F.col("cell").isin([0, 2]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # counts preserved through the persisted layout
    assert assigned2.count() == vecs.count()
    qdf = _queries_df(spark, vecs, [3])
    res = ivf_knn(assigned2, cents2, qdf, k=5, nprobe=4)
    assert res.count() == 5


def test_pq_encode_shape_and_determinism(spark, embeddings):
    from vector_database_spark.operators.ann import pq_encode, pq_train

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    books = pq_train(vecs, m=8, n_centroids=16, iters=4, seed=5)
    assert len(books) == 8
    assert all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # 64/8 dims each
    codes = pq_encode(vecs, books)
    rows = codes.select("id", "code").orderBy("id").limit(5).collect()
    assert all(len(bytes(r.code)) == 8 for r in rows)  # 8 bytes per vector
    # deterministic: retrain + re-encode gives identical codes
    books2 = pq_train(vecs, m=8, n_centroids=16, iters=4, seed=5)
    assert books == books2
    rows2 = pq_encode(vecs, books2).select("id", "code").orderBy("id").limit(5).collect()
    assert [bytes(r.code) for r in rows] == [bytes(r.code) for r in rows2]


def test_pq_knn_recall_with_refine(spark, embeddings):
    from vector_database_spark.operators.ann import pq_encode, pq_train, pq_knn

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    books = pq_train(vecs, m=8, n_centroids=16, iters=6, seed=5)
    codes = pq_encode(vecs, books)
    qids = [3, 99, 250]
    qdf = _queries_df(spark, vecs, qids)
    approx = pq_knn(codes, books, qdf, k=10, refine_factor=8)
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    exact = knn(vecs, panel, k=10)
    ex, ap = {}, {}
    for r in exact.collect():
        ex.setdefault(r.qid, set()).add(r.id)
    for r in approx.collect():
        ap.setdefault(r.qid, set()).add(r.id)
    for q in qids:
        recall = len(ex[q] & ap.get(q, set())) / 10
        assert recall >= 0.8, f"qid={q} recall={recall}"
        # exact refine: surviving distances match brute distances, so
        # the query point itself must always rank first
        assert q in ap[q]


def test_ivfadc_recall(spark, embeddings):
    from vector_database_spark.operators.ann import ivfadc_build, ivfadc_knn

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    codes, cents, books = ivfadc_build(
        vecs, n_cells=8, m=8, n_centroids=16, iters=4, seed=5
    )
    codes = codes.persist()
    qids = [3, 99]
    qdf = _queries_df(spark, vecs, qids)
    approx = ivfadc_knn(codes, cents, books, qdf, k=10, nprobe=7, refine_factor=8)
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    exact = knn(vecs, panel, k=10)
    ex, ap = {}, {}
    for r in exact.collect():
        ex.setdefault(r.qid, set()).add(r.id)
    for r in approx.collect():
        ap.setdefault(r.qid, set()).add(r.id)
    for q in qids:
        recall = len(ex[q] & ap.get(q, set())) / 10
        assert recall >= 0.7, f"qid={q} recall={recall}"
    codes.unpersist()


def test_ivfadc_persistence_roundtrip(spark, embeddings):
    import tempfile

    from vector_database_spark.operators.ann import (
        ivfadc_build,
        ivfadc_knn,
        ivfadc_read,
        ivfadc_write,
    )

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    codes, cents, books = ivfadc_build(
        vecs, n_cells=4, m=8, n_centroids=16, iters=3, seed=5
    )
    path = tempfile.mkdtemp() + "/ivfadc"
    ivfadc_write(codes, cents, books, path)
    codes2, cents2, books2 = ivfadc_read(spark, path)
    assert cents2 == cents and books2 == books
    assert codes2.count() == vecs.count()
    # probe reads are partition-pruned on cell
    probe = codes2.where(F.col("cell").isin([0, 2]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    qdf = _queries_df(spark, vecs, [3])
    res = ivfadc_knn(codes2, cents2, books2, qdf, k=5, nprobe=4)
    assert res.count() == 5


def test_sq8_roundtrip_error_and_codes(spark, embeddings):
    from vector_database_spark.operators.ann import (
        sq8_decode,
        sq8_encode,
        sq8_profile,
        sq8_stats,
    )

    # deterministic subset: limit() may pick different rows between the
    # stats job and the encode job, putting values outside [lo, hi]
    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).where(F.col("id") < 300)
    lo, hi = sq8_stats(vecs)
    dims = len(lo)
    assert dims == len(hi) and all(l <= h for l, h in zip(lo, hi))
    enc = sq8_encode(vecs, lo, hi)
    rows = enc.select("id", "vector", "codes").collect()
    for r in rows[:50]:
        assert len(r.codes) == dims
        assert all(0 <= c <= 255 for c in r.codes)
    # reconstruction: max |v - deq| <= cell width per dimension
    deq = enc.select(
        "id", "vector", sq8_decode("codes", lo, hi).alias("deq")
    ).collect()
    for r in deq[:50]:
        for i, (v, d) in enumerate(zip(r.vector, r.deq)):
            width = (hi[i] - lo[i]) / 255 or 1e-12
            assert abs(v - d) <= width * 0.51, (i, v, d, width)
    prof = sq8_profile(vecs)
    p = {r.id: r for r in prof.collect()}
    assert len(p) == 300
    mean_dim_range = sum(h - l for l, h in zip(lo, hi)) / dims
    for r in list(p.values())[:50]:
        assert 0 <= r.code_min <= r.code_max <= 255
        # mse bounded by the mean squared cell width (loose upper bound)
        assert r.mse <= (mean_dim_range / 255) ** 2 * 4 + 1e-9


def test_sq8_constant_dimension(spark):
    from vector_database_spark.operators.ann import sq8_encode, sq8_stats

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), 5.0]) for i in range(20)],
        "id long, vector array<float>",
    )
    lo, hi = sq8_stats(vecs)
    assert lo[1] == hi[1] == 5.0
    rows = sq8_encode(vecs, lo, hi).collect()
    assert all(r.codes[1] == 0 for r in rows)  # constant dim -> code 0
    # varying dim hits both ends of the code range
    codes0 = {r.codes[0] for r in rows}
    assert 0 in codes0 and 255 in codes0


def test_sq8_knn_recall_exact_after_rerank(spark, embeddings):
    from vector_database_spark.operators.ann import (
        sq8_encode,
        sq8_knn,
        sq8_stats,
    )

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    lo, hi = sq8_stats(vecs)
    enc = sq8_encode(vecs, lo, hi)
    qids = [3, 99, 250]
    qdf = _queries_df(spark, vecs, qids)
    approx = sq8_knn(enc, lo, hi, qdf, k=10, refine_factor=8)
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    exact = knn(vecs, panel, k=10)
    ex, ap = {}, {}
    for r in exact.collect():
        ex.setdefault(r.qid, set()).add(r.id)
    for r in approx.collect():
        ap.setdefault(r.qid, set()).add(r.id)
    for q in qids:
        recall = len(ex[q] & ap.get(q, set())) / 10
        assert recall >= 0.9, f"qid={q} recall={recall}"
        assert q in ap[q]  # the query point itself survives the shortlist


def test_sq8_persistence_roundtrip(spark, embeddings):
    import tempfile

    from vector_database_spark.operators.ann import (
        sq8_encode,
        sq8_knn,
        sq8_read,
        sq8_stats,
        sq8_write,
    )

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).where(F.col("id") < 400)
    lo, hi = sq8_stats(vecs)
    enc = sq8_encode(vecs, lo, hi)
    path = tempfile.mkdtemp() + "/sq8"
    sq8_write(enc, lo, hi, path)
    enc2, lo2, hi2 = sq8_read(spark, path)
    assert lo2 == lo and hi2 == hi
    assert enc2.count() == 400
    qdf = _queries_df(spark, vecs, [3])
    res = sq8_knn(enc2, lo2, hi2, qdf, k=5)
    assert res.count() == 5
    # compressed-only layout drops the raw vectors
    sq8_write(enc, lo, hi, path + "_c", keep_vectors=False)
    enc3, _, _ = sq8_read(spark, path + "_c")
    assert "vector" not in enc3.columns and "codes" in enc3.columns


def test_standardize_moments_and_roundtrip(spark, embeddings):
    import numpy as np

    from vector_database_spark.operators.ann import standardize

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).where(F.col("id") < 500)
    out, means, stds = standardize(vecs)
    M = np.asarray([list(r.vector) for r in out.collect()])
    # standardized columns have mean ~0 and pop-std ~1
    assert np.abs(M.mean(axis=0)).max() < 1e-9
    assert np.abs(M.std(axis=0) - 1.0).max() < 1e-9
    # constant dim -> 0
    cvecs = spark.createDataFrame(
        [(i, [float(i), 7.0]) for i in range(10)],
        "id long, vector array<float>",
    )
    cout, _, cstds = standardize(cvecs)
    assert cstds[1] == 0.0
    assert all(r.vector[1] == 0.0 for r in cout.collect())


def test_ivf_assign_expr_matches_blas_kernel(spark, embeddings):
    """a01's oracle-gated expression-path assignment must agree
    cell-for-cell with the dgemm kernel (`_assign_cells`) on the same
    centroids — the scale path and the hash-gated path are twins."""
    from vector_database_spark.operators.ann import (
        _assign_cells,
        ivf_assign_expr,
    )

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    from vector_database_spark.workload import _seeded_rows

    cents = _seeded_rows(vecs, "a01", 8)
    expr_cells = {
        r["id"]: r["cell"] for r in ivf_assign_expr(vecs, cents).collect()
    }
    blas_cells = {
        r["id"]: r["cell"]
        for r in _assign_cells(
            vecs.select("id", F.col("vector").cast("array<double>").alias("vector")),
            cents,
        ).collect()
    }
    assert expr_cells == blas_cells
    assert len(expr_cells) == vecs.count()


def test_nearest_centroid_twins_agree_on_exact_ties(spark):
    """The four nearest-centroid choosers pick the same cells in the
    same order for every nprobe: the BLAS kernel (`_assign_cells`),
    the row expression (`ivf_assign_expr`), the query-panel crossJoin
    (`_nearest_cells`) and the driver fold (`_probe_cells`). Integer
    grid vectors and centroids make BLAS d2 and the left-to-right fold
    both exact, so exact distance ties occur (a duplicated centroid
    ties on every row); the lowest cell must win each."""
    import random
    from functools import reduce

    from vector_database_spark.operators.ann import (
        _assign_cells,
        _centroid_frame,
        _nearest_cells,
        _probe_cells,
        ivf_assign_expr,
    )

    rng = random.Random(5)
    cents = [[float(rng.randint(-2, 2)) for _ in range(3)] for _ in range(5)]
    cents.append(list(cents[1]))
    n_cells = len(cents)
    rows = [(i, [float(rng.randint(-3, 3)) for _ in range(3)]) for i in range(80)]
    vecs = spark.createDataFrame(rows, "id long, vector array<double>")
    qdf = spark.createDataFrame(rows, "qid long, qvec array<double>")
    sweep = range(1, n_cells + 1)

    # the driver fold is the reference order; check its tie rule first
    want = {}
    n_ties = 0
    for i, v in rows:
        ranked = _probe_cells(v, cents)
        for (d0, c0), (d1, c1) in zip(ranked, ranked[1:]):
            assert d0 < d1 or (d0 == d1 and c0 < c1), (i, ranked)
            n_ties += d0 == d1
        want[i] = [c for _, c in ranked]
        assert [c for _, c in _probe_cells(v, cents, 2)] == want[i][:2]
    assert n_ties >= len(rows)

    def swept(build):
        return reduce(
            lambda a, b: a.unionByName(b),
            [build(p).withColumn("np", F.lit(p)) for p in sweep],
        )

    for name, build in (
        ("kernel", lambda p: _assign_cells(vecs, cents, p)),
        ("expr", lambda p: ivf_assign_expr(vecs, cents, nprobe=p)),
    ):
        all_p = swept(build).collect()
        for p in sweep:
            got = {}
            for r in sorted(
                (r for r in all_p if r["np"] == p), key=lambda r: r["pr"]
            ):
                got.setdefault(r["id"], []).append(r["cell"])
            assert got == {i: w[:p] for i, w in want.items()}, (name, p)
    near = swept(
        lambda p: _nearest_cells(qdf, _centroid_frame(spark, cents), p)
    ).collect()
    for p in sweep:
        got = {}
        for r in near:
            if r["np"] == p:
                got.setdefault(r["qid"], set()).add(r["cell"])
        assert got == {i: set(w[:p]) for i, w in want.items()}, ("crossJoin", p)
    # nprobe=None attaches the member cell: the nprobe=1 choice
    for df in (_assign_cells(vecs, cents), ivf_assign_expr(vecs, cents)):
        assert {r["id"]: r["cell"] for r in df.collect()} == {
            i: w[0] for i, w in want.items()
        }


def test_pq_encode_expr_matches_kernel(spark, embeddings):
    """a03's oracle-gated expression encoder must agree with the
    dgemm kernel (`pq_encode`) on the same codebooks. The two compute
    d2 with different FP groupings ((x-c)^2 folds vs x2-2xc+c2
    BLAS), so agreement is required except where a codeword pair is a
    genuine near-tie (top-2 d2 within 1e-9)."""
    import numpy as np

    from vector_database_spark.operators.ann import (
        _subspace_bounds,
        pq_encode,
        pq_encode_expr,
    )

    vecs = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    from vector_database_spark.workload import _seeded_rows

    full = _seeded_rows(vecs, "a03", 16)
    bounds = _subspace_bounds(64, 8)
    books = [[v[lo:hi] for v in full] for lo, hi in bounds]
    expr_codes = {
        r["id"]: list(r["codes"])
        for r in pq_encode_expr(vecs, books).collect()
    }
    kern = {
        r["id"]: list(bytes(r["code"]))
        for r in pq_encode(vecs, books).select("id", "code").collect()
    }
    vec_by_id = {r["id"]: np.asarray(r["vector"]) for r in vecs.collect()}
    C = [np.asarray(b) for b in books]
    mismatches = 0
    for vid, ec in expr_codes.items():
        kc = kern[vid]
        for j, (a, b) in enumerate(zip(ec, kc)):
            if a == b:
                continue
            lo, hi = bounds[j]
            d2 = ((vec_by_id[vid][lo:hi][None, :] - C[j]) ** 2).sum(axis=1)
            top2 = np.sort(d2)[:2]
            assert top2[1] - top2[0] < 1e-9, (vid, j, a, b, top2)
            mismatches += 1
    # near-ties must be rare — the codes are substantively identical
    assert mismatches <= len(expr_codes) * 8 * 0.001


def test_pca_power_fixedpoint_aligns_with_numpy(spark, embeddings):
    """The fixed-point power iteration must converge to numpy's
    dominant eigenvector of the quantized Gram matrix (up to sign and
    quantization): |cosine| > 0.999 after 8 iterations, components
    bounded by the scale, max |component| == scale."""
    import numpy as np

    from vector_database_spark.operators.linalg import (
        pca_power_fixedpoint,
    )

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    v = np.asarray(
        pca_power_fixedpoint(vecs, squarings=6), dtype=np.float64
    )
    assert np.abs(v).max() == 1_000_000
    X = np.asarray(
        [
            np.floor(np.asarray(r["vector"], dtype=np.float64) * 1e6)
            for r in vecs.collect()
        ]
    )
    G = X.T @ X
    eig_vals, eig_vecs = np.linalg.eigh(G)
    top = eig_vecs[:, -1]
    cos = abs(float(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos > 0.99, cos


def test_filtered_knn_equals_filtered_brute_at_full_probe(spark, embeddings):
    """ivf_knn(where=...) is filter-then-rank: with nprobe = all
    cells it must EQUAL brute-force kNN over the predicate-filtered
    corpus, and every returned id must satisfy the predicate."""
    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    assigned, cents = ivf_build(vecs, n_cells=8, iters=2)
    qids = [3, 99]
    qdf = _queries_df(spark, vecs, qids)
    got = ivf_knn(
        assigned, cents, qdf, k=10, nprobe=8, where="id % 4 = 1"
    ).collect()
    assert got and all(r.id % 4 == 1 for r in got)
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    exact = knn(vecs.where(F.col("id") % 4 == 1), panel, k=10)
    want = {(r.qid, r.id) for r in exact.collect()}
    assert {(r.qid, r.id) for r in got} == want


def test_ivf_append_equals_reassign_build(spark, embeddings, tmp_path):
    """Incremental IVF ingest (round-5 verdict item 5): appending a
    batch assigns it to the EXISTING centroids and extends the
    per-cell layout, so append-then-search must EQUAL assigning the
    whole corpus under those centroids in one shot — same cells for
    same rows, no rows lost or duplicated, identical kNN output."""
    from vector_database_spark.operators.ann import (
        _assign_cells,
        ivf_append,
        ivf_read,
        ivf_write,
    )

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    base = vecs.where(F.col("id") % 4 != 0)
    batch = vecs.where(F.col("id") % 4 == 0)
    assigned, cents = ivf_build(base, n_cells=8, iters=2)
    path = str(tmp_path / "ivf")
    ivf_write(assigned, cents, path)
    info = ivf_append(spark, path, batch, retrain="never")
    assert info["appended"] == batch.count() and not info["retrained"]

    stored, cents2 = ivf_read(spark, path)
    assert cents2 == cents
    want_assign = {
        (r.id, r.cell) for r in _assign_cells(vecs, cents).collect()
    }
    got_assign = {(r.id, r.cell) for r in stored.collect()}
    assert got_assign == want_assign  # exact layout, no loss/dup

    qids = [3, 99, 250]
    qdf = _queries_df(spark, vecs, qids)
    got = {
        (r.qid, r.id, r.rank)
        for r in ivf_knn(stored, cents, qdf, k=10, nprobe=4).collect()
    }
    want = {
        (r.qid, r.id, r.rank)
        for r in ivf_knn(
            _assign_cells(vecs, cents), cents, qdf, k=10, nprobe=4
        ).collect()
    }
    assert got == want


def test_ivf_append_drift_triggers_retrain(spark, embeddings, tmp_path):
    """A batch from a shifted distribution must raise the drift metric
    past the threshold and (under retrain='auto') trigger a full
    centroid rebuild; retrain='never' reports the same drift without
    rebuilding."""
    from vector_database_spark.operators.ann import ivf_append, ivf_read, ivf_write

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    base = vecs.where(F.col("id") % 4 != 0)
    shifted = (
        vecs.where(F.col("id") % 4 == 0)
        .select(
            (F.col("id") + 1_000_000).alias("id"),
            F.transform(
                F.col("vector"), lambda x: x * F.lit(5.0) + F.lit(7.0)
            ).alias("vector"),
        )
    )
    assigned, cents = ivf_build(base, n_cells=8, iters=2)
    p1 = str(tmp_path / "ivf_never")
    ivf_write(assigned, cents, p1)
    info1 = ivf_append(spark, p1, shifted, retrain="never")
    assert info1["drift"] > 0.25 and not info1["retrained"]
    _, c1 = ivf_read(spark, p1)
    assert c1 == cents  # untouched

    p2 = str(tmp_path / "ivf_auto")
    ivf_write(assigned, cents, p2)
    info2 = ivf_append(spark, p2, shifted, retrain="auto")
    assert info2["retrained"]
    stored2, c2 = ivf_read(spark, p2)
    assert c2 != cents  # rebuilt over the merged corpus
    # the rebuilt layout still holds exactly base + batch
    assert stored2.count() == base.count() + shifted.count()


def test_filtered_knn_ensure_k_recall_on_selective_predicate(spark, embeddings):
    """The filtered-ANN result-count contract (round-5 verdict item
    4): a highly selective predicate with nprobe=1 starves queries;
    ensure_k=True escalates nprobe until every query has k rows.
    Exactness is asserted in the regime where it is GUARANTEED by
    construction — k == total qualifying rows, so every proper probe
    subset is short and escalation must run to full probe, where the
    filtered top-k equals brute force rank-for-rank (a k smaller
    than the qualifying count keeps ordinary probe-bounded recall —
    documented, not asserted)."""
    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    pred = "id % 83 = 5"
    n_qualifying = vecs.where(F.expr(pred)).count()
    assert 3 <= n_qualifying <= 64  # selective enough to starve nprobe=1
    k = n_qualifying
    assigned, cents = ivf_build(vecs, n_cells=8, iters=2)
    assigned = assigned.persist()
    qids = [3, 99, 250]
    qdf = _queries_df(spark, vecs, qids)
    # without escalation, nprobe=1 must starve at least one query
    # (otherwise the test exercises nothing)
    bare = ivf_knn(assigned, cents, qdf, k=k, nprobe=1, where=pred).collect()
    assert any(
        sum(1 for r in bare if r.qid == q) < k for q in qids
    )
    got = ivf_knn(
        assigned, cents, qdf, k=k, nprobe=1, where=pred, ensure_k=True
    ).collect()
    assert all(r.id % 83 == 5 for r in got)
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    exact = knn(vecs, panel, k=k, where=pred)
    want = {(r.qid, r.id, r.rank) for r in exact.collect()}
    assert {(r.qid, r.id, r.rank) for r in got} == want
    for q in qids:  # every query fully satisfied
        assert sum(1 for r in got if r.qid == q) == k
    assigned.unpersist()


def test_ivfadc_append_equals_oneshot_encode(spark, embeddings, tmp_path):
    """Compressed-layout ingest: appending a batch through the stored
    centroids/codebooks must equal one-shot encoding of the whole
    corpus under that model — same cell AND same 8-byte code per row,
    identical IVFADC search — and retrain on a codes-only layout must
    refuse (the vectors needed to retrain are not stored)."""
    import pytest as _pytest

    from vector_database_spark.operators.ann import (
        ivfadc_append,
        ivfadc_build,
        ivfadc_encode,
        ivfadc_knn,
        ivfadc_read,
        ivfadc_write,
    )

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    base = vecs.where(F.col("id") % 4 != 0)
    batch = vecs.where(F.col("id") % 4 == 0)
    codes, cents, books = ivfadc_build(base, n_cells=8, m=8, iters=2)
    path = str(tmp_path / "ivfadc")
    ivfadc_write(codes, cents, books, path)
    info = ivfadc_append(spark, path, batch, retrain="never")
    assert info["appended"] == batch.count() and not info["retrained"]

    stored, c2, b2 = ivfadc_read(spark, path)
    assert c2 == cents and b2 == books
    want = {
        (r.id, r.cell, bytes(r.code))
        for r in ivfadc_encode(
            vecs.select("id", F.col("vector").cast("array<float>").alias("vector")),
            cents, books,
        ).collect()
    }
    got = {(r.id, r.cell, bytes(r.code)) for r in stored.collect()}
    assert got == want

    qids = [3, 99]
    qdf = _queries_df(spark, vecs, qids)
    gk = {
        (r.qid, r.id, r.rank)
        for r in ivfadc_knn(stored, cents, books, qdf, k=10, nprobe=8).collect()
    }
    wk = {
        (r.qid, r.id, r.rank)
        for r in ivfadc_knn(
            ivfadc_encode(vecs, cents, books), cents, books, qdf, k=10, nprobe=8
        ).collect()
    }
    assert gk == wk

    p2 = str(tmp_path / "ivfadc_codesonly")
    ivfadc_write(codes, cents, books, p2, keep_vectors=False)
    with _pytest.raises(ValueError, match="keep_vectors=False"):
        ivfadc_append(spark, p2, batch, retrain="always")


def test_ivf_retrain_shrinking_cells_drops_stale_partitions(spark, embeddings, tmp_path):
    """Retrain rewrites the WHOLE layout with static overwrite: a
    rebuild that shrinks the cell count must leave no stale cell
    dirs (the session default is dynamic partition overwrite, which
    cannot drop partitions — the repo's documented hazard; a stale
    cell would duplicate every row it holds)."""
    from vector_database_spark.operators.ann import ivf_append, ivf_read, ivf_write

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    base = vecs.where(F.col("id") % 4 != 0)
    batch = vecs.where(F.col("id") % 4 == 0)
    assigned, cents = ivf_build(vecs.where(F.col("id") % 4 != 0), n_cells=8, iters=2)
    path = str(tmp_path / "ivf_shrink")
    ivf_write(assigned, cents, path)
    info = ivf_append(spark, path, batch, retrain="always", n_cells=4)
    assert info["retrained"]
    stored, cents2 = ivf_read(spark, path)
    assert len(cents2) == 4
    assert stored.count() == vecs.count()  # no duplicated rows
    assert stored.select("id").distinct().count() == vecs.count()
    cells = {r.cell for r in stored.select("cell").distinct().collect()}
    assert cells <= {0, 1, 2, 3}, f"stale cells survived: {cells}"


def test_recall_at_k_metric(spark):
    """recall_at_k: per-query hit counting against exact truth, the
    optional k cut, and zero-recall queries present in the output."""
    from vector_database_spark.operators.ann import recall_at_k

    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1), (2, 21, 2)],
        "qid long, id long, rank long",
    )
    got = spark.createDataFrame(
        [(1, 10, 1), (1, 99, 2), (1, 12, 3), (2, 77, 1), (2, 78, 2)],
        "qid long, id long, rank long",
    )
    r = {x.qid: (x.n_truth, x.n_hit, x.recall) for x in
         recall_at_k(got, truth).collect()}
    assert r[1] == (3, 2, 2 / 3) and r[2] == (5 - 3, 0, 0.0)
    r2 = {x.qid: x.recall for x in recall_at_k(got, truth, k=1).collect()}
    assert r2[1] == 1.0 and r2[2] == 0.0


def test_bq_hamming_matches_numpy_popcount(spark):
    """Sign-bit lanes + Hamming vs a numpy bit-for-bit replay."""
    import numpy as np

    from vector_database_spark.operators.ann import bq_encode

    rng = np.random.default_rng(17)
    dim = 48  # exercises a partial final lane (48 = 32 + 16)
    vecs = (rng.standard_normal((20, dim)) * 2).astype(np.float64)
    vecs[0, :] = 0.0  # all-zero vector: >= 0 sets every bit
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "id long, vector array<double>",
    )
    got = {r["id"]: list(r["code"]) for r in bq_encode(df, dim=dim).collect()}

    for i in range(len(vecs)):
        bits = (vecs[i] >= 0).astype(np.int64)
        want = [
            int(sum(bits[lo + j] << j for j in range(min(32, dim - lo))))
            for lo in range(0, dim, 32)
        ]
        assert got[i] == want, f"row {i}"


def test_bq_knn_full_candidates_equals_exact_cosine_knn(spark, embeddings):
    """With m = n (every row survives the Hamming cut) the rerank is
    an exact full-scan cosine kNN — must equal `search.knn(cosine)`
    id-for-id, rank-for-rank."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.ann import bq_knn
    from vector_database_spark.operators.search import knn

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    n = vecs.count()
    panel = [
        (int(r["id"]), [float(x) for x in r["vector"]])
        for r in vecs.where(F.col("id").isin([3, 99])).collect()
    ]
    got = bq_knn(vecs, panel, 5, dim=64, m=n).orderBy("qid", "rank").collect()
    want = (
        knn(vecs, panel, 5, metric="cosine").orderBy("qid", "rank").collect()
    )
    assert [(r["qid"], r["id"], r["rank"]) for r in got] == [
        (r["qid"], r["id"], r["rank"]) for r in want
    ]


def test_bq_knn_rejects_m_below_k(spark, embeddings):
    import pytest
    from pyspark.sql import functions as F

    from vector_database_spark.operators.ann import bq_knn

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    with pytest.raises(ValueError, match="must be >= k"):
        bq_knn(vecs, [(0, [0.0] * 64)], 8, dim=64, m=4)


def _emb_vecs(embeddings):
    from pyspark.sql import functions as F

    return embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )


def test_knn_join_dgemm_matches_expr(spark, embeddings):
    """The bulk BLAS path == the oracle expression path on the a08
    rig (same centroids): cell assignment, probes, and the final
    (dist, id) top-k are identical."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.ann import knn_join
    from vector_database_spark.workload import _seeded_rows

    vecs = _emb_vecs(embeddings)
    cents = _seeded_rows(vecs, "a08", 8)
    q = vecs.where(F.col("id") < 30)
    a = knn_join(q, vecs, 5, centroids=cents, nprobe=2, method="expr")
    b = knn_join(q, vecs, 5, centroids=cents, nprobe=2, method="dgemm")
    ka = [(r["qid"], r["id"], r["rank"]) for r in a.orderBy("qid", "rank").collect()]
    kb = [(r["qid"], r["id"], r["rank"]) for r in b.orderBy("qid", "rank").collect()]
    assert ka == kb


def test_knn_join_full_probe_equals_exact_knn(spark, embeddings):
    """nprobe = n_cells probes every cell — the join must equal the
    exact `search.knn` (including each query finding ITSELF at dist
    0: exclude_self=False is the cross-table contract)."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.ann import knn_join
    from vector_database_spark.operators.search import knn
    from vector_database_spark.workload import _seeded_rows

    vecs = _emb_vecs(embeddings)
    cents = _seeded_rows(vecs, "a08", 8)
    q = vecs.where(F.col("id") < 20)
    got = knn_join(q, vecs, 5, centroids=cents, nprobe=8, method="dgemm")
    panel = [
        (int(r["id"]), [float(x) for x in r["vector"]])
        for r in q.collect()
    ]
    want = knn(vecs, panel, 5)
    g = [(r["qid"], r["id"], r["rank"]) for r in got.orderBy("qid", "rank").collect()]
    w = [(r["qid"], r["id"], r["rank"]) for r in want.orderBy("qid", "rank").collect()]
    assert g == w
    by_q = {t[0]: t for t in g if t[2] == 1}
    for qid, row in by_q.items():
        assert row[1] == qid  # rank 1 is the query's own corpus row


def test_mips_knn_full_probe_equals_exact_dot(spark, embeddings):
    """nprobe = n_cells probes every cell, so the norm-augmented IVF
    MIPS must equal the exact full-scan `search.knn(metric='dot')`
    (v25's tier) id-for-id, rank-for-rank — the augmented distance
    only prunes, scoring is the exact inner product."""
    from vector_database_spark.operators.ann import mips_knn
    from vector_database_spark.operators.search import knn

    vecs = _emb_vecs(embeddings)
    qids = [1, 44, 307]
    qdf = _queries_df(spark, vecs, qids)
    got = mips_knn(vecs, qdf, 10, n_cells=6, nprobe=6, method="dgemm")
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    want = knn(vecs, panel, 10, metric="dot")
    g = [
        (r["qid"], r["id"], r["rank"])
        for r in got.orderBy("qid", "rank").collect()
    ]
    w = [
        (r["qid"], r["id"], r["rank"])
        for r in want.orderBy("qid", "rank").collect()
    ]
    assert g == w


def test_mips_knn_expr_matches_dgemm(spark, embeddings):
    """Augmented-space assignment: the Arrow BLAS kernel == the
    Catalyst fold path cell-for-cell on the seeded-centroid rig
    (the a01 kernel==expr rule applied to the MIPS reduction)."""
    import math

    from vector_database_spark.operators.ann import mips_knn, mips_max_norm2
    from vector_database_spark.workload import _seeded_rows

    vecs = _emb_vecs(embeddings)
    m2 = mips_max_norm2(vecs)
    cents = _seeded_rows(vecs, "v26", 6)

    def aug(c):
        s = 0.0
        for x in c:
            s += x * x
        return list(c) + [math.sqrt(max(0.0, m2 - s))]

    caug = [aug(c) for c in cents]
    qdf = _queries_df(spark, vecs, [5, 123])
    a = mips_knn(
        vecs, qdf, 8, centroids=caug, nprobe=3, method="expr", m2=m2
    )
    b = mips_knn(
        vecs, qdf, 8, centroids=caug, nprobe=3, method="dgemm", m2=m2
    )
    ka = [(r["qid"], r["id"], r["rank"]) for r in a.orderBy("qid", "rank").collect()]
    kb = [(r["qid"], r["id"], r["rank"]) for r in b.orderBy("qid", "rank").collect()]
    assert ka == kb and len(ka) == 16


def test_knn_join_layout_served_equals_inline(spark, embeddings):
    """Round-8 verdict item 4: a join served off a stored `ivf_write`
    layout == the inline-built join with the same centroids,
    row-for-row — repeated joins skip the per-call corpus assignment
    entirely (the bq_knn(codes=)/graph-layout store-once pattern)."""
    import tempfile

    from vector_database_spark.operators.ann import (
        ivf_write,
        knn_join,
        _assign_cells,
    )
    from vector_database_spark.workload import _seeded_rows

    vecs = _emb_vecs(embeddings)
    cents = _seeded_rows(vecs, "a08", 8)
    path = tempfile.mkdtemp() + "/layout"
    ivf_write(_assign_cells(vecs, cents), cents, path)
    q = vecs.where(F.col("id") < 25)
    inline = knn_join(q, vecs, 5, centroids=cents, nprobe=3)
    served = knn_join(q, None, 5, nprobe=3, layout_path=path)
    a = sorted(map(tuple, inline.collect()))
    b = sorted(map(tuple, served.collect()))
    assert a == b and len(a) == 25 * 5


def test_bq_cells_full_probe_equals_scan_and_assign_parity(
    spark, embeddings
):
    """Cell-pruned BQ (round-9 verdict item 1): nprobe = n_cells must
    reproduce the unpruned Hamming scan EXACTLY (cells partition the
    corpus, a full probe sees every code), the Lloyd-trained dgemm
    assignment == the expression-path assignment cell-for-cell (the
    a01 parity rule applied to the code layout), and a sub-full probe
    still returns k rows per query with exact reported distances."""
    from vector_database_spark.operators.ann import bq_build, bq_knn
    from vector_database_spark.workload import _seeded_rows

    vecs = _emb_vecs(embeddings)
    panel = [
        (int(r.id), list(r.vector))
        for r in vecs.where(F.col("id").isin([3, 99, 250])).collect()
    ]
    cents = _seeded_rows(vecs, "bqc", 8)
    codes_d, _ = bq_build(vecs, dim=64, centroids=cents)
    codes_e, _ = bq_build(vecs, dim=64, centroids=cents,
                          assign_method="expr")
    a = sorted((r.id, r.cell, tuple(r.code)) for r in codes_d.collect())
    b = sorted((r.id, r.cell, tuple(r.code)) for r in codes_e.collect())
    assert a == b
    full = sorted(
        map(tuple, bq_knn(vecs, panel, 10, dim=64, m=40).collect())
    )
    probed_all = sorted(
        map(
            tuple,
            bq_knn(
                vecs, panel, 10, dim=64, m=40, codes=codes_d,
                centroids=cents, nprobe=8,
            ).collect(),
        )
    )
    assert full == probed_all and len(full) == 30
    # Lloyd-trained layout (no given centroids), sub-full probe:
    # k rows per query, candidate hamming/cosine exact on survivors
    codes_t, cents_t = bq_build(vecs, dim=64, n_cells=8, seed=11)
    sub = bq_knn(
        vecs, panel, 10, dim=64, m=40, codes=codes_t, centroids=cents_t,
        nprobe=2,
    )
    rows = sub.collect()
    per_q = {}
    for r in rows:
        per_q[r.qid] = per_q.get(r.qid, 0) + 1
    assert per_q == {3: 10, 99: 10, 250: 10}
    # missing cell column is rejected loudly
    import pytest

    with pytest.raises(ValueError, match="cell"):
        bq_knn(
            vecs, panel, 10, dim=64, codes=codes_t.select("id", "code"),
            centroids=cents_t,
        )
    # filtered BQ: where= on the FULL code table == the same search
    # over a corpus pre-filtered to qualifying rows (same centroids,
    # so cells agree row-for-row) — both with and without cells
    filt = vecs.where(F.col("id") % 2 == 0)
    fcodes, _ = bq_build(filt, dim=64, centroids=cents)
    for kw_full, kw_pre in (
        (
            dict(codes=codes_d, centroids=cents, nprobe=8),
            dict(codes=fcodes, centroids=cents, nprobe=8),
        ),
        (dict(), dict()),
    ):
        a = sorted(
            map(
                tuple,
                bq_knn(
                    vecs, panel, 10, dim=64, m=40, where="id % 2 = 0",
                    **kw_full,
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                bq_knn(filt, panel, 10, dim=64, m=40, **kw_pre).collect(),
            )
        )
        assert a == b and len(a) == 30


def test_knn_join_layout_query_collapse_is_identical(spark, embeddings):
    """Round-9 ADVICE: layout mode collapses the QUERY side — clone
    query vectors probe once via a representative and results fan
    back out, identical to the uncollapsed layout-served join
    row-for-row (with and without ensure_k escalation)."""
    import tempfile

    from vector_database_spark.operators.ann import (
        _assign_cells,
        ivf_write,
        knn_join,
    )
    from vector_database_spark.workload import _seeded_rows

    vecs = _emb_vecs(embeddings)
    corpus = vecs.where(F.col("id") < 200)
    cents = _seeded_rows(corpus, "a08", 8)
    path = tempfile.mkdtemp() + "/layout_qc"
    ivf_write(_assign_cells(corpus, cents), cents, path)
    # 15 unique queries + 12 clones of one query vector
    q = vecs.where(F.col("id") < 15)
    proto = vecs.where(F.col("id") == 4).select("vector").first()["vector"]
    q = q.unionByName(
        spark.range(12).select(
            (F.col("id") + 9000).alias("id"),
            F.lit([float(x) for x in proto])
            .cast("array<double>")
            .alias("vector"),
        )
    )
    for ek in (False, True):
        a = sorted(
            map(
                tuple,
                knn_join(
                    q, None, 5, nprobe=2, layout_path=path,
                    collapse_dups=True, ensure_k=ek,
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                knn_join(
                    q, None, 5, nprobe=2, layout_path=path,
                    collapse_dups=False, ensure_k=ek,
                ).collect(),
            )
        )
        assert a == b and len(a) == 27 * 5


def test_knn_join_layout_ensure_k_escalates_starved_queries(
    spark, embeddings
):
    """ensure_k on the layout-served join (round-8 ADVICE): a query
    whose probed cells hold fewer than k corpus rows escalates its
    nprobe (set-based, no driver qid list) until it has k rows;
    already-satisfied queries keep their lower-probe results."""
    import tempfile

    from vector_database_spark.operators.ann import (
        _assign_cells,
        ivf_write,
        knn_join,
    )
    from vector_database_spark.workload import _seeded_rows

    vecs = _emb_vecs(embeddings)
    # 40-row corpus over 16 cells: ~2.5 rows/cell, so nprobe=1
    # GUARANTEES starved queries (k=5 > any single cell)
    corpus = vecs.where(F.col("id") < 40)
    cents = _seeded_rows(corpus, "a08", 16)
    path = tempfile.mkdtemp() + "/layout_ek"
    ivf_write(_assign_cells(corpus, cents), cents, path)
    q = vecs.where(F.col("id") < 40)
    plain = knn_join(q, None, 5, nprobe=1, layout_path=path)
    ek = knn_join(q, None, 5, nprobe=1, layout_path=path, ensure_k=True)
    counts_plain = {
        r["qid"]: r["n"]
        for r in plain.groupBy("qid").agg(F.count("*").alias("n")).collect()
    }
    counts_ek = {
        r["qid"]: r["n"]
        for r in ek.groupBy("qid").agg(F.count("*").alias("n")).collect()
    }
    assert all(v == 5 for v in counts_ek.values()) and len(counts_ek) == 40
    # satisfied-at-nprobe-1 queries answer identically
    sat = {q_ for q_, n in counts_plain.items() if n >= 5}
    a = {
        (r.qid, r.id, r.rank) for r in plain.collect() if r.qid in sat
    }
    b = {(r.qid, r.id, r.rank) for r in ek.collect() if r.qid in sat}
    assert a == b
    # the rig guarantees starvation (no 16-cell split of 40 rows can
    # give every query 5 rows at nprobe=1) — the escalation body ran
    starved = set(counts_plain) - sat
    assert starved
    assert all(counts_ek[s] == 5 for s in starved)


def test_mips_knn_filtered_full_probe_equals_filtered_exact(
    spark, embeddings
):
    """mips_knn(where=) at nprobe = n_cells == the exact dot-product
    top-k over the PREDICATE-FILTERED corpus (filter-then-rank, the
    a07/v19 contract on the MIPS tier)."""
    from vector_database_spark.operators.ann import mips_knn
    from vector_database_spark.operators.search import knn

    vecs = _emb_vecs(embeddings)
    qdf = _queries_df(spark, vecs, [2, 77])
    got = mips_knn(
        vecs, qdf, 8, n_cells=6, nprobe=6, method="dgemm",
        where="id % 2 = 0",
    )
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    want = knn(vecs.where(F.col("id") % 2 == 0), panel, 8, metric="dot")
    g = [
        (r["qid"], r["id"], r["rank"])
        for r in got.orderBy("qid", "rank").collect()
    ]
    w = [
        (r["qid"], r["id"], r["rank"])
        for r in want.orderBy("qid", "rank").collect()
    ]
    assert g == w and len(g) == 16
    assert all(i % 2 == 0 for _q, i, _r in g)


def test_mips_layout_roundtrip_serving(spark, embeddings):
    """mips_write/mips_read + mips_knn(assigned=) — the durable
    serving loop: layout-served results == the in-memory build, and
    the stored vectors table partition-prunes on cell."""
    import tempfile

    from vector_database_spark.operators.ann import (
        mips_build,
        mips_knn,
        mips_read,
        mips_write,
    )

    vecs = _emb_vecs(embeddings)
    qdf = _queries_df(spark, vecs, [9, 200])
    assigned, cents, m2 = mips_build(vecs, n_cells=6, seed=13)
    want = [
        (r.qid, r.id, r.rank)
        for r in mips_knn(
            vecs, qdf, 7, nprobe=3, assigned=assigned, centroids=cents,
            m2=m2,
        ).orderBy("qid", "rank").collect()
    ]
    path = tempfile.mkdtemp() + "/mips"
    mips_write(assigned, cents, m2, path)
    a2, c2, m22 = mips_read(spark, path)
    assert c2 == cents and m22 == m2
    got = [
        (r.qid, r.id, r.rank)
        for r in mips_knn(
            vecs, qdf, 7, nprobe=3, assigned=a2, centroids=c2, m2=m22
        ).orderBy("qid", "rank").collect()
    ]
    assert got == want and len(got) == 14
    probe = a2.where(F.col("cell").isin([0, 2]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_mips_append_equals_rebuild_and_enforces_norm_bound(
    spark, embeddings
):
    """Round-9 verdict item 2: mips_append assigns the batch under
    the STORED augmented centroids, so append-then-serve == assigning
    the whole corpus under those centroids at once (row-for-row,
    served ranks identical). A batch whose max ||x||^2 exceeds the
    frozen m2 is REFUSED with the retrain escape hatch named;
    on_overflow='retrain' rebuilds the layout over the union with a
    new (larger) m2 and serving stays exact at full probe."""
    import tempfile

    import pytest

    from vector_database_spark.operators.ann import (
        _assign_cells,
        mips_append,
        mips_augment,
        mips_build,
        mips_knn,
        mips_read,
        mips_write,
    )
    from vector_database_spark.operators.search import knn

    vecs = _emb_vecs(embeddings)
    base = vecs.where(F.col("id") < 300)
    batch = vecs.where((F.col("id") >= 300) & (F.col("id") < 400))
    assigned, cents, m2 = mips_build(base, n_cells=6, seed=13)
    path = tempfile.mkdtemp() + "/mips_app"
    mips_write(assigned.localCheckpoint(), cents, m2, path)

    # the embeddings fixture is norm-diverse: only append rows within
    # the base's norm bound so the append path (not refusal) is hit
    from vector_database_spark.functions.vector import dot as _dot

    ok_batch = batch.where(_dot("vector", "vector") <= F.lit(m2))
    n_ok = ok_batch.count()
    assert n_ok > 0
    info = mips_append(spark, path, ok_batch)
    assert info["appended"] == n_ok and not info["retrained"]

    a2, c2, m22 = mips_read(spark, path)
    assert c2 == cents and m22 == m2
    # append == whole-corpus re-assignment under the same centroids
    want = _assign_cells(
        base.unionByName(ok_batch)
        .withColumn("avec", mips_augment("vector", m2))
        .select(
            "id", F.col("avec").alias("vector"),
            F.col("vector").alias("ovec"),
        ),
        cents,
    ).select("id", F.col("ovec").alias("vector"), "cell")
    got_rows = sorted(
        (r.id, r.cell, tuple(r.vector)) for r in a2.collect()
    )
    want_rows = sorted(
        (r.id, r.cell, tuple(r.vector)) for r in want.collect()
    )
    assert got_rows == want_rows

    # overflow refusal: scale one row above the stored norm bound
    hot = batch.limit(1).select(
        "id", F.transform("vector", lambda x: x * 10.0).alias("vector")
    )
    with pytest.raises(ValueError, match="norm bound|retrain"):
        mips_append(spark, path, hot)

    # retrain escape hatch: layout rebuilds over the union, new m2
    info = mips_append(spark, path, hot, on_overflow="retrain")
    assert info["retrained"] and info["m2"] > m2
    a3, c3, m23 = mips_read(spark, path)
    assert m23 == info["m2"] and a3.count() == 300 + n_ok + 1
    qdf = _queries_df(spark, vecs, [9, 200])
    got = [
        (r.qid, r.id, r.rank)
        for r in mips_knn(
            vecs, qdf, 7, nprobe=6, assigned=a3, centroids=c3, m2=m23
        ).orderBy("qid", "rank").collect()
    ]
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    corpus = base.unionByName(ok_batch).unionByName(hot)
    want_k = [
        (r["qid"], r["id"], r["rank"])
        for r in knn(corpus, panel, 7, metric="dot")
        .orderBy("qid", "rank")
        .collect()
    ]
    assert got == want_k


def test_mips_ensure_k_recall_under_selective_filter(spark, embeddings):
    """Round-9 verdict item 4: mips_knn(where=, ensure_k=True) on the
    stored-layout serve path escalates starved queries until k rows —
    at ~1% selectivity (the a07 regime) escalation runs to the full
    probe, where filtered MIPS is exact, so recall is 1.0 vs the
    exact filtered dot-product top-k."""
    from vector_database_spark.operators.ann import mips_build, mips_knn
    from vector_database_spark.operators.search import knn

    vecs = _emb_vecs(embeddings)
    assigned, cents, m2 = mips_build(vecs, n_cells=8, seed=5)
    assigned = assigned.localCheckpoint()
    qdf = _queries_df(spark, vecs, [2, 77, 310])
    pred = "id % 100 = 0"  # ~1%: 5 of 500 rows qualify
    # k=8 > the 5 qualifying rows — every proper probe subset is
    # short, so escalation provably runs to the full probe, where
    # filtered MIPS is exact (the a07 exactness regime)
    plain = mips_knn(
        vecs, qdf, 8, nprobe=1, assigned=assigned, centroids=cents,
        m2=m2, where=pred,
    )
    ek = mips_knn(
        vecs, qdf, 8, nprobe=1, assigned=assigned, centroids=cents,
        m2=m2, where=pred, ensure_k=True,
    )
    n_plain = plain.groupBy("qid").count().collect()
    got = [
        (r["qid"], r["id"], r["rank"])
        for r in ek.orderBy("qid", "rank").collect()
    ]
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    want = [
        (r["qid"], r["id"], r["rank"])
        for r in knn(
            vecs.where(F.expr(pred)), panel, 8, metric="dot"
        ).orderBy("qid", "rank").collect()
    ]
    assert got == want and len(got) == 15
    # the rig must actually starve at nprobe=1 so escalation ran
    assert all(r["count"] < 8 for r in n_plain)


def test_bq_ensure_k_under_selective_filter(spark, embeddings):
    """Round-10 verdict item 5: bq_knn(where=, ensure_k=True) on the
    cell-pruned path escalates starved queries (doubled nprobe) until
    k rows or all cells. k=8 > the 5 qualifying rows forces the full
    probe, where filtered BQ with m >= qualifying sees every
    qualifying row — the exact rerank then equals the exact filtered
    cosine top-k (the a07 regime, mirrored from the MIPS twin)."""
    from vector_database_spark.operators.ann import bq_build, bq_knn
    from vector_database_spark.operators.search import knn

    vecs = _emb_vecs(embeddings)
    codes, cents = bq_build(vecs, dim=64, n_cells=8, seed=5)
    codes = codes.localCheckpoint()
    qdf = _queries_df(spark, vecs, [2, 77, 310])
    pred = "id % 100 = 0"  # ~1%: 5 of 500 rows qualify
    plain = bq_knn(
        vecs, qdf, 8, dim=64, m=8, codes=codes, centroids=cents,
        nprobe=1, where=pred,
    )
    ek = bq_knn(
        vecs, qdf, 8, dim=64, m=8, codes=codes, centroids=cents,
        nprobe=1, where=pred, ensure_k=True,
    )
    n_plain = plain.groupBy("qid").count().collect()
    got = [
        (r["qid"], r["id"], r["rank"])
        for r in ek.orderBy("qid", "rank").collect()
    ]
    panel = [(r.qid, list(r.qvec)) for r in qdf.collect()]
    want = [
        (r["qid"], r["id"], r["rank"])
        for r in knn(
            vecs.where(F.expr(pred)), panel, 8, metric="cosine"
        ).orderBy("qid", "rank").collect()
    ]
    assert got == want and len(got) == 15
    # the rig must actually starve at nprobe=1 so escalation ran
    assert all(r["count"] < 8 for r in n_plain)


def test_bq_asym_full_candidates_equals_exact_cosine_knn(spark, embeddings):
    """scoring='asym' with m = n: every row survives the candidate
    cut, so the exact-cosine rerank equals `search.knn(cosine)` —
    the asym estimator changes WHICH rows survive a tight m, never
    the rerank. Output carries `score` instead of `hamming`."""
    from vector_database_spark.operators.ann import bq_knn
    from vector_database_spark.operators.search import knn

    vecs = _emb_vecs(embeddings)
    n = vecs.count()
    panel = [
        (int(r["id"]), [float(x) for x in r["vector"]])
        for r in vecs.where(F.col("id").isin([3, 99])).collect()
    ]
    got = bq_knn(
        vecs, panel, 5, dim=64, m=n, scoring="asym"
    ).orderBy("qid", "rank")
    assert "score" in got.columns and "hamming" not in got.columns
    want = (
        knn(vecs, panel, 5, metric="cosine").orderBy("qid", "rank").collect()
    )
    assert [(r["qid"], r["id"], r["rank"]) for r in got.collect()] == [
        (r["qid"], r["id"], r["rank"]) for r in want
    ]


def test_bq_asym_score_matches_numpy_replay(spark):
    """The asym candidate score is the exact integer fold
    sum_i floor(q_i * scale) * (2*bit_i - 1) — pinned against a
    numpy bit-for-bit replay (the bq_encode popcount-test pattern),
    including a partial final lane."""
    import numpy as np

    from vector_database_spark.operators.ann import bq_knn

    rng = np.random.default_rng(23)
    dim = 48  # partial final lane
    X = (rng.standard_normal((16, dim)) * 1.7).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "id long, vector array<double>",
    )
    q = [float(x) for x in X[4]]
    out = bq_knn(
        df, [(4, q)], len(X), dim=dim, m=len(X), scoring="asym"
    ).collect()
    qw = np.floor(np.asarray(q) * 1_000_000.0).astype(np.int64)
    for r in out:
        bits = (X[r["id"]] >= 0).astype(np.int64)
        want = int((qw * (2 * bits - 1)).sum())
        assert int(r["score"]) == want, r["id"]


def test_bq_asym_kernel_matches_expr_bit_for_bit(spark, embeddings):
    """The g04 rule applied to asym BQ: score_method='kernel' (the
    'auto' scale path) == score_method='expr' (the v30 oracle path)
    row-for-row INCLUDING the integer scores — integer adds are
    associative, so the batch-vectorized fold cannot drift."""
    from vector_database_spark.operators.ann import bq_build, bq_knn

    vecs = _emb_vecs(embeddings)
    codes, cents = bq_build(vecs, dim=64, n_cells=8, seed=5)
    codes = codes.localCheckpoint()
    qdf = _queries_df(spark, vecs, [2, 77, 310])
    kw = dict(dim=64, m=24, codes=codes, centroids=cents, nprobe=3,
              scoring="asym")
    ker = bq_knn(vecs, qdf, 10, score_method="kernel", **kw)
    exp = bq_knn(vecs, qdf, 10, score_method="expr", **kw)
    got = [
        (r["qid"], r["id"], r["score"], r["rank"])
        for r in ker.orderBy("qid", "rank").collect()
    ]
    want = [
        (r["qid"], r["id"], r["score"], r["rank"])
        for r in exp.orderBy("qid", "rank").collect()
    ]
    assert got == want and got


def test_bq_hd_transform_matches_numpy_replay(spark):
    """`hd_transform_expr` and the driver twin `hd_transform_py`
    pinned against an independent Python-int popcount replay:
    t[r*P+j] = sum_i (-1)^popcount(j&i) * D_r[i] * floor(x_i * scale)
    — exact integers, including a non-power-of-two dim (zero-padded
    to P). `hd_transform_py` is also pinned at scale 10**16, where
    the partial sums pass 2^53 and a float64 butterfly would round."""
    import math

    import numpy as np

    from vector_database_spark.operators.ann import (
        _hd_pad,
        hd_diag,
        hd_transform_expr,
        hd_transform_py,
    )

    rng = np.random.default_rng(9)
    dim, blocks, seed, scale = 12, 2, 3, 1000
    P = _hd_pad(dim)
    X = (rng.standard_normal((8, dim)) * 2.3).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "id long, vector array<double>",
    )
    diag = hd_diag(dim, blocks, seed)
    out = {
        r["id"]: list(r["t"])
        for r in df.select(
            "id",
            hd_transform_expr(
                "vector", dim=dim, blocks=blocks, diag=diag, scale=scale
            ).alias("t"),
        ).collect()
    }

    def replay(x, sc):
        w = [int(math.floor(float(v) * float(sc))) for v in x]
        want = []
        for r in range(blocks):
            for j in range(P):
                s = 0
                for k in range(dim):
                    sgn = 1 if bin(j & k).count("1") % 2 == 0 else -1
                    s += sgn * diag[r][k] * w[k]
                want.append(s)
        return want

    big = 10**16
    for i in range(len(X)):
        assert out[i] == replay(X[i], scale), i
        for sc in (scale, big):
            assert hd_transform_py(
                X[i], dim=dim, blocks=blocks, seed=seed, scale=sc
            ) == replay(X[i], sc), (i, sc)
    # the big scale really leaves float64's exact-integer range
    assert max(abs(t) for t in replay(X[0], big)) > 2**53


def test_bq_hd_encode_kernel_matches_expr(spark, embeddings):
    """The FWHT Arrow kernel == the Catalyst fold, code-for-code:
    every intermediate is an exact integer < 2^53, so the butterfly's
    association order cannot drift from the sequential fold."""
    from vector_database_spark.operators.ann import bq_encode

    vecs = _emb_vecs(embeddings)
    for blocks in (1, 2):
        e = {
            r["id"]: list(r["code"])
            for r in bq_encode(
                vecs, dim=64, hd_blocks=blocks, hd_seed=11,
                encode_method="expr",
            ).collect()
        }
        k = {
            r["id"]: list(r["code"])
            for r in bq_encode(
                vecs, dim=64, hd_blocks=blocks, hd_seed=11,
                encode_method="kernel",
            ).collect()
        }
        assert e == k and len(e) > 100


def test_bq_hd_knn_kernel_matches_expr_bit_for_bit(spark, embeddings):
    """The v30 kernel==expr pin through the HD space: cell-pruned
    asym with hd_blocks=1, integer scores equal row-for-row."""
    from vector_database_spark.operators.ann import bq_build, bq_knn

    vecs = _emb_vecs(embeddings)
    codes, cents = bq_build(
        vecs, dim=64, n_cells=8, seed=5, hd_blocks=1, hd_seed=11
    )
    codes = codes.localCheckpoint()
    qdf = _queries_df(spark, vecs, [2, 77, 310])
    kw = dict(dim=64, m=24, codes=codes, centroids=cents, nprobe=3,
              scoring="asym", hd_blocks=1, hd_seed=11)
    ker = bq_knn(vecs, qdf, 10, score_method="kernel", **kw)
    exp = bq_knn(vecs, qdf, 10, score_method="expr", **kw)
    got = [
        (r["qid"], r["id"], r["score"], r["rank"])
        for r in ker.orderBy("qid", "rank").collect()
    ]
    want = [
        (r["qid"], r["id"], r["score"], r["rank"])
        for r in exp.orderBy("qid", "rank").collect()
    ]
    assert got == want and got


def test_bq_hd_full_candidates_equals_exact_cosine_knn(spark, embeddings):
    """hd_blocks with m = n: the transform changes WHICH rows survive
    a tight candidate cut, never the exact-cosine rerank — with every
    row surviving, results equal `search.knn(cosine)` exactly."""
    from vector_database_spark.operators.ann import bq_knn
    from vector_database_spark.operators.search import knn

    vecs = _emb_vecs(embeddings)
    n = vecs.count()
    panel = [
        (int(r["id"]), [float(x) for x in r["vector"]])
        for r in vecs.where(F.col("id").isin([3, 99])).collect()
    ]
    got = bq_knn(
        vecs, panel, 5, dim=64, m=n, scoring="asym", hd_blocks=2
    ).orderBy("qid", "rank")
    want = (
        knn(vecs, panel, 5, metric="cosine").orderBy("qid", "rank").collect()
    )
    assert [(r["qid"], r["id"], r["rank"]) for r in got.collect()] == [
        (r["qid"], r["id"], r["rank"]) for r in want
    ]


def test_bq_asym_qw_guard_2pow53(spark, embeddings):
    """ADVICE r11: max|qw| * n_bits >= 2^53 makes the float64 kernel
    inexact — an explicit kernel request must raise; 'auto' must fall
    back to the exact Catalyst fold and equal score_method='expr'."""
    import pytest

    from vector_database_spark.operators.ann import bq_knn

    vecs = _emb_vecs(embeddings)
    panel = [
        (int(r["id"]), [float(x) for x in r["vector"]])
        for r in vecs.where(F.col("id").isin([3])).collect()
    ]
    kw = dict(dim=64, m=24, scoring="asym", qw_scale=10**15)
    with pytest.raises(ValueError, match="2\\^53"):
        bq_knn(vecs, panel, 5, score_method="kernel", **kw).collect()
    auto = bq_knn(vecs, panel, 5, score_method="auto", **kw)
    exp = bq_knn(vecs, panel, 5, score_method="expr", **kw)
    assert sorted(
        (r["qid"], r["id"], r["score"]) for r in auto.collect()
    ) == sorted((r["qid"], r["id"], r["score"]) for r in exp.collect())


def test_bq_hd_encode_kernel_2pow53_guard(spark):
    """ADVICE r12: the FWHT kernel's exactness bound — max|floor(x *
    hd_scale)| * pad(dim) >= 2^53 must raise in-kernel (the float64
    butterfly would round where query codes, always the exact-long
    expr transform, do not — sign-boundary bits could diverge between
    corpus and query codes); the expr path keeps working at the same
    scale (long fold, exact far beyond 2^53)."""
    import pytest

    from vector_database_spark.operators.ann import bq_encode

    df = spark.createDataFrame(
        [(i, [1.5, -0.7, 0.3, -1.1]) for i in range(8)],
        "id long, vector array<double>",
    )
    # max|W| = 1.5e16, P = 4 -> 6e16 >= 2^53 (~9.0e15): kernel raises
    with pytest.raises(Exception, match="2\\^53"):
        bq_encode(
            df, dim=4, hd_blocks=1, hd_scale=10**16,
            encode_method="kernel",
        ).collect()
    ok = bq_encode(
        df, dim=4, hd_blocks=1, hd_scale=10**16, encode_method="expr"
    )
    assert ok.count() == 8
    # well inside the bound the kernel still matches the fold exactly
    e = {
        r["id"]: list(r["code"])
        for r in bq_encode(
            df, dim=4, hd_blocks=1, hd_scale=10**12,
            encode_method="expr",
        ).collect()
    }
    k = {
        r["id"]: list(r["code"])
        for r in bq_encode(
            df, dim=4, hd_blocks=1, hd_scale=10**12,
            encode_method="kernel",
        ).collect()
    }
    assert e == k and len(e) == 8


def test_bq_codes_hd_marker_validated(spark, embeddings):
    """ADVICE r12 (the round-9 bloom-geometry rule): HD code tables
    carry their (hd_blocks, hd_seed, hd_scale) as literal columns;
    `bq_knn(codes=)` with mismatched params must raise instead of
    silently ranking query codes in one rotation against stored codes
    in another."""
    import pytest

    from vector_database_spark.operators.ann import bq_build, bq_knn

    vecs = _emb_vecs(embeddings)
    codes, cents = bq_build(
        vecs, dim=64, n_cells=4, seed=5, hd_blocks=1, hd_seed=11
    )
    codes = codes.localCheckpoint()
    assert {"hd_blocks", "hd_seed", "hd_scale"} <= set(codes.columns)
    qdf = _queries_df(spark, vecs, [3])
    kw = dict(dim=64, m=24, codes=codes, centroids=cents, nprobe=4)
    ok = bq_knn(vecs, qdf, 5, hd_blocks=1, hd_seed=11, **kw)
    assert ok.count() == 5
    with pytest.raises(ValueError, match="different +spaces"):
        bq_knn(vecs, qdf, 5, hd_blocks=1, hd_seed=12, **kw)
    with pytest.raises(ValueError, match="different +spaces"):
        bq_knn(vecs, qdf, 5, **kw)  # hd_blocks=0 vs an HD code table


# The ensure_k escalation contract, shared by every cell-probed
# operator: 8 cells along the first axis, a sparse layout whose cells
# hold 6, 0, 1, 1, 2, 0, 0, 1 rows. With k=3 at nprobe=1 the query at
# x=0 is satisfied at once (never escalates), x=36 escalates once
# (cells 4, 3) and x=70 twice (cells 7, 6, 5, 4).
_EK_CELL_ROWS = (6, 0, 1, 1, 2, 0, 0, 1)
_EK_QUERIES = {0: 0.0, 1: 36.0, 2: 70.0}
_EK_K = 3


def _ek_fixture(spark):
    from vector_database_spark.schemas import local_frame

    cents = [[10.0 * j, 1.0, 1.0, 1.0] for j in range(len(_EK_CELL_ROWS))]
    rows, nid = [], 100
    for cell, n in enumerate(_EK_CELL_ROWS):
        for i in range(n):
            off = 0.1 * (i + 1) * (-1) ** i
            rows.append((nid, [10.0 * cell + off, 1.0 + 0.05 * i, 1.0, 0.9], cell))
            nid += 1
    assigned = local_frame(spark, rows, "id long, vector array<double>, cell int")
    qdf = local_frame(
        spark,
        [(q, [x, 1.0, 1.0, 1.0]) for q, x in _EK_QUERIES.items()],
        "qid long, qvec array<double>",
    )
    return assigned, cents, qdf


def _ek_ivf(spark, tmp_path):
    assigned, cents, qdf = _ek_fixture(spark)
    return lambda p, ek: ivf_knn(
        assigned, cents, qdf, _EK_K, nprobe=p, ensure_k=ek
    )


def _ek_mips(spark, tmp_path):
    from vector_database_spark.operators.ann import mips_knn

    assigned, cents, qdf = _ek_fixture(spark)
    # augmented-space centroids with a 0 last coordinate probe in the
    # same order as the plain ones (the query's augmented coordinate is 0)
    acents = [c + [0.0] for c in cents]
    return lambda p, ek: mips_knn(
        assigned, qdf, _EK_K, nprobe=p, assigned=assigned,
        centroids=acents, m2=1e6, ensure_k=ek,
    )


def _ek_bq(spark, tmp_path):
    from vector_database_spark.operators.ann import bq_build, bq_knn

    assigned, cents, qdf = _ek_fixture(spark)
    vecs = assigned.select("id", "vector")
    codes, _ = bq_build(vecs, dim=4, centroids=cents)
    return lambda p, ek: bq_knn(
        vecs, qdf, _EK_K, dim=4, m=64, codes=codes, centroids=cents,
        nprobe=p, ensure_k=ek,
    )


def _ek_knn_join(spark, tmp_path):
    from vector_database_spark.operators.ann import ivf_write, knn_join

    assigned, cents, qdf = _ek_fixture(spark)
    path = str(tmp_path / "layout")
    ivf_write(assigned, cents, path)
    q = qdf.select(F.col("qid").alias("id"), F.col("qvec").alias("vector"))
    return lambda p, ek: knn_join(
        q, None, _EK_K, nprobe=p, layout_path=path, ensure_k=ek
    )



@pytest.mark.parametrize(
    "make", [_ek_ivf, _ek_mips, _ek_bq, _ek_knn_join],
    ids=["ivf_knn", "mips_knn_assigned", "bq_knn_centroids", "knn_join_layout"],
)
def test_ensure_k_equals_plain_answer_at_first_sufficient_nprobe(
    spark, tmp_path, make
):
    """For every query, the ensure_k=True rows equal the ensure_k=False
    rows at the smallest doubled nprobe (1, 2, 4, 8) where that query
    has k rows — or at n_cells when none does. The fixture holds one
    query that never escalates and one that escalates twice."""
    op = make(spark, tmp_path)
    n_cells = len(_EK_CELL_ROWS)

    def by_qid(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r["qid"], set()).add(tuple(r))
        return out

    plain = {}
    p = 1
    while True:
        plain[p] = by_qid(op(p, False))
        if p >= n_cells:
            break
        p = min(2 * p, n_cells)
    got = by_qid(op(1, True))
    first = {}
    for q in _EK_QUERIES:
        first[q] = next(
            (p for p in sorted(plain) if len(plain[p].get(q, ())) >= _EK_K),
            n_cells,
        )
        assert got.get(q) == plain[first[q]].get(q), (q, first[q])
    assert set(got) == set(_EK_QUERIES)
    assert first[0] == 1 and first[1] == 2 and first[2] == 4


def test_cell_table_matches_stored_rows_on_every_layout(spark, embeddings, tmp_path):
    """The per-cell table ``{path}/cells`` of every cell layout (ivf,
    ivfadc, mips in its augmented space, the kNN graph) describes its
    stored rows after a build and after each of two appends: ``n`` is
    the row count per cell, ``radius`` the max distance to the own
    centroid bit for bit (recomputed here by the same left-to-right
    fold in Python), and Σerr_sum/Σn the mean distance within 1e-12
    relative. The ivf layout starts without its table (a layout
    written before the table existed): the first append derives it
    from the stored rows."""
    import math
    import shutil

    from vector_database_spark.functions.vector import dot
    from vector_database_spark.operators import ann
    from vector_database_spark.operators.graph import (
        knn_graph_append,
        knn_graph_write,
    )

    vecs = _emb_vecs(embeddings)
    base = vecs.where(F.col("id") < 300)
    batches = [
        vecs.where((F.col("id") >= lo) & (F.col("id") < lo + 100))
        for lo in (300, 400)
    ]

    def dist(v, c):
        acc = 0.0
        for a, b in zip(v, c):
            acc += (a - b) * (a - b)
        return math.sqrt(acc)

    def augment(v, m2):
        acc = 0.0
        for a in v:
            acc += a * a
        return v + [math.sqrt(max(0.0, m2 - acc))]

    def check(path, layout, m2=None):
        cents = ann._read_centroids(spark, path)
        want: dict = {}
        for r in spark.read.parquet(f"{path}/{layout}").select("cell", "vector").collect():
            v = [float(x) for x in r.vector]
            d = dist(v if m2 is None else augment(v, m2), cents[r.cell])
            n, s, rad = want.get(r.cell, (0, 0.0, 0.0))
            want[r.cell] = (n + 1, s + d, max(rad, d))
        got = {r.cell: r for r in spark.read.parquet(f"{path}/cells").collect()}
        assert sorted(got) == sorted(want), path
        for c, (n, _s, rad) in want.items():
            assert (got[c].n, got[c].radius) == (n, rad), (path, c)
        mean = sum(r.err_sum for r in got.values()) / sum(r.n for r in got.values())
        exact = sum(s for _n, s, _r in want.values()) / sum(
            n for n, _s, _r in want.values()
        )
        assert abs(mean - exact) <= 1e-12 * exact, (path, mean, exact)

    p = str(tmp_path / "ivf")
    ann.ivf_write(*ann.ivf_build(base, n_cells=6, iters=2), p)
    check(p, "vectors")
    shutil.rmtree(f"{p}/cells")
    for b in batches:
        ann.ivf_append(spark, p, b, retrain="never")
        check(p, "vectors")

    p = str(tmp_path / "ivfadc")
    codes, cents, books = ann.ivfadc_build(
        base, n_cells=6, m=4, n_centroids=16, iters=2
    )
    ann.ivfadc_write(codes, cents, books, p)
    check(p, "codes")
    for b in batches:
        ann.ivfadc_append(spark, p, b, retrain="never")
        check(p, "codes")

    p = str(tmp_path / "mips")
    assigned, cents, m2 = ann.mips_build(base, n_cells=6, seed=13)
    ann.mips_write(assigned, cents, m2, p)
    check(p, "vectors", m2)
    for b in batches:
        ok = b.where(dot("vector", "vector") <= F.lit(m2))
        assert ann.mips_append(spark, p, ok)["appended"] == ok.count()
        check(p, "vectors", m2)

    p = str(tmp_path / "graph")
    knn_graph_write(base, 4, p, n_cells=6, nprobe=2)
    check(p, "vectors")
    for b in batches:
        knn_graph_append(spark, p, b, retrain="never")
        check(p, "vectors")


def test_knn_join_layout_reads_stored_cell_counts(spark, embeddings, tmp_path):
    """`knn_join(layout_path=, method='dgemm')` takes the hot-cell
    cap's per-cell counts off the layout's ``cells`` table (read with
    its schema given) instead of a ``groupBy("cell")`` count of the
    stored vectors on every call: 50 queries over a 500-row
    `ivf_write` layout ran 10 jobs per warm call with the per-call
    count and run 9 now. Counted under a job group (host-immune)."""
    import uuid

    from vector_database_spark.operators.ann import knn_join, ivf_write

    vecs = _emb_vecs(embeddings)
    path = str(tmp_path / "ivf")
    ivf_write(*ivf_build(vecs, n_cells=8, iters=2), path)
    sc = spark.sparkContext

    def call():
        return knn_join(
            vecs.where(F.col("id") < 50), None, 5, layout_path=path, nprobe=2,
            method="dgemm", collapse_dups=False,
        ).collect()

    want = sorted(call())
    group = f"kj_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        got = sorted(call())
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == want and len(got) == 250
    assert jobs <= 9, jobs
