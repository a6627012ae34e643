"""PageRank contracts: equality with a local numpy power iteration
(same fixed-iteration algorithm; tolerance because distributed double
summation order differs), mass conservation, dangling handling, and
degree stats."""

from __future__ import annotations

import numpy as np

from vector_database_spark.operators.graph import degree_stats, pagerank

EDGES = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0), (2, 4)]  # 4 dangles
N, D, ITERS = 5, 0.85, 20


def _numpy_pagerank():
    out: dict = {}
    for s, t in EDGES:
        out.setdefault(s, []).append(t)
    r = np.full(N, 1.0 / N)
    for _ in range(ITERS):
        nr = np.zeros(N)
        dangling = sum(r[i] for i in range(N) if i not in out)
        for s, ts in out.items():
            for t in ts:
                nr[t] += r[s] / len(ts)
        r = (1 - D) / N + D * dangling / N + D * nr
    return r


def test_pagerank_matches_numpy_power_iteration(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {
        r["node"]: r["rank"] for r in pagerank(df, iters=ITERS).collect()
    }
    want = _numpy_pagerank()
    assert set(got) == set(range(N))
    for i in range(N):
        assert abs(got[i] - want[i]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_parallel_edges_and_empty(spark):
    # parallel edges count once
    df = spark.createDataFrame(
        EDGES + [(0, 1), (0, 1)], "src long, dst long"
    )
    got = {
        r["node"]: r["rank"] for r in pagerank(df, iters=ITERS).collect()
    }
    want = _numpy_pagerank()
    for i in range(N):
        assert abs(got[i] - want[i]) < 1e-12
    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty, iters=3).count() == 0


def test_degree_stats(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    ds = {
        r["node"]: (r["out_deg"], r["in_deg"])
        for r in degree_stats(df).collect()
    }
    assert ds == {0: (2, 2), 1: (1, 1), 2: (2, 2), 3: (1, 0), 4: (0, 1)}


def test_degree_stats_multigraph_consistency(spark):
    """degree_stats defaults to the pagerank convention (parallel
    edges count once); dedup=False gives multigraph degrees."""
    df = spark.createDataFrame(
        EDGES + [(0, 1), (0, 1)], "src long, dst long"
    )
    ds = {r["node"]: r["out_deg"] for r in degree_stats(df).collect()}
    assert ds[0] == 2
    multi = {
        r["node"]: r["out_deg"]
        for r in degree_stats(df, dedup=False).collect()
    }
    assert multi[0] == 4
    import pytest

    from vector_database_spark.operators.graph import pagerank

    with pytest.raises(ValueError, match="checkpoint_every"):
        pagerank(df, checkpoint_every=0)


def test_pagerank_fixedpoint_tracks_double(spark):
    """The integer fixed-point variant (17/20 damping, floor steps)
    must track the double power iteration within the accumulated
    floor error — including the dangling-mass path."""
    from vector_database_spark.operators.graph import pagerank_fixedpoint

    df = spark.createDataFrame(EDGES, "src long, dst long")
    S = 10**12
    fx = {
        r["node"]: r["rank_units"] / S
        for r in pagerank_fixedpoint(df, iters=ITERS, scale=S).collect()
    }
    want = _numpy_pagerank()
    for i in range(N):
        assert abs(fx[i] - want[i]) < 1e-9  # floor drift << 1e-9 at 1e12
    # determinism: a second run is bit-identical
    fx2 = {
        r["node"]: r["rank_units"]
        for r in pagerank_fixedpoint(df, iters=ITERS, scale=S).collect()
    }
    assert fx2 == {k: round(v * S) for k, v in fx.items()}


def test_graph_beam_search_monotone_and_deterministic(spark, embeddings):
    """Beam search over the kNN graph: more hops never worsen the
    best distance (the beam keeps its ef closest visited nodes, and
    the visited set only grows), two runs are identical, and the beam
    only ever contains graph nodes."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.graph import (
        graph_beam_search,
        knn_graph,
    )

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).where(F.col("id") < 200)
    edges = knn_graph(vecs, 3).select("src", "dst").localCheckpoint()
    qdf = vecs.where(F.col("id").isin([7, 150])).select(
        F.col("id").alias("qid"),
        F.col("vector").cast("array<double>").alias("qvec"),
    )
    nodes = {r.id for r in vecs.select("id").collect()}
    best = {}
    for hops in (1, 2, 4):
        rows = graph_beam_search(
            edges, vecs, qdf, ef=4, hops=hops
        ).collect()
        assert all(r.id in nodes for r in rows)
        for qid in (7, 150):
            d = min(r.dist for r in rows if r.qid == qid)
            assert d <= best.get(qid, float("inf")) + 1e-12
            best[qid] = min(best.get(qid, float("inf")), d)
    again = graph_beam_search(edges, vecs, qdf, ef=4, hops=4).collect()
    four = graph_beam_search(edges, vecs, qdf, ef=4, hops=4).collect()
    assert {(r.qid, r.id, r.rank) for r in again} == {
        (r.qid, r.id, r.rank) for r in four
    }


def _vecs(embeddings):
    from pyspark.sql import functions as F

    return embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )


def _seeded_cents(vecs, tag, n):
    from pyspark.sql import functions as F

    rows = (
        vecs.withColumn(
            "_h", F.md5(F.concat(F.col("id").cast("string"), F.lit(f":{tag}")))
        )
        .orderBy("_h", "id")
        .limit(n)
        .collect()
    )
    return [[float(x) for x in r["vector"]] for r in rows]


def test_knn_graph_blocked_dgemm_matches_expr(spark, embeddings):
    """The blocked builder's dgemm kernel path (g07's scale twin)
    must agree with the expression path edge-for-edge on the gate rig
    — same seeded centroids, so any disagreement is a kernel bug, not
    a blocking difference (the a01 kernel==expr rule)."""
    from vector_database_spark.operators.graph import knn_graph_blocked

    vecs = _vecs(embeddings)
    cents = _seeded_cents(vecs, "g07", 8)
    a = {
        (r.src, r.dst, r.rank)
        for r in knn_graph_blocked(
            vecs, 5, centroids=cents, nprobe=2, method="expr"
        ).collect()
    }
    b = {
        (r.src, r.dst, r.rank)
        for r in knn_graph_blocked(
            vecs, 5, centroids=cents, nprobe=2, method="dgemm"
        ).collect()
    }
    assert a == b and len(a) > 0


def test_knn_graph_blocked_recall_and_full_probe_exact(spark, embeddings):
    """Recall contract of the blocked builder vs the exact n² graph:
    (1) Lloyd-trained cells at nprobe=4/8 clear the measured bar on
    this near-uniform corpus (clustered real data does better — the
    d08 lesson); (2) nprobe == n_cells probes every cell, so the
    result is EXACT (every candidate is considered; the blocking
    changes only the execution shape)."""
    from vector_database_spark.operators.graph import (
        knn_graph,
        knn_graph_blocked,
    )

    vecs = _vecs(embeddings)
    exact = {(r.src, r.dst, r.rank) for r in knn_graph(vecs, 5).collect()}
    approx = {
        (r.src, r.dst, r.rank)
        for r in knn_graph_blocked(
            vecs, 5, n_cells=8, nprobe=4, method="dgemm"
        ).collect()
    }
    pairs = {(s, d) for s, d, _r in exact}
    recall = len(pairs & {(s, d) for s, d, _r in approx}) / len(pairs)
    assert recall >= 0.7, recall
    full = {
        (r.src, r.dst, r.rank)
        for r in knn_graph_blocked(
            vecs, 5, n_cells=8, nprobe=8, method="dgemm"
        ).collect()
    }
    assert full == exact


def test_knn_graph_append_equals_rebuild(spark, embeddings, tmp_path):
    """The persistence + append contract (round-6 verdict item 3):
    append under stored centroids leaves the layout IDENTICAL to a
    full blocked rebuild of old∪new under the same centroids —
    edge-for-edge including distances and ranks (top-k(A∪B) ⊆
    top-k(A) ∪ B makes the set-based fix-up exact)."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.ann import ivf_read
    from vector_database_spark.operators.graph import (
        knn_graph_append,
        knn_graph_blocked,
        knn_graph_read,
        knn_graph_write,
    )

    vecs = _vecs(embeddings)
    base = vecs.where(F.col("id") < 400)
    batch = vecs.where(F.col("id") >= 400)
    root = str(tmp_path / "kg")
    knn_graph_write(base, 5, root, n_cells=8, nprobe=2, method="dgemm", seed=7)
    _, cents = ivf_read(spark, root)
    info = knn_graph_append(spark, root, batch, retrain="never")
    assert info["appended"] == batch.count()
    assert info["affected"] > 0
    got_edges, meta = knn_graph_read(spark, root)
    assert meta["k"] == 5 and meta["nprobe"] == 2 and meta["method"] == "dgemm"
    got = {
        (r.src, r.dst, r.rank, round(r.dist, 12)) for r in got_edges.collect()
    }
    want = {
        (r.src, r.dst, r.rank, round(r.dist, 12))
        for r in knn_graph_blocked(
            vecs, 5, centroids=cents, nprobe=2, method="dgemm"
        ).collect()
    }
    assert got == want
    # idempotence of the vector layout contract: appending an empty
    # batch is a no-op
    empty = batch.where(F.col("id") < 0)
    info2 = knn_graph_append(spark, root, empty, retrain="never")
    assert info2["appended"] == 0 and not info2["retrained"]


def test_knn_graph_cell_counts_track_stored_vectors(spark, embeddings, tmp_path):
    """The ``n`` of ``{path}/cells`` feeds the hot-cell cap on append, so
    it must equal the true per-cell row counts of ``{path}/vectors``
    after a write and after an append, and a redelivered (already
    stored) batch must leave it untouched."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.graph import (
        knn_graph_append,
        knn_graph_write,
    )

    vecs = _vecs(embeddings).where(F.col("id") < 300)
    base = vecs.where(F.col("id") < 240)
    batch = vecs.where(F.col("id") >= 240)
    root = str(tmp_path / "kgn")

    def stored():
        return {
            (r.cell, r.n)
            for r in spark.read.parquet(f"{root}/cells").collect()
        }

    def true_counts():
        return {
            (r.cell, r["count"])
            for r in spark.read.parquet(f"{root}/vectors")
            .groupBy("cell")
            .count()
            .collect()
        }

    knn_graph_write(base, 4, root, n_cells=6, nprobe=2)
    first = stored()
    assert first == true_counts() and sum(n for _c, n in first) == 240
    info = knn_graph_append(spark, root, batch, retrain="never")
    assert info["appended"] == 60
    after = stored()
    assert after == true_counts() and sum(n for _c, n in after) == 300
    again = knn_graph_append(spark, root, batch, retrain="never")
    assert again["appended"] == 0
    assert stored() == after == true_counts()


def test_knn_graph_append_clone_pile_equals_rebuild(
    spark, embeddings, tmp_path
):
    """Round-9 verdict item 3: an append against a CLONE-HEAVY stored
    layout routes the fix-up through the rep-level collapse (one
    distance pass per distinct affected vector, fanned back out) and
    must stay edge-for-edge identical to the full rebuild of old∪new
    under the same centroids — including the dist-0 intra-pile edges
    and the batch-vs-pile candidates."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.ann import ivf_read
    from vector_database_spark.operators.graph import (
        knn_graph_append,
        knn_graph_blocked,
        knn_graph_read,
        knn_graph_write,
    )

    vecs = _vecs(embeddings).where(F.col("id") < 200)
    proto = vecs.where(F.col("id") == 5).select("vector").first()["vector"]
    pile = spark.range(60).select(
        (F.col("id") + 4000).alias("id"),
        F.lit([float(x) for x in proto])
        .cast("array<double>")
        .alias("vector"),
    )
    base = vecs.unionByName(pile)
    batch = _vecs(embeddings).where(
        (F.col("id") >= 200) & (F.col("id") < 260)
    )
    root = str(tmp_path / "kgc")
    knn_graph_write(base, 5, root, n_cells=8, nprobe=2, method="dgemm",
                    seed=7)
    _, cents = ivf_read(spark, root)
    info = knn_graph_append(spark, root, batch, retrain="never")
    assert info["appended"] == 60 and info["affected"] > 0
    got_edges, _meta = knn_graph_read(spark, root)
    got = {
        (r.src, r.dst, r.rank, round(r.dist, 12))
        for r in got_edges.collect()
    }
    want = {
        (r.src, r.dst, r.rank, round(r.dist, 12))
        for r in knn_graph_blocked(
            base.unionByName(batch), 5, centroids=cents, nprobe=2,
            method="dgemm",
        ).collect()
    }
    assert got == want


def test_knn_graph_append_retrain_always_rebuilds(spark, embeddings, tmp_path):
    """retrain='always' must rebuild a consistent layout (fresh Lloyd
    centroids over the full corpus): edges read back cover every node
    as src with exactly k ranks, and beam search over the rebuilt
    graph runs."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.graph import (
        knn_graph_append,
        knn_graph_read,
        knn_graph_write,
    )

    vecs = _vecs(embeddings).where(F.col("id") < 300)
    base = vecs.where(F.col("id") < 200)
    batch = vecs.where(F.col("id") >= 200)
    root = str(tmp_path / "kg2")
    knn_graph_write(base, 3, root, n_cells=4, nprobe=2, method="dgemm")
    info = knn_graph_append(spark, root, batch, retrain="always")
    assert info["retrained"]
    edges, _meta = knn_graph_read(spark, root)
    per_src = edges.groupBy("src").count().collect()
    assert len(per_src) == 300 and all(r["count"] == 3 for r in per_src)


def test_graph_beam_search_layout_stable_across_append(spark, embeddings, tmp_path):
    """Serving off the persisted layout: beam results after an append
    equal beam results over a rebuilt graph (append == rebuild makes
    this an identity, not a recall statement)."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.ann import ivf_read
    from vector_database_spark.operators.graph import (
        graph_beam_search,
        graph_beam_search_layout,
        knn_graph_append,
        knn_graph_blocked,
        knn_graph_write,
    )

    vecs = _vecs(embeddings)
    base = vecs.where(F.col("id") < 400)
    batch = vecs.where(F.col("id") >= 400)
    root = str(tmp_path / "kgb")
    knn_graph_write(base, 4, root, n_cells=8, nprobe=2)
    knn_graph_append(spark, root, batch, retrain="never")
    qdf = vecs.where(F.col("id").isin([3, 99])).select(
        F.col("id").alias("qid"),
        F.col("vector").cast("array<double>").alias("qvec"),
    )
    got = {
        (r.qid, r.id, r.rank)
        for r in graph_beam_search_layout(
            spark, root, qdf, ef=4, hops=3
        ).collect()
    }
    _, cents = ivf_read(spark, root)
    edges = knn_graph_blocked(
        vecs, 4, centroids=cents, nprobe=2, method="dgemm"
    ).select("src", "dst")
    want = {
        (r.qid, r.id, r.rank)
        for r in graph_beam_search(edges, vecs, qdf, ef=4, hops=3).collect()
    }
    assert got == want and got


def test_beam_layout_serving_is_partition_pruned(spark, embeddings, tmp_path):
    """Round-7 verdict item 1: beam-search serving must never scan a
    full-corpus relation. The per-hop reads are partition-pruned —
    PartitionFilters on the edges scan carry the beam's src_cell list
    and on the vectors scan the candidates' cell list — and the
    entry point comes from graph_meta (no corpus min-scan)."""
    from pyspark.sql import functions as F

    from tools.explain_audit import formatted_plan
    from vector_database_spark.operators.graph import (
        _pruned_edges,
        _pruned_vecs,
        knn_graph_read,
        knn_graph_write,
    )

    vecs = _vecs(embeddings)
    root = str(tmp_path / "kgp")
    knn_graph_write(vecs, 4, root, n_cells=8, nprobe=2)
    _, meta = knn_graph_read(spark, root)
    assert meta["entry_id"] is not None and meta["entry_cell"] is not None

    ep = formatted_plan(_pruned_edges(spark, root, [1, 3]))
    assert "PartitionFilters" in ep
    # the cell list reaches the scan as a partition filter (src_cell
    # is the partition column -> pruned directories, not a post-scan
    # filter over a full read)
    assert "src_cell" in ep.split("PartitionFilters", 1)[1][:200]

    vp = formatted_plan(_pruned_vecs(spark, root, [2]))
    assert "PartitionFilters" in vp
    assert "cell" in vp.split("PartitionFilters", 1)[1][:200]


def test_blocked_hot_cell_cap_is_bit_identical(spark, embeddings):
    """Round-7 verdict item 2: sub-bucketing a hot cell must not
    change a single edge. 50% of rows are clones of one vector (one
    cell Lloyd can't split — the dup-heavy-corpus shape); a build
    with cell_cap small enough to force many sub-buckets equals the
    uncapped build edge-for-edge, bit-for-bit (the per-pair distance
    recompute is shape-independent, and per-bucket top-(k+4) cuts
    union to a superset of the per-cell cut)."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.graph import knn_graph_blocked

    vecs = _vecs(embeddings).where(F.col("id") < 400)
    clone = vecs.where(F.col("id") == 0).select("vector").first()["vector"]
    clones = vecs.where(F.col("id") < 200).select(
        (F.col("id") + 1000).alias("id"),
        F.lit([float(x) for x in clone])
        .cast("array<double>")
        .alias("vector"),
    )
    data = vecs.unionByName(clones)
    # collapse_dups=False: this test targets the CAP machinery itself
    # (the collapse path would fold the clone pile away before the
    # cap ever sees it — it has its own bit-identity test below)
    uncapped = knn_graph_blocked(
        data, 4, n_cells=8, nprobe=2, seed=5, cell_cap=10**9,
        collapse_dups=False,
    )
    capped = knn_graph_blocked(
        data, 4, n_cells=8, nprobe=2, seed=5, cell_cap=32,
        collapse_dups=False,
    )
    a = sorted(map(tuple, uncapped.collect()))
    b = sorted(map(tuple, capped.collect()))
    assert a == b and len(a) == 600 * 4


def test_blocked_collapse_dups_is_bit_identical(spark, embeddings):
    """Round-8 verdict item 1: collapsing bit-identical vectors to a
    representative before pair generation must not change a single
    edge. Clone-heavy data (three clone piles of different sizes —
    one bigger than k+1, one exactly k, one a pair — plus uniques):
    the collapsed build == the uncollapsed build == the expr oracle
    path, edge-for-edge bit-for-bit, including the dist-0 own-group
    edges ranked by dst id and cross-group expansion order at equal
    distance."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.graph import knn_graph_blocked

    vecs = _vecs(embeddings).where(F.col("id") < 300)
    piles = []
    for base_id, src_id, g in ((1000, 0, 40), (2000, 1, 4), (3000, 2, 2)):
        proto = vecs.where(F.col("id") == src_id).select("vector").first()[
            "vector"
        ]
        piles.append(
            spark.range(g).select(
                (F.col("id") + base_id).alias("id"),
                F.lit([float(x) for x in proto])
                .cast("array<double>")
                .alias("vector"),
            )
        )
    data = vecs
    for p in piles:
        data = data.unionByName(p)
    kwargs = dict(n_cells=8, nprobe=2, seed=5)
    collapsed = knn_graph_blocked(data, 4, collapse_dups=True, **kwargs)
    plain = knn_graph_blocked(data, 4, collapse_dups=False, **kwargs)
    a = sorted(map(tuple, collapsed.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b and len(a) == (300 + 40 + 4 + 2) * 4


def test_collapse_dups_exact_tie_cross_group(spark):
    """Round-9 ADVICE (high): at an EXACT cross-group distance tie the
    final (dist, dst) order can interleave a later group's small ids
    before an earlier group's large non-rep ids — a rank-prefix
    cumulative cut dropped winning candidates. Repro from the ADVICE:
    src 0=[0,0], clone pile {1,100}=[1,0], single {2}=[0,1], k=2 —
    piles tie at dist 1.0 and the correct top-2 for src 0 is
    (1, 2), not (1, 100). Also sweeps an integer-grid corpus (every
    vector on lattice points, ties everywhere) so the strict-dist
    prefix is exercised across many srcs, not just the constructed
    one. Collapsed build must equal the plain build edge-for-edge."""
    from vector_database_spark.operators.graph import knn_graph_blocked

    rows = [
        (0, [0.0, 0.0]),
        (1, [1.0, 0.0]),
        (100, [1.0, 0.0]),
        (2, [0.0, 1.0]),
    ]
    data = spark.createDataFrame(rows, "id long, vector array<double>")
    kwargs = dict(n_cells=1, nprobe=1, seed=3)
    a = sorted(
        map(
            tuple,
            knn_graph_blocked(data, 2, collapse_dups=True, **kwargs).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            knn_graph_blocked(data, 2, collapse_dups=False, **kwargs).collect(),
        )
    )
    assert a == b
    assert (0, 2, 1.0, 2) in a and (0, 100, 1.0, 2) not in a

    # integer grid: 5x5 lattice, ids assigned so some piles carry a
    # small rep with large non-rep members next to singleton groups
    # at tied distances — the general form of the repro
    grid = []
    nid = 0
    for x in range(5):
        for y in range(5):
            copies = 3 if (x + y) % 3 == 0 else 1
            for c in range(copies):
                grid.append(
                    (
                        nid if c == 0 else 500 + nid * 10 + c,
                        [float(x), float(y)],
                    )
                )
            nid += 1
    gdf = spark.createDataFrame(grid, "id long, vector array<double>")
    kwargs = dict(n_cells=4, nprobe=4, seed=7)
    ga = sorted(
        map(
            tuple,
            knn_graph_blocked(gdf, 3, collapse_dups=True, **kwargs).collect(),
        )
    )
    gb = sorted(
        map(
            tuple,
            knn_graph_blocked(gdf, 3, collapse_dups=False, **kwargs).collect(),
        )
    )
    assert ga == gb and len(ga) == len(grid) * 3


def test_knn_join_collapse_dups_is_identical(spark, embeddings):
    """knn_join's collapse path (both sides collapsed, no own-group
    handling) == the uncollapsed join on clone-heavy query AND corpus
    sides, row-for-row."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.ann import knn_join

    vecs = _vecs(embeddings)
    corpus = vecs.where(F.col("id") < 200)
    clone = corpus.where(F.col("id") == 7).select("vector").first()["vector"]
    corpus = corpus.unionByName(
        spark.range(30).select(
            (F.col("id") + 5000).alias("id"),
            F.lit([float(x) for x in clone])
            .cast("array<double>")
            .alias("vector"),
        )
    )
    # query side: 20 unique + 10 clones of one query vector
    q = vecs.where(F.col("id") < 20)
    qclone = vecs.where(F.col("id") == 3).select("vector").first()["vector"]
    q = q.unionByName(
        spark.range(10).select(
            (F.col("id") + 9000).alias("id"),
            F.lit([float(x) for x in qclone])
            .cast("array<double>")
            .alias("vector"),
        )
    )
    kwargs = dict(n_cells=8, nprobe=3, seed=11)
    a = sorted(
        map(tuple, knn_join(q, corpus, 5, collapse_dups=True, **kwargs).collect())
    )
    b = sorted(
        map(tuple, knn_join(q, corpus, 5, collapse_dups=False, **kwargs).collect())
    )
    assert a == b and len(a) == 30 * 5


def test_bfs_distances_match_python_bfs(spark):
    """Multi-source BFS vs a driver-side reference BFS on a random
    directed graph, including unreachable nodes (absent from output)
    and the max_hops truncation."""
    import random as _random
    from collections import deque

    from vector_database_spark.operators.graph import bfs_distances

    rng = _random.Random(81)
    n = 60
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(150)})
    seeds = [0, 7]
    hops = 3

    adj: dict[int, list[int]] = {}
    for s, t in edges:
        adj.setdefault(s, []).append(t)
    dist = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        u = dq.popleft()
        if dist[u] >= hops:
            continue
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)

    e = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(e, sdf, max_hops=hops).collect()
    }
    assert got == dist


def test_bfs_distances_zero_hops_returns_seeds_only(spark):
    from vector_database_spark.operators.graph import bfs_distances

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    sdf = spark.createDataFrame([(1,)], "node long")
    got = bfs_distances(e, sdf, max_hops=0).collect()
    assert [(r["node"], r["dist"]) for r in got] == [(1, 0)]


def test_subtree_rollup_matches_python(spark):
    """Ancestor closure + rollup vs a driver-side reference on a
    random forest (multiple roots, varying depth)."""
    import random as _random

    from vector_database_spark.operators.graph import (
        ancestor_closure,
        subtree_rollup,
    )

    rng = _random.Random(12)
    n = 80
    # parent(i) < i guarantees a forest; nodes 0..2 are roots
    edges = [(i, rng.randrange(0, i)) for i in range(3, n)]
    vals = [(i, rng.randrange(1, 100)) for i in range(n)]

    parent = dict(edges)
    want_sum = {i: 0 for i in range(n)}
    want_cnt = {i: 0 for i in range(n)}
    for i, v in vals:
        j = i
        while True:
            want_sum[j] += v
            want_cnt[j] += 1
            if j not in parent:
                break
            j = parent[j]

    e = spark.createDataFrame(edges, "child long, parent long")
    vdf = spark.createDataFrame(vals, "node long, value long")
    got = {
        r["node"]: (r["subtree_sum"], r["n_subtree"])
        for r in subtree_rollup(e, vdf).collect()
    }
    # the closure base is seeded with the values table's nodes, so
    # EVERY valued node is covered — edges or not (round-8 ADVICE)
    assert got == {i: (want_sum[i], want_cnt[i]) for i in range(n)}

    clo = ancestor_closure(e).collect()
    depths = {(r["node"], r["anc"]): r["depth"] for r in clo}
    assert depths[(3, 3)] == 0
    chain_len = 0
    j = n - 1
    while j in parent:
        j = parent[j]
        chain_len += 1
    assert depths[(n - 1, j)] == chain_len


def test_ancestor_closure_cycle_raises(spark):
    import pytest

    from vector_database_spark.operators.graph import ancestor_closure

    e = spark.createDataFrame(
        [(1, 2), (2, 1)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="max_depth"):
        ancestor_closure(e, max_depth=5)
    with pytest.raises(ValueError, match="max_depth"):
        ancestor_closure(e, max_depth=5, method="double")


def test_ancestor_closure_depth_equals_max_depth_ok(spark):
    """Round-8 ADVICE: a chain of EXACTLY max_depth edges must be
    accepted — completion is proven by the probe round past the
    bound, not assumed to have failed."""
    from vector_database_spark.operators.graph import ancestor_closure

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "child long, parent long"
    )  # 0->1->...->5: deepest chain is 5 edges
    clo = {
        (r["node"], r["anc"]): r["depth"]
        for r in ancestor_closure(e, max_depth=5).collect()
    }
    assert clo[(0, 5)] == 5 and clo[(0, 0)] == 0
    assert len(clo) == 6 * 7 // 2


def test_ancestor_closure_isolated_valued_node(spark):
    """A node in the values table with no edges still rolls up its
    own value (round-8 ADVICE: closure base seeded from values)."""
    from vector_database_spark.operators.graph import subtree_rollup

    e = spark.createDataFrame([(1, 0)], "child long, parent long")
    v = spark.createDataFrame(
        [(0, 10), (1, 20), (99, 7)], "node long, value long"
    )
    got = {
        r["node"]: (r["subtree_sum"], r["n_subtree"])
        for r in subtree_rollup(e, v).collect()
    }
    assert got == {0: (30, 2), 1: (20, 1), 99: (7, 1)}


def test_ancestor_closure_doubling_matches_walk(spark):
    """Path doubling == the level-synchronous walk, row-for-row, on a
    random forest (verdict item 8's O(log depth) tier)."""
    import random as _random

    from vector_database_spark.operators.graph import ancestor_closure

    rng = _random.Random(77)
    edges = [(i, rng.randrange(0, i)) for i in range(1, 60)]
    e = spark.createDataFrame(edges, "child long, parent long")
    a = sorted(map(tuple, ancestor_closure(e, method="walk").collect()))
    b = sorted(map(tuple, ancestor_closure(e, method="double").collect()))
    assert a == b


def test_ancestor_closure_doubling_deep_chain(spark):
    """A 1024-deep chain closes in O(log depth) rounds: the doubling
    path runs ~10 composition rounds where the walk would run 1024.
    Depth values and pair count are exact."""
    from vector_database_spark.operators.graph import ancestor_closure

    n = 1024
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "child long, parent long"
    )
    from pyspark.sql import functions as F

    clo = ancestor_closure(e, max_depth=4096, method="double")
    assert clo.count() == (n + 1) * (n + 2) // 2
    top = clo.where(
        (F.col("node") == 0) & (F.col("anc") == n)
    ).first()
    assert top["depth"] == n


def test_ancestor_closure_doubling_rejects_multi_parent(spark):
    """method='double' needs unique parents (a forest) — a two-parent
    node must raise loudly instead of composing a wrong closure
    (round-9 verdict item 8)."""
    import pytest

    from vector_database_spark.operators.graph import ancestor_closure

    e = spark.createDataFrame(
        [(1, 0), (2, 1), (2, 0)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="unique parents"):
        ancestor_closure(e, method="double")


def test_ancestor_closure_doubling_enforces_max_depth(spark):
    """The doubling loop raises only at jump granularity, so a chain
    in (max_depth, 2*max_depth) used to complete silently where the
    walk raises — both methods must now raise on the same input
    (round-9 ADVICE)."""
    import pytest

    from vector_database_spark.operators.graph import ancestor_closure

    # depth-6 chain, max_depth=5: 2^2=4 <= 5 so the jump-granularity
    # check alone would have let depths up to 7 through
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="max_depth=5"):
        ancestor_closure(e, max_depth=5, method="walk")
    with pytest.raises(ValueError, match="max_depth=5"):
        ancestor_closure(e, max_depth=5, method="double")
    # depth exactly max_depth stays legal on both
    ok = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "child long, parent long"
    )
    a = sorted(
        map(tuple, ancestor_closure(ok, max_depth=5, method="walk").collect())
    )
    b = sorted(
        map(
            tuple,
            ancestor_closure(ok, max_depth=5, method="double").collect(),
        )
    )
    assert a == b and len(a) == 21


def test_bellman_ford_matches_python(spark):
    """Bounded-round relaxation vs a driver-side reference, on a graph
    where the lightest path uses MORE hops than the shortest-hop path
    (the case a frontier-only walk gets wrong)."""
    from vector_database_spark.operators.graph import bellman_ford

    edges = [
        (0, 1, 10),          # direct but heavy
        (0, 2, 1), (2, 3, 1), (3, 1, 1),   # 3 hops, total 3
        (1, 4, 1),
        (5, 6, 2),           # unreachable from seed 0
    ]
    rounds = 4
    # python reference: full relaxation per round
    dist = {0: 0}
    for _ in range(rounds):
        nd = dict(dist)
        for s, t, w in edges:
            if s in dist and dist[s] + w < nd.get(t, 1 << 60):
                nd[t] = dist[s] + w
        dist = nd

    e = spark.createDataFrame(edges, "src long, dst long, weight long")
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bellman_ford(e, sdf, rounds=rounds).collect()
    }
    assert got == dist
    assert got[1] == 3  # the light 3-hop path beat the heavy 1-hop one
    assert 5 not in got and 6 not in got


def test_knn_graph_write_clone_heavy_append_equals_rebuild(
    spark, embeddings, tmp_path
):
    """Cross-path bit-identity on CLONE-HEAVY data: knn_graph_write's
    bulk build takes the collapsed path (auto-detected), the append
    fix-up runs the uncollapsed per-member kernel, and a full
    collapsed rebuild must still match the stored layout
    edge-for-edge — the collapse proof is exercised across all three
    constructions at once."""
    from pyspark.sql import functions as F

    from vector_database_spark.operators.ann import ivf_read
    from vector_database_spark.operators.graph import (
        knn_graph_append,
        knn_graph_blocked,
        knn_graph_read,
        knn_graph_write,
    )

    vecs = _vecs(embeddings).where(F.col("id") < 300)
    clone = vecs.where(F.col("id") == 4).select("vector").first()["vector"]
    piles = spark.range(60).select(
        (F.col("id") + 7000).alias("id"),
        F.lit([float(x) for x in clone]).cast("array<double>").alias("vector"),
    )
    base = vecs.unionByName(piles)
    batch = _vecs(embeddings).where(
        (F.col("id") >= 300) & (F.col("id") < 360)
    )
    root = str(tmp_path / "kgc")
    knn_graph_write(base, 4, root, n_cells=8, nprobe=2, method="dgemm", seed=3)
    _, cents = ivf_read(spark, root)
    knn_graph_append(spark, root, batch, retrain="never")
    got_edges, _meta = knn_graph_read(spark, root)
    got = {
        (r.src, r.dst, r.rank, round(r.dist, 12)) for r in got_edges.collect()
    }
    want = {
        (r.src, r.dst, r.rank, round(r.dist, 12))
        for r in knn_graph_blocked(
            base.unionByName(batch), 4, centroids=cents, nprobe=2,
            method="dgemm", collapse_dups=True,
        ).collect()
    }
    assert got == want and got
