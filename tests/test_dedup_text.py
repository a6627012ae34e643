"""Dedup + text-analysis operator tests (oracle logic is exercised via
tools/check_oracle.py; here: structural/recall properties)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from vector_database_spark.operators import dedup as dd
from vector_database_spark.operators import text as tx
from vector_database_spark.schemas import local_frame


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "THE QUICK  brown fox jumps over the lazy dog"),  # exact after norm
        (3, "completely different text about spark engines"),
        (4, "completely different text about spark engines"),  # exact dup of 3
        (5, "spark engines process completely different workloads daily"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    g = dd.exact_dedup(_docs(spark))
    rows = {r.rep_id: r.n_copies for r in g.collect()}
    assert rows[0] == 2  # 0 and 2 normalize equal
    assert rows[3] == 2  # 3 and 4
    assert rows[1] == 1 and rows[5] == 1


def test_minhash_lsh_finds_near_dups(spark):
    pairs = dd.minhash_dedup_pairs(_docs(spark), threshold=0.4)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    assert (0, 2) in got  # identical after normalization (J = 1)
    assert (3, 4) in got
    assert (0, 1) in got  # high word-shingle overlap
    for a, b in got:
        assert a < b


def test_minhash_join_matches_brute_cross_jaccard(spark):
    """Cross-corpus LSH join == the brute cross-Jaccard on a small
    rig with planted cross-table near-dups; no within-table pair ever
    leaks into the output."""
    left = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "completely different text about spark engines"),
            (102, "unrelated eval prompt about weather patterns today"),
        ],
        "doc_id long, text string",
    )
    right = _docs(spark)
    got = {
        (r.l_id, r.r_id): round(r.jaccard, 9)
        for r in dd.minhash_join(left, right, threshold=0.4).collect()
    }
    # brute cross-Jaccard over normalized word 3-shingles
    def shingles(t):
        toks = t.lower().split()
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    want = {}
    for lid, lt in left.collect():
        for rid, rt in right.collect():
            a, b = shingles(lt), shingles(rt)
            j = len(a & b) / len(a | b)
            if j >= 0.4:
                want[(lid, rid)] = round(j, 9)
    assert got == want and (100, 0) in got and (101, 3) in got
    assert all(l_ >= 100 and r_ < 100 for l_, r_ in got)


def test_kmv_sketch_setops_exact_under_capacity_and_mergeable(spark):
    """KMV set algebra: (1) sets under the sketch capacity give EXACT
    union/intersection counts; (2) the union sketch computed from two
    sketches == the sketch of the unioned set directly (merge =
    selection algebra); (3) over capacity, estimates stay within the
    standard KMV error band."""
    from vector_database_spark.operators import sketch as sk

    a = spark.range(0, 40).select(F.col("id").alias("v"))
    b = spark.range(25, 70).select(F.col("id").alias("v"))
    ska, skb = sk.kmv_sketch(a, "v", k=128), sk.kmv_sketch(b, "v", k=128)
    row = sk.kmv_set_estimates(ska, skb, k=128).first()
    assert row["est_a"] == 40.0 and row["est_b"] == 45.0
    assert row["est_union"] == 70.0 and row["est_intersection"] == 15.0

    # merge property: bottom-k of concat == sketch of the union
    direct = sk.kmv_sketch(a.unionByName(b), "v", k=16).first()["mins"]
    merged_row = (
        sk.kmv_sketch(a, "v", k=16)
        .crossJoin(
            sk.kmv_sketch(b, "v", k=16).select(F.col("mins").alias("mb"))
        )
        .select(
            F.slice(
                F.array_sort(F.array_distinct(F.concat("mins", "mb"))),
                1,
                16,
            ).alias("u")
        )
        .first()["u"]
    )
    assert list(direct) == list(merged_row)

    # over capacity: 2000 vs 2000 with 1000 shared -> union 3000
    big_a = spark.range(0, 2000).select(F.col("id").alias("v"))
    big_b = spark.range(1000, 3000).select(F.col("id").alias("v"))
    r2 = sk.kmv_set_estimates(
        sk.kmv_sketch(big_a, "v", k=256),
        sk.kmv_sketch(big_b, "v", k=256),
        k=256,
    ).first()
    assert abs(r2["est_union"] - 3000) / 3000 < 0.25
    assert abs(r2["est_intersection"] - 1000) / 1000 < 0.4


def test_ngram_jaccard_matches_minhash_on_strong_pairs(spark):
    docs = _docs(spark)
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    mh = {
        (r.a_id, r.b_id): r.jaccard
        for r in dd.minhash_dedup_pairs(docs, threshold=0.4).collect()
    }
    assert set(mh) == set(exact)
    for k in mh:
        assert abs(mh[k] - exact[k]) < 1e-12


def test_ngram_jaccard_hot_shingle_cap(spark):
    """One stop-shingle shared by EVERY doc must not fan the candidate
    join out quadratically: with the df cap, candidate pairs come only
    from sub-cap shingles, and real near-dups (sharing rare shingles)
    are still found with exact Jaccard values."""
    n = 60
    rows = [
        # every doc starts with the same stop-shingle 'aaa bbb ccc';
        # the rest is unique filler except two planted near-dups
        (i, f"aaa bbb ccc unique{i} filler{i} tail{i} end{i}")
        for i in range(n)
    ]
    rows[1] = (1, "aaa bbb ccc unique0 filler0 tail0 diverge1")  # near-dup of 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dd.ngram_jaccard_pairs(docs, threshold=0.2, max_shingle_df=10)
    got = {(r.a_id, r.b_id): r.jaccard for r in capped.collect()}
    assert (0, 1) in got  # found via its sub-cap shared shingles
    # Jaccard is computed over FULL shingle sets (incl. the hot one)
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in dd.ngram_jaccard_pairs(
            docs, threshold=0.2, max_shingle_df=None
        ).collect()
    }
    assert got[(0, 1)] == exact[(0, 1)]
    # the candidate-generation plan never joins the hot shingle: pair
    # count stays near-linear (every exact pair here shares a sub-cap
    # shingle, so capped == exact on this corpus)
    assert got == exact
    # the hot-shingle-only pairs the cap drops: docs sharing NOTHING
    # but 'aaa bbb ccc' do not appear (their true J is below 0.2
    # anyway on this corpus, so exact agrees)
    assert all(a == 0 and b == 1 for (a, b) in got)


def _simhash_pairs_allpairs(signatures, *, max_hamming):
    """Quadratic all-pairs form of `simhash_pairs`: a crossJoin, the
    independent oracle for the banded equi-join."""
    a = signatures.select(
        F.col("id").alias("a_id"), F.col("simhash").alias("ha")
    )
    b = signatures.select(
        F.col("id").alias("b_id"), F.col("simhash").alias("hb")
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.crossJoin(b)
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def test_simhash_near_dups(spark):
    sig = dd.simhash_signatures(_docs(spark))
    rows = {r.id: r.simhash for r in sig.collect()}
    assert rows[0] == rows[2]  # identical normalized text -> same hash
    pairs = _simhash_pairs_allpairs(sig, max_hamming=10)
    got = {(r.a_id, r.b_id): r.hamming for r in pairs.collect()}
    assert got[(0, 2)] == 0
    assert (3, 4) in got and got[(3, 4)] == 0
    banded = dd.simhash_pairs(sig, max_hamming=10)
    got_b = {(r.a_id, r.b_id): r.hamming for r in banded.collect()}
    assert got == got_b  # banded equi-join == brute pair join


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = dd.embedding_neardup_pairs(df, threshold=0.95)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    assert got == {(0, 1)}


def _neardup_vectors(spark, n):
    """``n`` random 8-d rows plus a perturbed copy of every 5th one
    (id + 1000): planted pairs above 0.95 cosine."""
    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(n)]
    rows += [
        (i + 1000, [x + rnd.uniform(-0.01, 0.01) for x in v])
        for i, v in rows
        if i % 5 == 0
    ]
    return local_frame(spark, rows, "vec_id long, embedding array<double>")


def test_cosine_kernel_bit_identical_across_groupings(spark):
    """Every grouping of the shared exact cosine kernel reports the
    same pairs with bit-identical cos_sim: one self block, three
    blocks (cross block pairs) and one SemDeDup cell."""
    df = _neardup_vectors(spark, 120)

    def rows(out):
        return sorted(tuple(r) for r in out.collect())

    one = rows(dd.embedding_neardup_pairs(df, threshold=0.95, n_blocks=1))
    three = rows(dd.embedding_neardup_pairs(df, threshold=0.95, n_blocks=3))
    cell = rows(
        dd.neardup_within_cells(
            df.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("vector"),
                F.lit(0).alias("cell"),
            ),
            threshold=0.95,
        )
    )
    assert one == three == cell
    assert {(i, i + 1000) for i in range(0, 120, 5)} <= {r[:2] for r in one}


def test_embedding_neardup_empty_block_emits_each_pair_once(spark):
    """With more blocks than rows some blocks are empty; a block pair
    whose other block is empty must not re-emit its own block's pairs
    (that is the self block pair's job)."""
    df = local_frame(
        spark,
        [(i, [1.0, 0.001 * i, 0.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )

    def rows(n_blocks):
        out = dd.embedding_neardup_pairs(df, threshold=0.95, n_blocks=n_blocks)
        return sorted(tuple(r) for r in out.collect())

    one = rows(1)
    assert len(one) == 30 * 29 // 2
    assert rows(40) == one  # 30 rows in 40 blocks: some blocks empty


def test_embedding_neardup_sizes_blocks_in_one_job(spark, monkeypatch, tmp_path):
    """``n_blocks=None`` takes the row count and the width in ONE
    aggregate at construction, fewer Spark jobs over a parquet table
    than the two-action form (first() + count()), and the output
    equals the explicit block count that form picks."""
    monkeypatch.setattr(dd, "_NEARDUP_BLOCK_CELLS", 8 * 1024)
    _neardup_vectors(spark, 2500).write.parquet(str(tmp_path / "vecs"))
    df = spark.read.parquet(str(tmp_path / "vecs"))
    sc = spark.sparkContext

    def jobs_of(group, fn):
        sc.setJobGroup(group, group, False)
        try:
            out = fn()
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def two_action_blocks():
        side = df.select(F.size("embedding").alias("d"))
        block_rows = max(1024, dd._NEARDUP_BLOCK_CELLS // side.first()["d"])
        return max(1, -(-side.count() // block_rows))

    blocks, two_action_jobs = jobs_of("neardup_sizing_2", two_action_blocks)
    assert blocks == 3
    auto, auto_jobs = jobs_of(
        "neardup_sizing_1",
        lambda: dd.embedding_neardup_pairs(df, threshold=0.95),
    )
    assert auto_jobs < two_action_jobs, (auto_jobs, two_action_jobs)
    explicit = dd.embedding_neardup_pairs(df, threshold=0.95, n_blocks=blocks)
    got = sorted(tuple(r) for r in auto.collect())
    assert got == sorted(tuple(r) for r in explicit.collect()) and got


def test_tfidf_cosine_pairs_runs_no_action_of_its_own(
    spark, tmp_path, monkeypatch
):
    """Building the tf-idf pair plan runs no Spark action of its own:
    the corpus size in the idf is a scalar subquery, not an eager
    count. The lazy `localCheckpoint` pin of the weight table still
    runs its input's shuffle stages when it is built (AQE plans them
    to make the pin's RDD), so the job count is taken with the pin
    stubbed out. Pairs and scores equal a term-sorted Python replay of
    the same rational tf-idf bit for bit (a null-text document counts
    toward N)."""
    import math

    texts = [
        "the cat sat on the mat",
        "the cat sat on a mat",
        "a dog ran in the park",
        "the dog ran in a park today",
        "quantum fields and strings",
        None,
    ]
    local_frame(
        spark, list(enumerate(texts)), "doc_id long, text string"
    ).write.parquet(str(tmp_path / "docs"))
    df = spark.read.parquet(str(tmp_path / "docs"))
    sc = spark.sparkContext
    monkeypatch.setattr(type(df), "localCheckpoint", lambda self, eager=True: self)
    sc.setJobGroup("tfidf_build", "tfidf_build", False)
    try:
        dd.tfidf_cosine_pairs(df, threshold=0.2)
        build_jobs = len(sc.statusTracker().getJobIdsForGroup("tfidf_build"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.undo()
    assert build_jobs == 0
    pairs = dd.tfidf_cosine_pairs(df, threshold=0.2)

    n = len(texts)
    tf = {}
    for i, t in enumerate(texts):
        if t is not None:
            tf[i] = {}
            for term in t.split(" "):
                tf[i][term] = tf[i].get(term, 0) + 1
    dfreq = {}
    for terms in tf.values():
        for term in terms:
            dfreq[term] = dfreq.get(term, 0) + 1
    w = {
        i: {
            term: (c / sum(terms.values())) * (float(n + 1) / (dfreq[term] + 1))
            for term, c in terms.items()
        }
        for i, terms in tf.items()
    }

    def fold(xs):
        acc = 0.0
        for x in xs:
            acc += x
        return acc

    norm = {i: math.sqrt(fold(v * v for _, v in sorted(ws.items()))) for i, ws in w.items()}
    want = []
    for a in sorted(w):
        for b in sorted(w):
            shared = sorted(set(w[a]) & set(w[b]))
            if a < b and shared:
                cos = fold(w[a][t] * w[b][t] for t in shared) / (norm[a] * norm[b])
                if cos >= 0.2:
                    want.append((a, b, len(shared), cos))
    got = sorted(tuple(r) for r in pairs.collect())
    assert got == want and len(got) >= 2


def test_token_stats_and_quality(spark):
    docs = _docs(spark)
    st = {r.id: r for r in tx.token_stats(docs).collect()}
    assert st[0].n_tokens == 9
    assert st[0].n_unique_tokens == 8  # 'the' twice
    q = {r.id: r for r in tx.quality_score(docs).collect()}
    assert q[0].len_ok and q[0].stop_ok
    assert 0 <= q[0].score <= 1


def test_language_id(spark):
    rows = [
        (0, "the cat is on the mat and the dog is in the house"),
        (1, "le chat est pour la maison et les chiens de paris"),
        (2, "el perro es para la casa y los gatos de madrid"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r.pred_lang for r in tx.language_scores(df).collect()}
    assert out == {0: "en", 1: "fr", 2: "es"}


def test_fingerprint_normalization_invariance(spark):
    rows = [(0, "Hello  World"), (1, "hello world"), (2, "hello worlds")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r.doc_id: r.fp for r in df.select("doc_id", tx.fingerprint("text").alias("fp")).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[2]


def test_connected_components_chain(spark):
    """A 6-node path graph forces multi-round label propagation
    (diameter 5 > one hop) — exercises the fixpoint loop, not just
    the near-clique fast case."""
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15), (20, 21)],
        "a_id long, b_id long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [10, 11, 12, 13, 14, 15, 20, 21, 30]], "id long"
    )
    comp = {r.id: r.component for r in dd.connected_components(pairs, nodes).collect()}
    assert all(comp[i] == 10 for i in range(10, 16))
    assert comp[20] == comp[21] == 20
    assert comp[30] == 30  # singleton keeps its own label


def test_connected_components_star_matches_minlabel(spark):
    """The O(log d) large-star/small-star path (round-6 verdict item
    2) must produce IDENTICAL components to min-label on any graph —
    components are canonical (min reachable id). Random graph + the
    d06-style mixed fixture (chain, pair, singleton)."""
    import random

    random.seed(11)
    edges = [
        (random.randrange(200), random.randrange(200)) for _ in range(150)
    ]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "a_id long, b_id long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(200)], "id long")
    ml = {
        (r.id, r.component)
        for r in dd.connected_components(pairs, nodes).collect()
    }
    st = {
        (r.id, r.component)
        for r in dd.connected_components(pairs, nodes, method="star").collect()
    }
    assert ml == st
    mixed = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15), (20, 21)],
        "a_id long, b_id long",
    )
    mnodes = spark.createDataFrame(
        [(i,) for i in [10, 11, 12, 13, 14, 15, 20, 21, 30]], "id long"
    )
    comp = {
        r.id: r.component
        for r in dd.connected_components(
            mixed, mnodes, method="star"
        ).collect()
    }
    assert all(comp[i] == 10 for i in range(10, 16))
    assert comp[20] == comp[21] == 20
    assert comp[30] == 30  # singleton keeps its own label


def test_connected_components_star_log_rounds_on_chain(spark):
    """The reason the star method exists: a 10k-node chain (diameter
    9999 — the sliding-boilerplate crawl shape that would cost
    min-label 9999 shuffle rounds) must converge in <= 2*log2(n)
    rounds and still label every node with the chain minimum."""
    import math

    n = 10_000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    lab = dd.connected_components(chain, nodes, method="star")
    agg = lab.agg(
        F.min("component"), F.max("component"), F.count("*")
    ).first()
    assert (agg[0], agg[1], agg[2]) == (0, 0, n)
    rounds = dd.connected_components._last_rounds
    assert rounds <= 2 * math.log2(n), rounds


def test_dedup_groups_canonical(spark):
    docs = _docs(spark)
    pairs = dd.minhash_dedup_pairs(docs, threshold=0.4)
    g = dd.dedup_groups(docs, pairs)
    rows = {r.doc_id: r for r in g.collect()}
    assert len(rows) == 6  # every doc assigned, singletons included
    # docs 0,1,2 form one group (0-2 exact, 0-1 near); canonical = 0
    assert rows[0].group_id == rows[1].group_id == rows[2].group_id == 0
    assert rows[0].is_canonical == 1 and rows[1].is_canonical == 0
    assert rows[0].group_size == 3
    # 3,4 pair up; 5 is a singleton
    assert rows[3].group_id == rows[4].group_id == 3
    assert rows[5].group_id == 5 and rows[5].group_size == 1
    # exactly one canonical per group
    n_canon = sum(r.is_canonical for r in rows.values())
    assert n_canon == 3


def test_contamination_overlap(spark):
    from vector_database_spark.operators.dedup import (
        contamination_overlap,
        shingle_rows,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different content with no overlap here at all"),
            (100, "quick brown fox is a benchmark phrase"),
        ],
        "doc_id long, text string",
    )
    sh = shingle_rows(docs)
    bench = sh.where(F.col("id") == 100)
    train = sh.where(F.col("id") != 100)
    out = {r.id: (r.n_shingles, r.n_overlap)
           for r in contamination_overlap(train, bench).collect()}
    # doc 1 shares the 'quick brown fox' shingle with the benchmark
    assert out[1][1] == 1
    assert out[2][1] == 0
    assert out[1][0] == 7 and out[2][0] == 7  # 9-token docs -> 7 trigrams
    # non-broadcast path agrees
    out2 = {r.id: (r.n_shingles, r.n_overlap)
            for r in contamination_overlap(
                train, bench, broadcast_bench=False).collect()}
    assert out == out2


def test_boilerplate_stats(spark):
    from vector_database_spark.operators.dedup import (
        boilerplate_stats,
        shingle_rows,
    )

    footer = "all rights reserved by the example corporation"
    docs = spark.createDataFrame(
        [(i, f"unique body text number {i} is here {footer}") for i in range(4)]
        + [(9, "totally unrelated document with zero repeated spans")],
        "doc_id long, text string",
    )
    out = {r.id: (r.n_shingles, r.n_boiler)
           for r in boilerplate_stats(shingle_rows(docs), min_docs=3).collect()}
    # the footer trigrams (and the ' here '-bridge trigrams sharing
    # footer words) repeat across 4 docs; the unrelated doc has none
    assert out[9][1] == 0
    for i in range(4):
        assert out[i][1] >= 5  # footer contributes >= 5 shared trigrams
        assert out[i][1] < out[i][0]


def test_chunk_documents_overlap_and_tail(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(50))),  # 50 tokens
         (2, "a b c"),                               # 3 tokens, one chunk
         (3, "")],                                   # split('') -> ['']
        "doc_id long, text string",
    )
    out = tx.chunk_documents(docs, size=8, stride=5)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    # doc 1: ceil(50/5) = 10 chunks; chunk 0 = w0..w7, chunk 1 = w5..w12
    assert sum(1 for k in rows if k[0] == 1) == 10
    assert rows[(1, 0)].chunk_text.split() == [f"w{i}" for i in range(8)]
    assert rows[(1, 1)].chunk_text.split() == [f"w{i}" for i in range(5, 13)]
    # last chunk starts at 45, only 5 tokens remain
    assert rows[(1, 9)].n_chunk_tokens == 5
    assert rows[(1, 9)].chunk_text.split() == [f"w{i}" for i in range(45, 50)]
    # every token index is covered by at least one chunk
    covered = set()
    for (d, _c), r in rows.items():
        if d == 1:
            covered.update(r.chunk_text.split())
    assert covered == {f"w{i}" for i in range(50)}
    # tiny docs -> exactly one (possibly short/empty) chunk
    assert rows[(2, 0)].n_chunk_tokens == 3
    assert sum(1 for k in rows if k[0] == 2) == 1
    assert rows[(3, 0)].chunk_text == ""


def test_repetition_stats_signals(spark):
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam"),          # one word repeated
         (2, "all tokens here are distinct"),  # no repetition
         (3, "ab cd ab cd ab cd")],            # repeated bigram "ab cd"
        "doc_id long, text string",
    )
    out = {r.id: r for r in tx.repetition_stats(docs).collect()}
    assert out[1].top_word_frac == 1.0
    assert out[1].dup_bigram_frac == round(1 - 1 / 3, 4)  # 3 bigrams, 1 distinct
    assert out[2].top_word_frac == 0.2
    assert out[2].dup_bigram_frac == 0.0 and out[2].top_bigram_frac == 0.25
    # "ab cd" appears 3x among 5 bigrams; "cd ab" 2x
    assert out[3].top_bigram_frac == 0.6
    assert out[3].dup_bigram_frac == round(1 - 2 / 5, 4)


def test_pii_scrub_counts_and_redaction(spark):
    docs = spark.createDataFrame(
        [(1, "mail bob.smith@corp.example.org now"),
         (2, "server at 10.0.42.7 port open"),
         (3, "call 555-012 3456 today"),
         (4, "clean text with no pii at all"),
         (5, "x a@b.io y 1.2.3.4 z 99-111-2222 w")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in tx.pii_scrub(docs).collect()}
    assert (out[1].n_email, out[1].n_ip, out[1].n_phone) == (1, 0, 0)
    assert out[1].scrubbed == "mail <EMAIL> now"
    assert (out[2].n_email, out[2].n_ip) == (0, 1)
    assert out[2].scrubbed == "server at <IP> port open"
    assert out[3].n_phone == 1
    assert out[3].scrubbed == "call <PHONE> today"
    assert (out[4].n_email, out[4].n_ip, out[4].n_phone) == (0, 0, 0)
    assert out[4].scrubbed == out[4].scrubbed  # untouched
    assert (out[5].n_email, out[5].n_ip, out[5].n_phone) == (1, 1, 1)
    assert out[5].scrubbed == "x <EMAIL> y <IP> z <PHONE> w"


def test_embedding_neardup_blocked_subset_and_planted_recall(spark, embeddings):
    emb = embeddings.select("vec_id", "embedding")
    # plant near-identical (scaled) copies: cosine == 1, L2-close
    planted = emb.where(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01))
        .cast("array<float>")
        .alias("embedding"),
    )
    aug = emb.unionByName(planted)
    got = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dd.embedding_neardup_blocked(
            aug, threshold=0.999, n_cells=4, seed=7
        ).collect()
    }
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dd.embedding_neardup_pairs(aug, threshold=0.999).collect()
    }
    # within-cell pairs are computed exactly: blocked is a SUBSET of
    # exact with bit-identical similarities
    assert set(got) <= set(exact)
    for k, v in got.items():
        assert v == exact[k]
    # every planted pair is geometrically coincident -> same cell
    want = {
        (r.vec_id, r.vec_id + 10_000_000)
        for r in emb.where(F.col("vec_id") % 40 == 0).collect()
    }
    assert want <= set(got)


def test_minhash_fused_signatures_bit_identical(spark, documents):
    a = {r.id: list(r.minhash)
         for r in dd.minhash_signatures(documents).collect()}
    b = {r.id: list(r.minhash)
         for r in dd.minhash_signatures_fused(documents).collect()}
    assert a == b and a
    # the full pipeline agrees pair-for-pair with the fused-signature
    # ingest path over an empty corpus
    pa = {(r.a_id, r.b_id, r.jaccard)
          for r in dd.minhash_dedup_pairs(documents, threshold=0.5).collect()}
    pb = {(r.a_id, r.b_id, r.jaccard)
          for r in _ingest_into_empty_corpus(documents).collect()}
    assert pa == pb and pa


def _ingest_into_empty_corpus(docs):
    """`incremental_neardup`'s pairs for ``docs`` against no corpus:
    the batch's own near-dups, through the fused signature kernel."""
    spark = docs.sparkSession
    pairs, _sigs, _sh = dd.incremental_neardup(
        docs,
        local_frame(spark, [], "id long, minhash array<long>"),
        local_frame(spark, [], "id long, shingle string"),
        threshold=0.5,
    )
    return pairs


def _kernel_nodes(df) -> int:
    """Python map kernels in ``df``'s executed plan (call after an
    action): adaptive query stages and cached relations are walked,
    a ReusedExchange is a read of an exchange already counted."""

    def walk(node):
        name = node.nodeName()
        if name == "ReusedExchange":
            return 0
        if name == "AdaptiveSparkPlan":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStage"):
            kids = [node.plan()]
        else:
            ch = node.children()
            kids = [ch.apply(i) for i in range(ch.size())]
            if name == "InMemoryTableScan":
                kids.append(node.relation().cachedPlan())
        return (name in ("MapInPandas", "MapInArrow")) + sum(map(walk, kids))

    return walk(df._jdf.queryExecution().executedPlan())


_RUNS_ONCE_OPS = {
    "minhash_dedup_pairs": lambda d: dd.minhash_dedup_pairs(d),
    "incremental_neardup": lambda d: dd.incremental_neardup(
        d.where("doc_id % 2 = 1"),
        dd.minhash_signatures_fused(d.where("doc_id % 2 = 0")).localCheckpoint(),
        dd.shingle_rows(d.where("doc_id % 2 = 0")).localCheckpoint(),
    )[0],
    "jaccard_pairs": lambda d: dd.jaccard_pairs(
        d,
        local_frame(
            d.sparkSession,
            [(2 * j, 2 * j + 1) for j in range(12)] + [(0, 3), (5, 40)],
            "a_id long, b_id long",
        ),
    ),
    "ngram_jaccard_pairs": lambda d: dd.ngram_jaccard_pairs(d, threshold=0.5),
    "minhash_join": lambda d: dd.minhash_join(d.where("doc_id < 30"), d),
}


@pytest.mark.parametrize("op", sorted(_RUNS_ONCE_OPS))
def test_dedup_shingle_pass_runs_once_over_any_input(spark, tmp_path, op):
    """Each shingle/signature pass the operator builds is pinned, so
    its kernel runs once, in the pin's lineage, and no kernel node is
    left in the executed plan. A plan-matched persist() is not enough:
    over a `localCheckpoint` (RDD-backed) input the self-joins
    re-instance the input, the cache misses and every consumer re-runs
    the kernel (6 nodes in minhash_dedup_pairs' plan). The result is
    identical over parquet, RDD-backed and Arrow-local inputs."""
    rnd = random.Random(5)
    rows = []
    for i in range(80):
        if i % 2 and i < 24:  # 2j+1 near-duplicates 2j
            toks = rows[-1][1].upper().split()
            if i % 4 == 3:
                toks[rnd.randrange(len(toks))] = "edit"
            rows.append((i, "  ".join(toks)))
        else:
            rows.append(
                (i, " ".join(f"w{rnd.randrange(300)}" for _ in range(14)))
            )
    ddl = "doc_id long, text string"
    local = local_frame(spark, rows, ddl)
    local.write.parquet(str(tmp_path / "docs"))
    inputs = {
        "parquet": spark.read.parquet(str(tmp_path / "docs")),
        "rdd": local.localCheckpoint(),
        "arrow": local,
    }
    got = {}
    for name, d in inputs.items():
        out = _RUNS_ONCE_OPS[op](d)
        got[name] = sorted(tuple(r) for r in out.collect())
        assert _kernel_nodes(out) == 0, (op, name)
    assert got["parquet"] == got["rdd"] == got["arrow"]
    assert len(got["rdd"]) >= 12, got["rdd"]


def test_hashing_embed_dense_long_consistency_and_knn(spark):
    from vector_database_spark.operators.search import knn

    docs = _docs(spark)
    long = {(r.id, r.bucket): r.weight
            for r in tx.hashing_embed_long(docs, dims=32).collect()}
    dense = {r.id: list(r.vector)
             for r in tx.hashing_embed(docs, dims=32).collect()}
    # dense agrees with long; absent buckets are exactly 0
    for i, v in dense.items():
        assert len(v) == 32
        for b, x in enumerate(v):
            assert x == long.get((i, b), 0.0)
        # L2-normalized
        assert abs(sum(x * x for x in v) - 1.0) < 1e-9
    # exact-dup docs (3, 4) embed identically; composition with knn
    # puts each doc's duplicate at distance 0
    assert dense[3] == dense[4]
    vecs = spark.createDataFrame(
        [(i, v) for i, v in dense.items()], "id long, vector array<double>"
    )
    res = knn(vecs, [(3, dense[3])], k=2)
    got = {(r.id, round(r.dist, 9)) for r in res.collect()}
    assert (3, 0.0) in got and (4, 0.0) in got


def test_incremental_neardup_across_batches(spark):
    """Micro-batch ingest: each batch is checked against the
    accumulated corpus state (signatures + shingles) and then
    appended to it; results match a full batch recompute."""
    b0 = ["the quick brown fox jumps over the lazy dog today",
          "a tall ship sails on the open sea tonight with the wind"]
    b1 = ["the quick brown fox jumps over the lazy cat today",  # ~dup of 0
          "completely unrelated text about spark execution engines"]
    b2 = ["a tall ship sails on the open sea tonight with the breeze",  # ~dup of 1
          "the quick brown fox jumps over the lazy cat today"]  # exact of 2
    mk = lambda rows, off: spark.createDataFrame(
        [(off + i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )
    batches = [mk(b0, 0), mk(b1, 10), mk(b2, 20)]

    # incremental: state starts with batch 0
    state_sigs = dd.minhash_signatures_fused(batches[0]).localCheckpoint(eager=True)
    state_sh = dd.shingle_rows(batches[0]).localCheckpoint(eager=True)
    found = set()
    for nb in batches[1:]:
        pairs, new_sigs, new_sh = dd.incremental_neardup(
            nb, state_sigs, state_sh, threshold=0.5
        )
        found |= {(r.a_id, r.b_id) for r in pairs.collect()}
        state_sigs = state_sigs.unionByName(new_sigs).localCheckpoint(eager=True)
        state_sh = state_sh.unionByName(new_sh).localCheckpoint(eager=True)

    # full recompute over everything
    alldocs = batches[0].unionByName(batches[1]).unionByName(batches[2])
    full = {(r.a_id, r.b_id)
            for r in dd.minhash_dedup_pairs(alldocs, threshold=0.5).collect()}
    # incremental sees every pair that involves a post-batch-0 doc;
    # batch-0-internal pairs (none here) are the only exclusion
    assert found == full and found
    assert (0, 10) in found       # cross-batch near-dup
    assert (1, 20) in found       # batch-2 vs batch-0
    assert (10, 21) in found      # exact dup arriving later


def _local_bpe_reference(word_counts, n_merges):
    """Naive reference trainer (independent re-derivation for the
    equality test)."""
    vocab = {}
    for w, c in word_counts.items():
        sym = tuple(list(w) + ["</w>"])
        vocab[sym] = vocab.get(sym, 0) + c
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs or max(pairs.values()) < 2:
            break
        top = max(pairs.values())
        pair = min(p for p, c in pairs.items() if c == top)
        merges.append(pair)
        nv = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == pair:
                    out.append(pair[0] + pair[1]); i += 2
                else:
                    out.append(sym[i]); i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    return merges


def test_bpe_train_matches_local_reference_and_encodes(spark):
    texts = [
        "low lower lowest low low newer newest new",
        "wider wide widest new newer low",
        "the cat sat on the mat the cat",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = tx.bpe_train(docs, n_merges=30)
    # reference trainer over the same word counts
    from collections import Counter
    wc = Counter(w for t in texts for w in t.lower().split())
    want = _local_bpe_reference(dict(wc), 30)
    assert merges == want and merges
    # encode: self-check passes, counts shrink vs chars, frequent
    # words compress to fewer symbols than rare ones
    enc = {r.id: r for r in tx.bpe_encode(docs, merges).collect()}
    for i, t in enumerate(texts):
        words = t.lower().split()
        r = enc[i]
        assert r.reconstruction_ok
        assert r.n_words == len(words)
        n_chars = sum(len(w) + 1 for w in words)  # + </w> markers
        assert r.n_words < r.n_bpe_tokens < n_chars
    # "low" (very frequent) should be a single token after training
    single = tx.bpe_encode(
        spark.createDataFrame([(0, "low")], "doc_id long, text string"),
        merges,
    ).collect()[0]
    assert single.n_bpe_tokens == 1
    # no merges -> pure characters
    raw = tx.bpe_encode(docs, []).collect()
    for r in raw:
        words = texts[r.id].lower().split()
        assert r.n_bpe_tokens == sum(len(w) + 1 for w in words)


def test_review_regressions_null_text_and_cc_contract(spark):
    # NULL text must not crash Arrow kernels; expression parity: no rows
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, None)], "doc_id long, text string"
    )
    sh = dd.shingle_rows(docs).collect()
    assert {r.id for r in sh} == {1}
    sig = dd.minhash_signatures_fused(docs).collect()
    assert {r.id for r in sig} == {1}
    enc = {r.id: r for r in tx.bpe_encode(docs, []).collect()}
    assert enc[2].n_words == 0 and enc[2].reconstruction_ok
    # CC contract: edges touching ids absent from `nodes` neither
    # relay connectivity nor donate labels
    pairs = spark.createDataFrame(
        [(5, 10), (5, 20)], "a_id long, b_id long"
    )
    nodes = spark.createDataFrame([(10,), (20,)], "id long")
    out = {r.id: r.component
           for r in dd.connected_components(pairs, nodes, id_col="id").collect()}
    assert out == {10: 10, 20: 20}


def test_incremental_neardup_reingest_guard(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    sigs = dd.minhash_signatures_fused(docs)
    sh = dd.shingle_rows(docs)
    # the same id arrives again: it must be dropped, not re-shingled
    pairs, new_sigs, new_sh = dd.incremental_neardup(docs, sigs, sh)
    assert pairs.count() == 0
    assert new_sigs.count() == 0 and new_sh.count() == 0


def test_cosine_search_zero_norm_query(spark, embeddings):
    from pyspark.sql import functions as F

    from vector_database_spark.operators.search import cosine_search

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).where(F.col("id") < 200)
    dims = len(vecs.first().vector)
    panel = [(7, [0.0] * dims),
             (3, list(vecs.where(F.col("id") == 3).first().vector))]
    out = cosine_search(vecs, panel, 0.3).collect()
    qids = {r.qid for r in out}
    assert 7 not in qids          # zero query matches nothing, no crash
    assert (3 in qids)            # real query unaffected


def test_exact_substring_stats_crafted(spark):
    """Planted duplication: doc b repeats doc a's prefix, doc c is
    unique, doc d repeats a span within itself; NULL/short texts are
    dropped, not crashed."""
    from vector_database_spark.operators.text import exact_substring_stats

    prefix = "0123456789" * 2  # 20 chars
    rows = [
        (1, prefix + "AAAAAAAAAA"),          # 30 chars: 1 span
        (2, prefix + "AAAAAAAAAA"),          # identical: dup with doc 1
        (3, "Z" + "q8k2m" * 6),              # 31 chars, unique spans
        (4, "tooshort"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: (r["n_spans"], r["n_dup_spans"])
        for r in exact_substring_stats(df, span_len=30).collect()
    }
    assert out[1] == (1, 1) and out[2] == (1, 1)
    assert out[3][0] == 2 and out[3][1] == 0
    assert 4 not in out and 5 not in out
    # self-repeat: one doc containing the same 30-char span twice
    rep = "ab" * 15  # 30 chars
    df2 = spark.createDataFrame(
        [(9, rep + "XX" + rep)], "doc_id long, text string"
    )
    r9 = exact_substring_stats(df2, span_len=30).collect()[0]
    # spans at pos 1 and pos 33 are identical ("ab"*15)
    assert r9["n_dup_spans"] >= 2


def test_inverted_index_counts(spark):
    from vector_database_spark.operators.text import inverted_index

    rows = [(1, "a b a"), (2, "b c"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["term"]: (r["df"], r["cf"], r["postings"])
        for r in inverted_index(df).collect()
    }
    assert out["a"] == (1, 2, "1")
    assert out["b"] == (2, 2, "1,2")
    assert out["c"] == (1, 1, "2")


def test_bigram_lm_score_flags_gibberish(spark):
    """The corpus-frequency score must rank a garbled doc below the
    natural ones, and the integer statistics must match a local
    replay exactly."""
    from collections import Counter

    from vector_database_spark.operators.text import bigram_lm_score

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the lazy dog sleeps over the quick brown fox"),
        (2, "qzx jkq wvx zzq xqj kqz"),  # gibberish
        (3, None),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.id: (r.n_bigrams, r.score_sum) for r in bigram_lm_score(df).collect()}

    corpus = Counter()
    per_doc = {}
    for i, t in texts:
        if t is None:
            per_doc[i] = []
        else:
            per_doc[i] = [t.lower()[j : j + 2] for j in range(len(t) - 1)]
        corpus.update(per_doc[i])
    for i, bgs in per_doc.items():
        assert got[i] == (len(bgs), sum(corpus[b] for b in bgs)), i
    # ranking signal: gibberish mean frequency strictly below natural
    def mean(i):
        n, s = got[i]
        return s / n if n else 0.0

    assert mean(2) < mean(0) and mean(2) < mean(1)
    assert got[3] == (0, 0)


def test_plan_minhash_bands():
    """Band planning: exact divisors only, S-curve midpoint lands
    near the target threshold, and weighting toward recall never
    RAISES rows-per-band (fewer rows = more permissive bands)."""
    b, r = dd.plan_minhash_bands(0.5, 16)
    assert b * r == 16
    # the (b, r) S-curve threshold ~ (1/b)^(1/r) should be near 0.5
    thr = (1.0 / b) ** (1.0 / r)
    assert 0.2 < thr < 0.8, (b, r, thr)
    b2, r2 = dd.plan_minhash_bands(0.5, 16, fp_weight=0.1, fn_weight=0.9)
    assert b2 * r2 == 16 and r2 <= r
    import pytest

    with pytest.raises(ValueError):
        dd.plan_minhash_bands(1.5, 16)


def test_hash_linear_score_trained_weights_and_edge_docs(spark):
    """The trained-model path: a (bucket, weight) table broadcast
    against the hashed feature set — buckets absent from the model
    weigh 0, empty/null docs report (0, 0), and the seeded path is a
    pure function of (text, salt, n_buckets) — partitioning-
    invariant."""
    from vector_database_spark.functions.hashing import h60

    docs = spark.createDataFrame(
        [
            (0, "good clean text"),
            (1, "good clean text"),   # identical -> identical score
            (2, ""),                   # no features
            (3, None),                 # null text
            (4, "spam spam spam"),     # repeated token: distinct set
        ],
        "doc_id long, text string",
    )
    seeded = {
        r.id: (r.n_feats, r.score)
        for r in tx.hash_linear_score(docs, n_buckets=64).collect()
    }
    assert seeded[0] == seeded[1]
    assert seeded[2] == (0, 0) and seeded[3] == (0, 0)
    # 'spam spam spam' -> distinct feats {spam, 'spam spam'} = 2
    assert seeded[4][0] == 2
    # partitioning invariance
    again = {
        r.id: (r.n_feats, r.score)
        for r in tx.hash_linear_score(
            docs.repartition(7), n_buckets=64
        ).collect()
    }
    assert again == seeded

    # trained weights: score = sum of matched bucket weights only
    b_good = spark.range(1).select(
        F.pmod(h60(F.lit("good"), 18), F.lit(64)).alias("b")
    ).first()["b"]
    w = spark.createDataFrame(
        [(int(b_good), 7)], "bucket long, weight long"
    )
    scored = {
        r.id: (r.n_feats, r.score)
        for r in tx.hash_linear_score(docs, w, n_buckets=64).collect()
    }
    # every doc with the 'good' unigram gets exactly +7 unless another
    # of its features collides into the same bucket
    feats0 = {"good", "clean", "text", "good clean", "clean text"}
    collide = sum(
        1
        for f in feats0
        if spark.range(1)
        .select(F.pmod(h60(F.lit(f), 18), F.lit(64)).alias("b"))
        .first()["b"]
        == b_good
    )
    assert scored[0] == (5, 7 * collide)
    assert scored[2] == (0, 0) and scored[3] == (0, 0)


def test_hash_linear_score_float_weights_not_truncated(spark):
    """ADVICE r10 (medium): a user-supplied REAL-weight model (the
    documented 'trained model swaps in' path) must not have its
    scores silently truncated to long — the score column keeps the
    weight type's sum; the seeded path stays long (integer by
    construction)."""
    from vector_database_spark.functions.hashing import h60

    docs = spark.createDataFrame(
        [(0, "alpha"), (1, "")], "doc_id long, text string"
    )
    b_alpha = spark.range(1).select(
        F.pmod(h60(F.lit("alpha"), 18), F.lit(64)).alias("b")
    ).first()["b"]
    w = spark.createDataFrame(
        [(int(b_alpha), 0.75)], "bucket long, weight double"
    )
    out = tx.hash_linear_score(docs, w, n_buckets=64)
    assert dict(out.dtypes)["score"] == "double"
    got = {r.id: (r.n_feats, r.score) for r in out.collect()}
    assert got[0] == (1, 0.75)   # fractional score survives
    assert got[1] == (0, 0.0)    # featureless doc coalesces to 0
    # the seeded path is untouched: integer scores, long type
    seeded = tx.hash_linear_score(docs, n_buckets=64)
    assert dict(seeded.dtypes)["score"] == "bigint"


def test_kmv_set_estimates_empty_sketches(spark):
    """ADVICE r10 (low): two EMPTY input sets must yield all-zero
    estimates, not an ANSI INVALID_ARRAY_INDEX / divide-by-zero."""
    from vector_database_spark.operators import sketch as sk

    e = spark.range(0).select(F.col("id").alias("v"))
    row = sk.kmv_set_estimates(
        sk.kmv_sketch(e, "v", k=16), sk.kmv_sketch(e, "v", k=16), k=16
    ).first()
    assert row["n_u"] == 0 and row["rho"] == 0
    assert row["kth"] is None
    assert row["est_a"] == 0.0 and row["est_b"] == 0.0
    assert row["est_union"] == 0.0 and row["est_intersection"] == 0.0

    # one empty side: estimates degrade to the non-empty set's exact
    # count, intersection 0
    a = spark.range(0, 12).select(F.col("id").alias("v"))
    row2 = sk.kmv_set_estimates(
        sk.kmv_sketch(a, "v", k=16), sk.kmv_sketch(e, "v", k=16), k=16
    ).first()
    assert row2["est_a"] == 12.0 and row2["est_b"] == 0.0
    assert row2["est_union"] == 12.0 and row2["est_intersection"] == 0.0
