"""Vicinity / similarity search over the BSP-tree index.

Two result semantics, mirroring the reference (SURVEY.md §2 semantics
note):

* ``search_candidates`` — the SQL ``dbo.Search`` contract
  (DDL.sql:234-295): every leaf whose cell intersects the axis-aligned
  box ``[q_i - domain, q_i + domain]``; a *superset* of the true
  matches (no final distance check in the reference SQL).
* ``search`` — the tested behavior of ``MemoryVectorIndex.Find``
  (MemoryVectorIndex.cs:242-345 + the tests' Euclidean predicate):
  candidates refined by an exact L2 filter. Since the L2 ball of
  radius d is contained in the L∞ box of radius d, box candidates are
  a correct superset for L2 refinement.

One search core serves ``search``, ``search_stats`` and the facade:

* Router — ``search_candidates_auto`` alone picks the candidate walk:
  the single-job cogroup walker (``search_candidates_broadcast``)
  while a tree fits one task (``BROADCAST_INDEX_MAX_ROWS``), else the
  iterative frontier join (``search_candidates``), which broadcasts
  the index per level up to ``BROADCAST_JOIN_INDEX_MAX_ROWS`` and pins
  a ``(doc_id, range_id)`` layout beyond. ``search`` first asks the
  cost model (``_auto_strategy``) whether a brute scan beats any walk.
* Distance table — ``_DISTANCES`` maps each metric to its expression
  over ``_vec``/``qvec`` (smaller is nearer); search, telemetry, brute
  force, kNN and ``graph.knn_graph`` each name the metrics they take.
* Scope and refine — ``_scoped_vectors`` projects the vector table to
  ``(id, _vec)``, scoped to one document by its ``doc_id`` column or,
  lacking one, by the tree's leaf ids; ``_refine`` is the exact
  ``dist <= domain`` join behind ``search`` and ``search_stats``.
* Index memo — ``_index_memo`` keeps per-index-object dicts (row
  counts, pilot top levels, shuffle-regime layouts) on the index
  DataFrame, so they go with the object the facade drops on every
  index change.

Execution: the recursive CTE the reference uses has no direct Spark
equivalent at scale, so the iterative walk is a driver loop over
frontier self-joins — one job per ``_CHECKPOINT_EVERY`` tree levels,
frontier shrinking as subtrees prune. Many queries traverse TOGETHER
in one frontier (batch panel).

A brute-force path (`brute_force_search`, `knn`) doubles as the oracle
(reference pattern: MemoryVectorIndexTests.cs:161-163) and as the
baseline ANN comparison point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vector_database_spark.functions.vector import (
    cosine_similarity,
    dot,
    euclidean,
    l2_norm,
    linf_distance,
    normalize,
)
from vector_database_spark.schemas import as_predicate, local_frame, sql_ident

# Metric -> distance over the vector (`_vec`) and query (`qvec`)
# columns, smaller is nearer: cosine as 1 - cos, and dot (maximum
# inner product, the retrieval metric for unnormalized embeddings)
# negated, so every metric shares the ascending-(dist, id) machinery.
_DISTANCES = {
    "euclidean": euclidean,
    "chebyshev": linf_distance,
    "cosine": lambda v, q: F.lit(1.0) - cosine_similarity(v, q),
    "dot": lambda v, q: -dot(v, q),
}


def _distance(
    metric: str, allowed: tuple[str, ...], q: list | None = None
) -> Column:
    """`metric`'s distance column; `allowed` names the metrics the
    calling operator's contract accepts. ``q``, one listed query
    vector, is inlined as a literal in place of the ``qvec`` column."""
    if metric not in allowed:
        raise ValueError(f"unknown metric {metric!r}")
    if q is None:
        return _DISTANCES[metric](F.col("_vec"), F.col("qvec"))
    return _DISTANCES[metric]("_vec", [float(x) for x in q])


def _pruning(metric: str) -> str:
    """Walker pruning for a refinement metric: Euclidean admits the
    tighter squared-budget ball (O24); Chebyshev needs the full box."""
    return "ball" if metric == "euclidean" else "box"


def _index_memo(index_df: DataFrame, name: str) -> dict:
    """The `name` memo of this index DataFrame object: a dict kept on
    the object, so repeated searches over one index reuse it and an
    index the caller replaces takes its memos with it."""
    memos = getattr(index_df, "_vds_memo", None)
    if memos is None:
        memos = {}
        try:
            index_df._vds_memo = memos
        except AttributeError:
            pass
    return memos.setdefault(name, {})


def _as_queries_df(index_or_vectors: DataFrame, queries: DataFrame | list) -> DataFrame:
    """Accept either a DataFrame (qid, qvec) or a python list of
    (qid, vector) pairs.

    List panels must be uniform-width: the cogroup walker images the
    panel as one dense (n_q, n_dims) matrix. Validated here with a
    clear error instead of an opaque executor-side reshape failure.
    """
    if isinstance(queries, DataFrame):
        return queries
    widths = {len(v) for _, v in queries}
    if len(widths) > 1:
        raise ValueError(
            f"query panel has mixed vector widths {sorted(widths)}; "
            "searches require a uniform-width panel (pad or split by width)"
        )
    return local_frame(
        index_or_vectors.sparkSession,
        [(int(q), [float(x) for x in v]) for q, v in queries],
        "qid long, qvec array<double>",
    )


# Bound on memoized shuffle-regime index layouts per index DataFrame:
# one unscoped + a handful of doc-scoped layouts; beyond it the
# least-recently-used scoped layout is unpersisted and dropped.
_RANGE_LAYOUT_MAX = 4


def _range_layout(index_df: DataFrame, idx: DataFrame, doc_id: int | None) -> DataFrame:
    """Per-(index, doc scope) memoized `(doc_id, range_id)`-partitioned
    persisted layout for the shuffle-join regime, LRU-bounded so
    repeated doc-scoped searches don't grow executor storage without
    bound (round-2 advice)."""
    cache = _index_memo(index_df, "range_layout")
    if doc_id in cache:
        cache[doc_id] = cache.pop(doc_id)  # refresh LRU position
        return cache[doc_id]
    par = max(1, index_df.sparkSession.sparkContext.defaultParallelism)
    layout = idx.repartition(par, "doc_id", "range_id").persist()
    cache[doc_id] = layout
    while len(cache) > _RANGE_LAYOUT_MAX:
        # evict the least-recently-used SCOPED layout first; the
        # unscoped layout (key None) serves every future scope.
        victim = next((k for k in cache if k is not None), None)
        if victim is None or victim == doc_id:
            break
        try:
            cache.pop(victim).unpersist()
        except Exception:
            break
    return layout


# The iterative walk checkpoints its frontier every this many levels
# (one Spark job each) and gives up beyond _MAX_LEVELS levels.
_CHECKPOINT_EVERY = 8
_MAX_LEVELS = 64


def search_candidates(
    index_df: DataFrame,
    queries: DataFrame | list,
    domain: float,
    *,
    doc_id: int | None = None,
    broadcast_index: bool = True,
) -> DataFrame:
    """Box-semantics candidate ids: ``(qid, doc_id, id)``.

    Pruning predicates per DDL.sql:272-293: descend the low child
    unless ``mid < q[dim] - domain``, the high child unless
    ``mid > q[dim] + domain``; id-split nodes (dimension null) descend
    both.
    """
    qdf = _as_queries_df(index_df, queries).select(
        "qid", F.col("qvec").cast("array<double>").alias("qvec")
    )
    # The query panel joins back in at EVERY level (broadcast hash
    # join); the frontier itself carries only (qid, doc_id, range_id)
    # — 24 bytes/row. The round-2 fix: carrying qvec (dims × 8 B) in
    # every frontier row made each checkpoint materialize ~20× more
    # bytes than the traversal state requires (measured 163 s for a
    # 3-query panel over a 1M-vector tree; slim frontier + leaf
    # checkpointing below brought the same walk to seconds).
    qdf = F.broadcast(qdf.localCheckpoint(eager=False))
    idx = index_df
    if doc_id is not None:
        idx = idx.where(F.col("doc_id") == F.lit(doc_id))
    if broadcast_index:
        idx = F.broadcast(idx)
    else:
        # Shuffle-join regime (indexes too big to broadcast per
        # action): pin the index to a (doc_id, range_id) hash layout
        # ONCE — cached InMemoryRelations preserve their output
        # partitioning, so each level's join shuffles only the slim
        # frontier. Memoized per DataFrame object AND per doc scope
        # (LRU, bounded): repeated searches — scoped or unscoped —
        # reuse the cached layout; evicted layouts are unpersisted.
        idx = _range_layout(index_df, idx, doc_id)

    # Frontier: one row per (query, doc tree) at the roots.
    roots = idx.where(F.col("range_id") == 0).select("doc_id").distinct()
    frontier = qdf.crossJoin(roots).select(
        "qid", "doc_id", F.lit(0).cast("long").alias("range_id")
    )

    hits: list[DataFrame] = []        # materialized leaf batches
    pending: list[DataFrame] = []     # leaf slices since last checkpoint
    level = 0
    _null_rid = F.lit(None).cast("long")

    def checkpoint_state(frontier: DataFrame) -> DataFrame:
        # ONE eager checkpoint materializes the live frontier AND the
        # leaf slices found since the last boundary (they share the
        # same ≤`_CHECKPOINT_EVERY`-level lineage segment, so the
        # traversal executes once per segment); both the hit batch and
        # the next frontier are then splits over stored blocks, and
        # the final union reads blocks instead of re-walking the tree.
        blob = frontier.select(
            "qid", "doc_id", "range_id", F.lit(None).cast("long").alias("id")
        )
        for lf in pending:
            blob = blob.unionByName(
                lf.select("qid", "doc_id", _null_rid.alias("range_id"), "id")
            )
        pending.clear()
        # coalesce: the union stacks ~_CHECKPOINT_EVERY+1 inputs' worth
        # of partitions; without it the count compounds GEOMETRICALLY
        # across segments (frontier slices inherit the blob's
        # partitioning — measured 186k tasks in one stage by segment 4
        # of a 1M-vector walk). Narrow dependency, no shuffle.
        par = max(1, blob.sparkSession.sparkContext.defaultParallelism)
        blob = blob.coalesce(par).localCheckpoint(eager=True)
        hits.append(
            blob.where(F.col("id").isNotNull()).select("qid", "doc_id", "id")
        )
        return blob.where(F.col("id").isNull()).select("qid", "doc_id", "range_id")

    while True:
        if level > _MAX_LEVELS:
            raise RuntimeError("search exceeded max tree depth")
        nodes = frontier.join(idx, ["doc_id", "range_id"], "inner")
        leaf = nodes.where(F.col("id").isNotNull()).select("qid", "doc_id", "id")
        pending.append(leaf)

        internal = nodes.where(F.col("low_range_id").isNotNull()).join(qdf, "qid")
        qv = F.try_element_at(F.col("qvec"), F.col("dimension") + F.lit(1))
        keep_low = F.col("dimension").isNull() | (F.col("mid") >= qv - F.lit(domain))
        keep_high = F.col("dimension").isNull() | (F.col("mid") <= qv + F.lit(domain))
        empty = F.array().cast("array<long>")
        children = internal.select(
            "qid",
            "doc_id",
            F.explode(
                F.concat(
                    F.when(keep_low, F.array(F.col("low_range_id"))).otherwise(empty),
                    F.when(keep_high, F.array(F.col("high_range_id"))).otherwise(empty),
                )
            ).alias("range_id"),
        )
        frontier = children
        level += 1
        # One action per `_CHECKPOINT_EVERY` levels, not per level: the
        # checkpoint both cuts lineage AND tells us whether the
        # frontier is exhausted — descending an already-empty frontier
        # for a few levels costs only plan nodes, not jobs.
        if level % _CHECKPOINT_EVERY == 0:
            frontier = checkpoint_state(frontier)
            if frontier.isEmpty():
                break

    if pending:
        checkpoint_state(frontier.limit(0))
    out = hits[0]
    for extra in hits[1:]:
        out = out.unionByName(extra)
    return out


def search_candidates_broadcast(
    index_df: DataFrame,
    queries: DataFrame | list,
    domain: float,
    *,
    doc_id: int | None = None,
    pruning: str = "box",
) -> DataFrame:
    """Single-job candidate search: per-document executor-side walk.

    The query panel is cross-joined to the document list and COGROUPED
    with the index on ``doc_id`` — each task receives one document's
    complete tree plus the panel, builds a columnar tree image (arrays
    sorted by range_id, child pointers remapped to array positions)
    and walks it in-process. The index never visits the driver (the
    round-1 version shipped it through ``toPandas`` + broadcast; the
    name is kept for API stability). Parallelism = #documents — the
    reference's design unit is one tree per document (DDL.sql:217-221).
    The iterative `search_candidates` remains the path for single trees
    too large for one task's memory. Results are identical.

    `pruning`:
    * 'box'  — per-split-plane interval pruning, the SQL Search
      semantics (DDL.sql:272-293). Candidates = leaves intersecting
      the L∞ box.
    * 'ball' — squared-Euclidean budget pruning, the
      MemoryVectorIndex.Find semantics (MemoryVectorIndex.cs:279-308):
      track the cell's squared distance to the query incrementally as
      planes are crossed; prune when it exceeds domain². Strictly
      fewer candidates; still a superset of the exact-L2 result, so
      refinement semantics are unchanged.
    """
    idx = index_df
    if doc_id is not None:
        idx = idx.where(F.col("doc_id") == F.lit(doc_id))
    idx = idx.select(
        "doc_id", "range_id", "dimension", "mid", "low_range_id", "high_range_id", "id"
    )
    # Query buckets parallelize walks WITHIN a document: index rows are
    # seven scalars (no vectors), so replicating the tree per bucket is
    # a few MB of shuffle per bucket — cheap next to serializing a
    # panel behind one task per doc.
    spark = index_df.sparkSession
    par = max(1, spark.sparkContext.defaultParallelism)
    n_q = len(queries) if isinstance(queries, list) else 8
    n_buckets = max(1, min(n_q, par))
    qdf = _as_queries_df(index_df, queries).select(
        "qid",
        F.col("qvec").cast("array<double>").alias("qvec"),
        F.pmod(F.xxhash64("qid"), F.lit(n_buckets)).alias("_qb"),
    )
    buckets = spark.range(n_buckets).select(F.col("id").cast("long").alias("_qb"))
    idx_rep = idx.crossJoin(F.broadcast(buckets))
    # fresh exprId for the key (`_doc`) — both cogroup sides descend
    # from the same index Dataset, and a shared attribute would trip
    # the ambiguous-self-join check.
    docs = (
        idx.where(F.col("range_id") == 0)
        .select(F.col("doc_id").alias("_doc"))
        .distinct()
    )
    qx = docs.crossJoin(F.broadcast(qdf))

    use_ball = pruning == "ball"
    budget = float(domain) * float(domain)
    dom = float(domain)
    # resolved via package import on executors (session.py exports
    # PYTHONPATH to the python workers)
    ball_walker = _walk_ball_panel
    box_walker = _walk_box_panel

    def walk(key, qpdf, ipdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "qid": pd.array([], dtype="int64"),
                "doc_id": pd.array([], dtype="int64"),
                "id": pd.array([], dtype="int64"),
            }
        )
        if not len(qpdf) or not len(ipdf):
            return empty
        doc = int(key[0])
        order = np.argsort(ipdf["range_id"].to_numpy(dtype="int64"), kind="stable")
        rids = ipdf["range_id"].to_numpy(dtype="int64")[order]
        dim = ipdf["dimension"].fillna(-1).to_numpy(dtype="int64")[order]
        mid = ipdf["mid"].fillna(0.0).to_numpy(dtype="float64")[order]
        leaf = ipdf["id"].fillna(-1).to_numpy(dtype="int64")[order]
        low_i = np.searchsorted(
            rids, ipdf["low_range_id"].fillna(-1).to_numpy("int64")[order]
        )
        high_i = np.searchsorted(
            rids, ipdf["high_range_id"].fillna(-1).to_numpy("int64")[order]
        )
        tree = (dim, mid, low_i.astype("int64"), high_i.astype("int64"), leaf)

        # whole query panel in one level-synchronous walk: the frontier
        # carries (query-row, node) pairs, so every numpy op advances
        # every query at once — no per-query (let alone per-node)
        # Python in the loop.
        qids = qpdf["qid"].to_numpy(dtype="int64")
        widths = {len(v) for v in qpdf["qvec"]}
        if len(widths) > 1:
            raise ValueError(
                f"query panel has mixed vector widths {sorted(widths)}; "
                "searches require a uniform-width panel"
            )
        Q = np.asarray([np.asarray(v, dtype=np.float64) for v in qpdf["qvec"]])
        if Q.ndim == 1:
            Q = Q.reshape(len(qids), -1)
        if use_ball:
            hit_q, hit_id = ball_walker(Q, tree, budget)
        else:
            hit_q, hit_id = box_walker(Q, tree, dom)
        return pd.DataFrame(
            {
                "qid": qids[hit_q],
                "doc_id": np.full(hit_q.size, doc, dtype=np.int64),
                "id": hit_id,
            }
        ).astype({"qid": "int64", "doc_id": "int64", "id": "int64"})

    return (
        qx.groupby("_doc", "_qb")
        .cogroup(idx_rep.groupby("doc_id", "_qb"))
        .applyInPandas(walk, "qid long, doc_id long, id long")
    )


def _walk_ball_panel(Q, tree, budget):
    """Level-synchronous ball-pruned walk (O24 budget semantics,
    MemoryVectorIndex.cs:279-308) for a whole query panel at once.

    Frontier state per entry: (query-row, node, cell²-distance,
    per-dim offset row). The squared cell distance is maintained
    incrementally exactly like the reference's scalar walk — crossing
    a split plane on dim d replaces that dim's recorded offset and
    adds ``new² - old²`` to the budget — so the candidate set is
    identical to the depth-first form, but every level is a handful
    of numpy gathers instead of per-node Python (measured ~10-20× on
    unselective panels). Peak memory = frontier × dims doubles.

    Returns (query_rows, leaf_ids) int64 arrays.
    """
    import numpy as np

    dim, mid, low_i, high_i, leaf = tree
    n_q, n_dims = Q.shape
    qrow = np.arange(n_q, dtype=np.int64)
    nodes = np.zeros(n_q, dtype=np.int64)
    cds = np.zeros(n_q, dtype=np.float64)
    offs = np.zeros((n_q, n_dims), dtype=np.float64)
    out_q: list = []
    out_id: list = []
    while nodes.size:
        lf = leaf[nodes]
        is_leaf = lf >= 0
        if is_leaf.any():
            out_q.append(qrow[is_leaf])
            out_id.append(lf[is_leaf])
        inner = ~is_leaf
        qrow, nodes, cds, offs = qrow[inner], nodes[inner], cds[inner], offs[inner]
        if not nodes.size:
            break
        d = dim[nodes]
        idsplit = d < 0
        oor = (d >= n_dims) & ~idsplit  # dim beyond query width: prune both
        normal = ~idsplit & ~oor

        parts_q = [np.repeat(qrow[idsplit], 2)]
        parts_n = [
            np.stack([low_i[nodes[idsplit]], high_i[nodes[idsplit]]], axis=1).ravel()
        ]
        parts_cd = [np.repeat(cds[idsplit], 2)]
        parts_off = [np.repeat(offs[idsplit], 2, axis=0)]

        nq_, nn_, ncd_, noff_ = qrow[normal], nodes[normal], cds[normal], offs[normal]
        dn = d[normal]
        qv = Q[nq_, dn]
        off = qv - mid[nn_]
        golow = off < 0
        near = np.where(golow, low_i[nn_], high_i[nn_])
        far = np.where(golow, high_i[nn_], low_i[nn_])
        parts_q.append(nq_)
        parts_n.append(near)
        parts_cd.append(ncd_)
        parts_off.append(noff_)

        new_off = np.abs(off)
        old = noff_[np.arange(len(dn)), dn]
        far_cd = np.where(new_off > old, ncd_ - old * old + new_off * new_off, ncd_)
        fkeep = far_cd <= budget
        f_off = noff_[fkeep].copy()
        f_off[np.arange(f_off.shape[0]), dn[fkeep]] = new_off[fkeep]
        parts_q.append(nq_[fkeep])
        parts_n.append(far[fkeep])
        parts_cd.append(far_cd[fkeep])
        parts_off.append(f_off)

        qrow = np.concatenate(parts_q)
        nodes = np.concatenate(parts_n)
        cds = np.concatenate(parts_cd)
        offs = np.concatenate(parts_off, axis=0) if parts_off else offs[:0]
    if not out_q:
        e = np.array([], dtype=np.int64)
        return e, e.copy()
    return np.concatenate(out_q), np.concatenate(out_id)


def _walk_box_panel(Q, tree, domain):
    """Level-synchronous box-pruned walk (SQL Search semantics,
    DDL.sql:272-293) for a whole query panel: descend low unless
    ``mid < q[dim] - domain``, high unless ``mid > q[dim] + domain``;
    id-splits descend both; dims beyond the query width prune both.
    Returns (query_rows, leaf_ids) int64 arrays."""
    import numpy as np

    dim, mid, low_i, high_i, leaf = tree
    n_q, n_dims = Q.shape
    qrow = np.arange(n_q, dtype=np.int64)
    nodes = np.zeros(n_q, dtype=np.int64)
    out_q: list = []
    out_id: list = []
    while nodes.size:
        lf = leaf[nodes]
        is_leaf = lf >= 0
        if is_leaf.any():
            out_q.append(qrow[is_leaf])
            out_id.append(lf[is_leaf])
        inner = ~is_leaf
        qrow, nodes = qrow[inner], nodes[inner]
        if not nodes.size:
            break
        d = dim[nodes]
        idsplit = d < 0
        in_range = ~idsplit & (d < n_dims)
        qv = np.where(in_range, Q[qrow, np.clip(d, 0, n_dims - 1)], np.nan)
        mi = mid[nodes]
        keep_low = idsplit | (in_range & (mi >= qv - domain))
        keep_high = idsplit | (in_range & (mi <= qv + domain))
        qrow = np.concatenate([qrow[keep_low], qrow[keep_high]])
        nodes = np.concatenate(
            [low_i[nodes[keep_low]], high_i[nodes[keep_high]]]
        )
    if not out_q:
        e = np.array([], dtype=np.int64)
        return e, e.copy()
    return np.concatenate(out_q), np.concatenate(out_id)


# Index sizes up to this many rows use the cogroup walker in search()
# (bounds one document-tree per task: ~56 B/row of Arrow transfer and
# ~5 int64/float64 arrays in the image — ~0.5 GB peak per task at the
# cap). Measured at a 2M-row tree: walker 6.9 s vs 55-96 s for the
# iterative join (which pays a full index broadcast per action).
# Larger trees take the iterative frontier join.
BROADCAST_INDEX_MAX_ROWS = 4_000_000

# In the iterative path, the per-level frontier↔index join BROADCASTS
# the index up to this many rows; beyond it the index is repartitioned
# by (doc_id, range_id) and persisted ONCE, so every level's join
# reuses the cached distribution (InMemoryRelation preserves output
# partitioning) and only the slim frontier shuffles.
BROADCAST_JOIN_INDEX_MAX_ROWS = 4_000_000


def _index_size(index_df: DataFrame, doc_id: int | None = None) -> int:
    """Row count with per-DataFrame-object memoization, so repeated
    auto-strategy searches over the same index don't re-count.

    With ``doc_id``, counts THAT document's tree — the reference's
    primary workload is doc-scoped vicinity search, and the strategy
    choice should depend on the tree actually walked: a 100M-row
    multi-doc index whose individual trees are 2M rows each still
    takes the single-task walker when scoped to one doc."""
    sizes = _index_memo(index_df, "size")
    if doc_id not in sizes:
        scoped = index_df
        if doc_id is not None:
            scoped = index_df.where(F.col("doc_id") == F.lit(doc_id))
        sizes[doc_id] = int(scoped.count())
    return sizes[doc_id]


# Pilot-walk depth: the top (2^depth - 1) index rows PER DOC are
# collected ONCE per (index, doc scope) and re-walked on the driver
# per panel — ≤1023 rows/doc, microseconds per estimate.
_PILOT_DEPTH = 10

# Hard cap on the pilot collect across all docs (~64k slim rows).
_PILOT_MAX_ROWS = 65_536

# ---- cost model for `search(strategy='auto')` -----------------------
# Fitted on the interleaved tools/route_probe.py sweep (200k×64,
# local[32], round 3), in units of "scan one row for one query"
# (the brute path's per-row cost — both sides are CPU-bound, so the
# RATIOS transfer across hosts even though absolute times don't):
#
#   brute(p)          ≈ p · n
#   walker(p, frac)   ≈ _TREE_FIXED_UNITS·n + p·n·(_WALK_UNIT
#                       + frac·_WALK_FRAC_UNIT)
#
# The walker's fixed term is the per-call tree Arrow transfer + image
# build (measured ~2.8 s at 200k rows ≈ 13 row-units/row); its
# per-query term is the walk + candidate-join cost, strongly
# frac-dependent. Tree beats scan iff
#   p · (1 − _WALK_UNIT − frac·_WALK_FRAC_UNIT) · n > fixed_units
# — i.e. only when the panel is big enough to amortize the transfer
# AND the domain actually prunes (frac ≳ 0.26 can never win). On a
# real cluster reading 100 TB from storage the brute side carries an
# additional I/O factor the local model can't see — the pruned-read
# advantage there is why the tree exists (README.md:72); these
# constants deliberately describe the LOCAL compute-bound regime the
# bench measures.
_WALK_UNIT = 0.44
_WALK_FRAC_UNIT = 2.12
_TREE_FIXED_UNITS = 13.0
# The iterative frontier join's fixed cost is job-latency dominated
# (one Spark job per _CHECKPOINT_EVERY levels), roughly independent
# of n: ~25 s on the probe rig ≈ 25e6 row-units. It only pays off
# beyond the walker cap when p·n·(pruning margin) clears it.
_ITER_FIXED_ROW_UNITS = 25_000_000.0


def _auto_strategy(n_index_rows: int, n_queries: int, est_frac: float) -> str:
    """Pick brute | broadcast | iterative from the fitted cost model.
    `n_index_rows` is the tree size (≈ 2× corpus); the scan terms use
    the corpus row count n/2."""
    n = max(1, n_index_rows // 2)
    margin = 1.0 - _WALK_UNIT - est_frac * _WALK_FRAC_UNIT
    if n_index_rows <= BROADCAST_INDEX_MAX_ROWS:
        tree_wins = n_queries * margin * n > _TREE_FIXED_UNITS * n
        return "broadcast" if tree_wins else "brute"
    tree_wins = n_queries * margin * n > _ITER_FIXED_ROW_UNITS
    return "iterative" if tree_wins else "brute"


def _pilot_top_levels(index_df: DataFrame, doc_id: int | None) -> dict:
    """Collect (memoized per index object + doc scope) the top
    `_PILOT_DEPTH` levels of each tree: {doc_id: {range_id: row}}."""
    cache = _index_memo(index_df, "pilot_top")
    if doc_id in cache:
        return cache[doc_id]
    top = index_df.where(F.col("range_id") < F.lit((1 << _PILOT_DEPTH) - 1))
    if doc_id is not None:
        top = top.where(F.col("doc_id") == F.lit(doc_id))
    # bounded driver traffic even at millions of documents: sample the
    # doc population once the cap is hit (partially-collected trees
    # only OVERestimate frac — missing reached children count as
    # surviving subtrees — so the estimate degrades conservatively).
    by_doc: dict = {}
    for r in top.limit(_PILOT_MAX_ROWS).collect():
        by_doc.setdefault(r["doc_id"], {})[r["range_id"]] = r
    cache[doc_id] = by_doc
    return by_doc


def estimate_candidate_frac(
    index_df: DataFrame,
    queries: DataFrame | list,
    domain: float,
    *,
    doc_id: int | None = None,
) -> float:
    """Cheap panel-average estimate of ``candidate_frac`` (the share
    of the corpus a box-pruned walk would touch — the v11 telemetry
    signal) WITHOUT walking the full tree: a driver-side walk of the
    collected top levels under the balanced-tree assumption (a
    surviving undescended subtree at depth d weighs 2^-d; splits at
    the mean keep real trees close to balanced). Worst-case estimate
    1.0; used by `search(strategy='auto')` to spot domains where the
    brute scan beats the tree."""
    if isinstance(queries, DataFrame):
        panel = [(int(r[0]), [float(x) for x in r[1]]) for r in queries.collect()]
    else:
        panel = [(q, [float(x) for x in v]) for q, v in queries]
    if not panel:
        return 0.0
    by_doc = _pilot_top_levels(index_df, doc_id)
    if not by_doc:
        return 1.0
    dom = float(domain)
    total = 0.0
    for _, qv in panel:
        per_doc = 0.0
        for nodes in by_doc.values():
            acc = 0.0
            stack = [(0, 0)]
            while stack:
                rid, d = stack.pop()
                node = nodes.get(rid)
                if node is None:
                    # beyond the collected cut: whole surviving subtree
                    acc += 2.0 ** -d
                    continue
                if node["id"] is not None:
                    acc += 2.0 ** -d
                    continue
                dim = node["dimension"]
                if dim is None:
                    stack.append((2 * rid + 1, d + 1))
                    stack.append((2 * rid + 2, d + 1))
                    continue
                if dim >= len(qv):
                    continue  # dims beyond the query width prune both
                mid = node["mid"]
                if mid >= qv[dim] - dom:
                    stack.append((2 * rid + 1, d + 1))
                if mid <= qv[dim] + dom:
                    stack.append((2 * rid + 2, d + 1))
            per_doc += min(1.0, acc)
        total += per_doc / len(by_doc)
    return total / len(panel)


def search_candidates_auto(
    index_df: DataFrame,
    queries: DataFrame | list,
    domain: float,
    *,
    doc_id: int | None = None,
    pruning: str = "box",
    strategy: str = "auto",
    broadcast_index: bool | None = None,
) -> DataFrame:
    """The candidate-walk router: ``(qid, doc_id, id)``.

    `strategy` 'auto' takes the single-job cogroup walker while the
    (doc-scoped) tree fits one task comfortably and the level-
    synchronous frontier join beyond; 'broadcast' | 'iterative' force
    one. The iterative join broadcasts the index per level unless
    `broadcast_index` is False, which pins the shuffle-join layout;
    left None, it follows the index size. Only the walker prunes by
    `pruning` ('box' | 'ball'); the iterative path always prunes by
    box. The facade, `search` and `search_stats` all route through
    here — nothing calls the walker unconditionally. (No brute
    routing here: box-semantics CANDIDATE sets are a defined output —
    leaves whose cell intersects the box — that a scan can't
    reproduce; `search`, whose refined result is scan-equivalent,
    adds the brute route.)"""
    if strategy not in ("auto", "broadcast", "iterative"):
        raise ValueError(
            f"strategy must be auto|broadcast|iterative, got {strategy!r}"
        )
    if strategy == "auto":
        fits = _index_size(index_df, doc_id) <= BROADCAST_INDEX_MAX_ROWS
        strategy = "broadcast" if fits else "iterative"
    if strategy == "broadcast":
        return search_candidates_broadcast(
            index_df, queries, domain, doc_id=doc_id, pruning=pruning
        )
    if broadcast_index is None:
        broadcast_index = (
            _index_size(index_df, doc_id) <= BROADCAST_JOIN_INDEX_MAX_ROWS
        )
    return search_candidates(
        index_df, queries, domain, doc_id=doc_id, broadcast_index=broadcast_index
    )


def _scoped_vectors(
    vectors_df: DataFrame,
    index_df: DataFrame | None,
    doc_id: int | None,
    id_col: str,
    vector_col: str,
) -> DataFrame:
    """The vector table as ``(id, _vec)``, scoped to document `doc_id`
    when given: by its ``doc_id`` column, or — a vector table without
    one — by the document tree's leaf ids (the tree IS the doc
    membership then)."""
    doc_col = doc_id is not None and "doc_id" in vectors_df.columns
    if doc_col:
        vectors_df = vectors_df.where(F.col("doc_id") == F.lit(doc_id))
    # SQL text: this projection is on every facade search's path
    vecs = vectors_df.selectExpr(
        f"CAST({sql_ident(id_col)} AS BIGINT) AS id",
        f"{sql_ident(vector_col)} AS _vec",
    )
    if doc_id is not None and not doc_col:
        members = (
            index_df.where(
                (F.col("doc_id") == F.lit(doc_id)) & F.col("id").isNotNull()
            )
            .select("id")
            .distinct()
        )
        vecs = vecs.join(members, "id", "left_semi")
    return vecs


def _refine(
    cands: DataFrame, vecs: DataFrame, qdf: DataFrame, domain: float, metric: str
) -> DataFrame:
    """Exact refinement of candidate ``(qid, id)`` pairs against the
    ``(id, _vec)`` table: ``(qid, id, dist)`` with ``dist <= domain``."""
    return (
        cands.select("qid", "id")
        .join(vecs, "id")
        .join(F.broadcast(qdf), "qid")
        .withColumn("dist", _distance(metric, ("euclidean", "chebyshev")))
        .where(F.col("dist") <= F.lit(float(domain)))
        .select("qid", "id", "dist")
    )


def search(
    index_df: DataFrame,
    vectors_df: DataFrame,
    queries: DataFrame | list,
    domain: float,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    doc_id: int | None = None,
    metric: str = "euclidean",
    strategy: str = "auto",
    where=None,
    broadcast_index: bool | None = None,
) -> DataFrame:
    """Exact vicinity search: tree candidates + exact distance filter.

    Returns ``(qid, id, dist)`` with ``dist <= domain`` under `metric`
    ('euclidean' | 'chebyshev'). `strategy`: 'auto' is cost-based
    (`_auto_strategy` over corpus size, panel size, and the pilot
    candidate-frac estimate): the brute codegen scan when the panel
    can't amortize the tree's fixed cost or the domain doesn't prune
    (identical refined output either way); otherwise the cogroup
    walker for small indexes, the iterative frontier join beyond.
    Explicit 'brute' | 'broadcast' | 'iterative' override the model;
    `broadcast_index` is the router's (`search_candidates_auto`).

    ``where`` (optional Column or SQL string over `vectors_df`'s
    columns) makes this FILTERED vicinity search — the reference's
    own `Find` takes a caller predicate that filters leaf buckets
    (MemoryVectorIndex/MemoryVectorIndex.cs:237-345); here the leaf-
    bucket check IS the refinement join, so applying the predicate to
    the vector table before refinement (and before the brute scan)
    yields the identical contract. Unlike the IVF path's
    filter-then-rank (`ann.ivf_knn(where=)`), this is EXACT: the
    tree's candidate set is a superset of the ball for ANY subset of
    rows, so no qualifying match can be lost. The filter sits
    directly on the table scan, where Catalyst pushes it into the
    parquet reader."""
    if strategy not in ("auto", "brute", "broadcast", "iterative"):
        raise ValueError(
            f"strategy must be auto|brute|broadcast|iterative, got {strategy!r}"
        )
    if where is not None:
        vectors_df = vectors_df.where(as_predicate(where))
    if strategy == "auto":
        n = _index_size(index_df, doc_id)
        n_q = queries.count() if isinstance(queries, DataFrame) else len(queries)
        # the tree's margin only shrinks as the estimate grows: when
        # even a perfectly pruning walk loses, skip the pilot estimate
        strategy = _auto_strategy(n, n_q, 0.0)
        if strategy != "brute":
            est = estimate_candidate_frac(index_df, queries, domain, doc_id=doc_id)
            strategy = _auto_strategy(n, n_q, est)
    if strategy == "brute":
        return brute_force_search(
            _scoped_vectors(vectors_df, index_df, doc_id, id_col, vector_col),
            queries,
            domain,
            id_col="id",
            vector_col="_vec",
            metric=metric,
        )
    cands = search_candidates_auto(
        index_df,
        queries,
        domain,
        doc_id=doc_id,
        pruning=_pruning(metric),
        strategy=strategy,
        broadcast_index=broadcast_index,
    )
    return _refine(
        cands,
        _scoped_vectors(vectors_df, None, None, id_col, vector_col),
        _as_queries_df(index_df, queries),
        domain,
        metric,
    )


def search_stats(
    index_df: DataFrame,
    vectors_df: DataFrame,
    queries: DataFrame | list,
    domain: float,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    doc_id: int | None = None,
    metric: str = "euclidean",
    strategy: str = "auto",
    broadcast_index: bool | None = None,
) -> DataFrame:
    """Per-query pruning-efficiency telemetry:
    ``(qid, n_candidates, n_matches, selectivity, n_total,
    candidate_frac)``.

    The reference's tests instrument the search predicate and report
    how many invocations (candidates) produced how many matches
    (MempryVectorIndex.Tests/MemoryVectorIndexTests.cs:164-196) — the
    number a user tuning ``domain`` or judging index health actually
    wants. ``selectivity`` = matches/candidates (1.0 = the tree did
    all the work, the refinement rejected nothing), ``candidate_frac``
    = candidates/total (how much of the corpus the walk touched; 1.0
    = no pruning — brute force in disguise). `strategy` and
    `broadcast_index` go to the router (`search_candidates_auto`);
    ``n_total`` counts the scoped document when `doc_id` is given.

    The candidate counts depend on the route for Euclidean queries:
    the broadcast walker counts ball-pruned candidates, the iterative
    route box-pruned ones, so ``n_candidates`` and ``candidate_frac``
    jump when an index crosses ``BROADCAST_INDEX_MAX_ROWS``;
    ``n_matches`` does not. Compare them only between runs on the same
    route.
    """
    cands = search_candidates_auto(
        index_df,
        queries,
        domain,
        doc_id=doc_id,
        pruning=_pruning(metric),
        strategy=strategy,
        broadcast_index=broadcast_index,
    )
    # one pass for the candidate walk, reused by both counters
    cands = cands.localCheckpoint(eager=False)
    qdf = _as_queries_df(index_df, queries)
    vecs = _scoped_vectors(vectors_df, index_df, doc_id, id_col, vector_col)
    per_c = cands.groupBy("qid").agg(F.count(F.lit(1)).alias("n_candidates"))
    per_m = (
        _refine(cands, vecs, qdf, domain, metric)
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    n_total = vecs.count()
    return (
        qdf.select("qid")
        .join(per_c, "qid", "left")
        .join(per_m, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            F.round(
                F.coalesce("n_matches", F.lit(0))
                / F.nullif(F.coalesce("n_candidates", F.lit(0)), F.lit(0)),
                4,
            ).alias("selectivity"),
            F.lit(int(n_total)).alias("n_total"),
            F.round(
                F.coalesce("n_candidates", F.lit(0)) / F.lit(float(n_total)), 4
            ).alias("candidate_frac"),
        )
    )


def brute_force_search(
    vectors_df: DataFrame,
    queries: DataFrame | list,
    domain: float,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    metric: str = "euclidean",
) -> DataFrame:
    """Linear-scan oracle (MemoryVectorIndexTests.cs:161-163):
    ``(qid, id, dist)`` for every vector with distance <= domain under
    `metric` ('euclidean' | 'chebyshev'). Also the unselective-domain
    fast path `search(strategy='auto')` routes to — one codegen scan,
    no candidate join.

    A panel of ONE listed query — every facade `search` — inlines the
    query vector and its qid as literals (`functions.vector`'s list
    operand): the plan is the vector scan alone, one Spark job. Larger
    panels cross-join the broadcast query table; under AQE that
    broadcast is a job of its own, even over a one-row local table."""
    allowed = ("euclidean", "chebyshev")
    vecs = _scoped_vectors(vectors_df, None, None, id_col, vector_col)
    if isinstance(queries, list) and len(queries) == 1:
        ((qid, q),) = queries
        out = vecs.select(
            F.expr(f"CAST({int(qid)} AS BIGINT) AS qid"),
            "id",
            _distance(metric, allowed, q).alias("dist"),
        )
    else:
        out = vecs.crossJoin(
            F.broadcast(_as_queries_df(vectors_df, queries))
        ).select("qid", "id", _distance(metric, allowed).alias("dist"))
    return out.where(F.col("dist") <= F.lit(float(domain)))


def _grouped_topk(
    narrow: DataFrame, k: int, group_col: str, item_col: str
) -> DataFrame:
    """The shared Arrow pre-reduction behind `knn` and
    `graph.knn_graph`: each input batch is cut to its local top-k
    rows per group by (dist, item) — pure row SELECTION (distances
    are never recomputed, so values stay bit-identical to the
    single-window form), bounding the only shuffle to
    batches × groups × k survivor rows. One kernel, two call sites —
    a tie-break or empty-batch fix can't drift between them. The
    kernel is a nested closure (the repo's pickling rule)."""
    kk = int(k)
    g, i = str(group_col), str(item_col)

    def topk_batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            gv = pdf[g].to_numpy(np.int64)
            iv = pdf[i].to_numpy(np.int64)
            dv = pdf["dist"].to_numpy(np.float64)
            # lexsort: primary group, then (dist, item) — the
            # window's deterministic ordering
            order = np.lexsort((iv, dv, gv))
            gs, ds, is_ = gv[order], dv[order], iv[order]
            starts = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
            cnts = np.diff(np.r_[starts, len(gs)])
            rank = np.arange(len(gs)) - np.repeat(starts, cnts)
            keep = rank < kk
            yield pd.DataFrame(
                {g: gs[keep], i: is_[keep], "dist": ds[keep]}
            )

    return narrow.mapInPandas(
        topk_batches, f"{g} long, {i} long, dist double"
    )


def knn(
    vectors_df: DataFrame,
    queries: DataFrame | list,
    k: int,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    metric: str = "euclidean",
    where=None,
) -> DataFrame:
    """Exact k-nearest-neighbors per query: ``(qid, id, dist, rank)``.

    ``where`` (optional Column or SQL string over `vectors_df`'s
    columns) makes this exact FILTERED kNN: top-k among rows
    satisfying the predicate — applied before the scan, so Catalyst
    pushes it into the parquet reader and distances are only computed
    for qualifying rows. Exact for any selectivity (full-scan
    semantics; the recall-bounded scale path is
    `ann.ivf_knn(where=, ensure_k=True)`).

    Two-phase top-k, no full shuffle: distances are computed JVM-side
    (map-side, inside the scan stage), then an Arrow kernel pre-reduces
    each input batch to its local top-k per query — it only SELECTS
    rows, never recomputes distances, so values stay bit-identical to
    the single-window form — and one tiny window over the
    ≤ batches × queries × k survivors produces the global ranks. The
    round-1 global per-qid window funneled every candidate of a query
    through one reducer (N rows to one task); here the big side never
    shuffles at all and the only exchange carries the survivors. For
    the billion-row path use `ann.ivf_knn` / LSH instead.
    """
    dist = _distance(metric, ("euclidean", "cosine", "dot"))
    if where is not None:
        vectors_df = vectors_df.where(as_predicate(where))
    qdf = _as_queries_df(vectors_df, queries)
    vecs = _scoped_vectors(vectors_df, None, None, id_col, vector_col)
    narrow = vecs.crossJoin(F.broadcast(qdf)).select(
        "qid", "id", dist.alias("dist")
    )
    local = _grouped_topk(narrow, k, "qid", "id")
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("id").asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "id", "dist", "rank")
    )


def cosine_search(
    vecs: DataFrame,
    queries: DataFrame | list,
    min_cos: float,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    index_df: DataFrame | None = None,
    local_threshold: int = 20_000,
    where=None,
) -> DataFrame:
    """Cosine vicinity search through the L2 BSP tree: all vectors
    with ``cos(v, q) >= min_cos``, returned as ``(qid, id, cos_sim)``.

    ``where`` (optional Column or SQL string over `vecs`' columns)
    filters the corpus before the search — exact filtered semantics
    for the same reason as `search(where=)`: candidates are a
    superset for any row subset, and the final cosine filter runs on
    the predicate-qualified raw vectors only. With a shared
    `index_df` built over the UNFILTERED corpus, non-qualifying
    candidates simply drop at the refinement join.

    The reference's tree prunes Euclidean boxes only; cosine reduces
    to it exactly: for unit vectors ‖â−b̂‖² = 2−2·cos(a,b), so a
    cosine floor t is an L2 ball of radius sqrt(2−2t) over the
    NORMALIZED corpus. The tree walk over the normalized index is
    pure candidate generation (domain padded by 1e-6 relative so
    float noise in the normalization can never exclude a true match);
    the final filter recomputes cosine on the RAW vectors with the
    same expression an external oracle uses — boundary behavior is
    decided by one expression, not by the reduction.

    Pass ``index_df`` (built over the normalized corpus by this same
    function's ``build`` contract) to reuse an index across calls;
    otherwise one is built ad hoc.
    """
    from vector_database_spark.operators.index_build import build_index

    t = float(min_cos)
    if not -1.0 <= t <= 1.0:
        raise ValueError("min_cos must be in [-1, 1]")
    if where is not None:
        vecs = vecs.where(as_predicate(where))
    src = vecs.select(F.col(id_col).alias("id"), F.col(vector_col).alias("vector"))
    norm = l2_norm(F.col("vector"))
    normed = src.where(norm > 0).select(
        "id", normalize(F.col("vector")).alias("vector")
    )
    idx = index_df
    if idx is None:
        idx = build_index(normed, local_threshold=local_threshold)
    # cosine is undefined against a zero query vector; a zero-norm
    # query matches nothing (mirrors the corpus-side norm > 0 guard,
    # and avoids ANSI-mode DIVIDE_BY_ZERO inside the transform)
    qdf = _as_queries_df(src, queries).where(l2_norm(F.col("qvec")) > 0)
    qn = qdf.select("qid", normalize(F.col("qvec")).alias("qvec"))
    import math

    domain = math.sqrt(max(0.0, 2.0 - 2.0 * t)) * (1.0 + 1e-6) + 1e-9
    cands = search_candidates(idx, qn, domain).select("qid", "id")
    raw_q = qdf.select("qid", F.col("qvec").alias("_raw_q"))
    return (
        src.join(cands, "id")
        .join(F.broadcast(raw_q), "qid")
        .withColumn("cos_sim", cosine_similarity(F.col("vector"), F.col("_raw_q")))
        .where(F.col("cos_sim") >= F.lit(t))
        .select("qid", "id", "cos_sim")
    )


def maxsim_topk(
    vectors_df: DataFrame,
    queries_df: DataFrame,
    k: int,
    *,
    doc_col: str = "doc_id",
    id_col: str = "id",
    vector_col: str = "vector",
    metric: str = "dot",
    where=None,
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """Multi-vector (late-interaction / ColBERT-style) retrieval:
    documents are BAGS of vectors, queries are bags of token vectors
    (``queries_df``: (qid, qtok, qvec)), and
    ``score(q, d) = Σ_qtok max_dvec sim(qvec, dvec)`` (MaxSim).
    Returns ``(qid, doc, score, rank)`` — the exact top-k docs per
    query under `metric` ('dot' | 'cosine').

    Shape: one crossJoin against the BROADCAST query-token panel
    (distances inside the scan stage, same regime as `knn`), a
    (qid, qtok, doc) max — map-side combinable, buffers are one
    double — then a (qid, doc) fold. The cross-token sum is computed
    as a left-to-right fold over the qtok-SORTED collected list
    (bounded by the query's token count), NOT a float sum aggregate:
    float addition is order-sensitive and an unordered sum would not
    be replayable by an external engine — the same determinism rule
    every exact-oracle gate here follows.

    Scale paths: `where` filters the vector table before scoring
    (filter-then-rank, pushed to the scan); `candidate_docs` (a
    DataFrame of `doc_col`) restricts exact scoring to a candidate
    set — the refine stage behind a per-token ANN front (probe each
    query token via `ann.ivf_knn`, union the hit docs, refine here),
    which is how late-interaction engines scale past brute force.
    """
    if metric not in ("dot", "cosine"):
        raise ValueError(f"unknown metric {metric!r}")
    if where is not None:
        vectors_df = vectors_df.where(as_predicate(where))
    vecs = vectors_df.select(
        F.col(doc_col).cast("long").alias("doc"),
        F.col(id_col).cast("long").alias("id"),
        F.col(vector_col).alias("_vec"),
    )
    if candidate_docs is not None:
        cands = candidate_docs.select(
            F.col(doc_col).cast("long").alias("doc")
        ).distinct()
        vecs = vecs.join(F.broadcast(cands), "doc", "left_semi")
    sim = (
        dot(F.col("_vec"), F.col("qvec"))
        if metric == "dot"
        else cosine_similarity(F.col("_vec"), F.col("qvec"))
    )
    per_tok = (
        vecs.crossJoin(F.broadcast(queries_df))
        .groupBy("qid", "qtok", "doc")
        .agg(F.max(sim).alias("ms"))
    )
    # ONE post-reduction exchange (r14): per_tok is already reduced to
    # one double per (qid, qtok, doc) by the map-side-combinable max,
    # so repartitioning it by qid moves the same rows the old
    # hash(qid, doc) exchange moved — and BOTH the (qid, doc) fold
    # (ClusteredDistribution(qid, doc) is satisfied by the qid
    # clustering) and the per-qid top-k window then ride it, dropping
    # the third, doc-score shuffle. Per-qid rows are bounded by
    # |qtok| x |docs| — a |qtok|-factor over what the window
    # partition already holds. The fold stays qtok-sorted, so scores
    # are bit-identical under any partitioning.
    per_tok = per_tok.repartition("qid")
    scored = per_tok.groupBy("qid", "doc").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("qtok", "ms"))),
                lambda s: s["ms"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("qid", "doc", "score", "rank")
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k: int,
    *,
    k0: int = 60,
) -> DataFrame:
    """Hybrid-retrieval fusion: Reciprocal Rank Fusion of N retriever
    rankings (each ``(qid, id, rank)`` — e.g. dense kNN + BM25).
    ``score(d) = Σ_lists 1/(k0 + rank_list(d))`` over the lists that
    returned d; returns the fused ``(qid, id, n_lists, score, rank)``
    top-k per query. RRF (Cormack et al.) is the standard way modern
    vector databases combine lexical and vector hits without score
    calibration — only ranks enter the formula.

    Determinism: each reciprocal term is one exact-rounded double
    division, and the cross-list sum folds in retriever-index order
    (the v20 rule), so fused scores — and therefore ranks, tie-broken
    by id — are bit-identical on any engine. Shape: one union of the
    slim rank lists, one map-side-combinable aggregate, one per-qid
    top-k window; input lists are already top-k-bounded, so the whole
    fusion moves O(queries × k × lists) rows."""
    from functools import reduce

    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranking")
    tagged = [
        df.select(
            F.col("qid").cast("long").alias("qid"),
            F.col("id").cast("long").alias("id"),
            F.lit(int(i)).alias("src"),
            F.col("rank").cast("long").alias("r"),
        )
        for i, df in enumerate(ranked)
    ]
    u = reduce(lambda a, b: a.unionByName(b), tagged)
    u = u.withColumn(
        "c", F.lit(1.0) / (F.lit(float(k0)) + F.col("r"))
    )
    # ONE fusion exchange (r14): partition the union by qid so BOTH
    # keyed steps ride it — the groupBy(qid, id) needs only
    # ClusteredDistribution(qid, id), which hashpartitioning(qid)
    # satisfies (subset rule), and the top-k window is partitioned by
    # qid. Without this the plan pays hash(qid, id) for the aggregate
    # and a second hash(qid) shuffle for the window over the SAME
    # O(queries x k x lists) rows. Per-qid skew is a non-issue: the
    # window already bounds per-qid work to the same k x lists rows.
    # Row set, grouping, and the per-group retriever-order fold are
    # unchanged, so fused scores stay bit-identical.
    u = u.repartition("qid")
    scored = u.groupBy("qid", "id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("src", "c"))),
                lambda s: s["c"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("qid", "id", "n_lists", "score", "rank")
    )


def mmr_rerank(
    candidates_df: DataFrame,
    k: int,
    *,
    lam: float = 0.5,
    id_col: str = "id",
    vector_col: str = "vector",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the diversified-top-k
    stage of a retrieval stack (Carbonell & Goldstein '98): from each
    query's candidate pool greedily pick k items maximizing
    ``λ·rel_i − (1−λ)·max_{j∈picked} cos(v_i, v_j)`` (ties by id), so
    near-duplicate hits don't crowd the result page. Input:
    ``(qid, id, vector, rel)`` — a BOUNDED pool per query (rerank the
    top-N of a first-stage retriever; N ≲ a few hundred). Returns
    ``(qid, id, rank, score)`` — `score` is the pick-time marginal
    score.

    Shape: the greedy loop is inherently sequential PER QUERY but
    embarrassingly parallel ACROSS queries — one `applyInPandas`
    group per qid, O(N²) pair similarities inside a pool that is
    small by contract; nothing collects to the driver. Determinism:
    similarities fold left-to-right in pure-Python doubles with the
    exact expression shape of the SQL cosine (dot / (sqrt(na)·
    sqrt(nb))), and every marginal score is a fixed chain of
    exact-rounded ops — so an external engine replays picks, scores
    and tie-breaks bit-for-bit (λ must be binary-exact: 0.5, 0.25…).
    """
    lam_f = float(lam)
    kk = int(k)

    def kern(pdf):
        import pandas as pd

        ids = [int(x) for x in pdf[id_col]]
        rels = [float(x) for x in pdf[rel_col]]
        vecs = [[float(v) for v in row] for row in pdf[vector_col]]
        qid = int(pdf["qid"].iloc[0])

        def dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + x * y
            return acc

        import math

        norms = [math.sqrt(dot(v, v)) for v in vecs]

        def cos(i, j):
            # degenerate-row guard (the repo's kernel rule): an
            # all-zero candidate has no direction — similarity 0
            # instead of a ZeroDivisionError aborting the job
            if norms[i] == 0.0 or norms[j] == 0.0:
                return 0.0
            return dot(vecs[i], vecs[j]) / (norms[i] * norms[j])

        n = len(ids)
        remaining = list(range(n))
        picked: list[int] = []
        out = []
        while remaining and len(picked) < kk:
            best = None
            best_key = None
            for i in remaining:
                ms = max((cos(i, j) for j in picked), default=0.0)
                score = lam_f * rels[i] - (1.0 - lam_f) * ms
                key = (-score, ids[i])
                if best_key is None or key < best_key:
                    best, best_key, best_score = i, key, score
            picked.append(best)
            remaining.remove(best)
            out.append((qid, ids[best], len(picked), best_score))
        return pd.DataFrame(
            out, columns=["qid", "id", "rank", "score"]
        )

    return (
        candidates_df.select(
            F.col("qid").cast("long").alias("qid"),
            F.col(id_col).cast("long").alias(id_col),
            F.col(vector_col).alias(vector_col),
            F.col(rel_col).cast("double").alias(rel_col),
        )
        .groupBy("qid")
        .applyInPandas(kern, "qid long, id long, rank long, score double")
    )
