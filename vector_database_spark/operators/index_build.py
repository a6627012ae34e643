"""Level-synchronous BSP-tree index build.

Semantics (must match the reference — SURVEY.md §1.3):

* heap numbering: root range 0, children ``2r+1`` (low) / ``2r+2``
  (high) — DDL.sql:120,147,195-196; IndexBuilder.cs:99-104;
* split dimension: per-range argmax of stdev on even depths, argmin on
  odd depths (DDL.sql:91-92,151; IndexBuilder.cs:75-79), deterministic
  lowest-idx tie-break (the C# ``MaxBy`` picks the first extremum);
* split point: the mean of that dimension (DDL.sql:100,162-163);
* routing: value < mid → low, value > mid → high, tie → compare the
  point id against the range's mean id (``id <= mean_id`` → low) —
  DDL.sql:161-167, IndexBuilder.cs:115. The mean id is the *truncated*
  integer mean (T-SQL integer avg; C# Int128 division);
* degenerate split (chosen stdev == 0, i.e. all values equal in every
  informative sense): ``dimension``/``mid`` null, route purely by id
  (DDL.sql:100,190-193) — search then descends both children;
* leaf (count == 1): child ids null, ``id`` set (DDL.sql:190-199).

Execution strategy (Spark-first, NOT the reference's sequential DFS —
README.md:93-100 rationale inverted, see SURVEY.md §4):

1. *Distributed phase*: ONE jvm-side job per tree level
   (`_level_decisions`): a single #ranges-keyed hash aggregate over
   the UN-exploded points decides each range's FATE (leaf / local
   subtree / split) and its split choice — declarative aggs (count,
   min id, exact-decimal id sum) mixed with an ML `Summarizer`
   vector-typed aggregate (per-range mean/variance arrays updated
   O(dims) per row, ONE hash probe per row — not per cell like a
   posexplode shape). The shuffle carries #open-ranges stat rows,
   never the data.
   Fates/splits stay DataFrames end-to-end: the driver sees only
   three fate counters per level, never per-range rows, so driver
   traffic is O(1) per level no matter how many ranges are open (the
   round-1 design collected one row per open range per level — a
   driver bottleneck at 10^12 rows).
2. *Routing*: points join the split table (broadcast while it is
   small, shuffle join beyond ~10^6 open splits — AQE-compatible) and
   move to child ranges. Split tables are TINY (one row per open
   range), so routing is a pure function of the source and the chain
   of per-level split tables: instead of materializing every level's
   routed point set (round ≤11 checkpointed ~|data| bytes per level —
   the dominant I/O of the 10M×96 headline build, ~4.6 GB × levels,
   and the thing a write-throttled host punishes), each level's
   decisions job re-derives the current assignment by scanning the
   (page-cached) source through a pipeline of broadcast hash joins —
   zero shuffle, zero checkpoint write. The chain COLLAPSES into a
   real localCheckpoint every ``checkpoint_every`` levels, or as soon
   as the cumulative split rows exceed the broadcast cap, so lineage
   depth and broadcast memory stay bounded: ``checkpoint_every=1``
   reproduces the round-11 write-per-level behavior exactly (same
   joins, same partitioning — bit-identical trees), large values
   trade re-scan CPU for write I/O. On a single node the source scan
   is a page-cache hit; on a cluster, locality-scheduled parquet
   reads. Levels are ~log2(rows/threshold), so even at 10^12 rows
   the chain collapses only a handful of times.
3. *Local phase*: once a range holds ≤ ``local_threshold`` points its
   whole subtree is built inside one task via ``applyInPandas`` (same
   trick as MLlib decision trees), materialized eagerly per level so
   parent caches can be freed. ``local_threshold=None`` auto-tunes
   from the vector width: ~4M cells ≈ 32 MB of float64 per task,
   clamped to [4096, 1M] rows — small, short tasks (measured 3.5x
   faster than 16M-cell tasks at 10M×96 on this host's fractional
   scheduler; see `_AUTO_STATS_CELLS`), while the distributed loop
   still runs only ~log2(N·dims/4M) levels.

At 100 TB: phase 1 runs ~log2(rows/threshold) levels, each one
narrow cached scan + a shuffle of #partitions × #ranges stat rows;
phase 3 is embarrassingly parallel across ranges. No stage ever
materializes per-node state on the driver.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_RANGE_ID = 1 << 62

INDEX_COLS = [
    "doc_id",
    "range_id",
    "dimension",
    "mid",
    "low_range_id",
    "high_range_id",
    "id",
]

_INDEX_DDL = (
    "doc_id long, range_id long, dimension int, mid double, "
    "low_range_id long, high_range_id long, id long"
)


def _depth_of(range_id: int) -> int:
    """Tree depth of a heap-numbered range (root 0 → depth 0)."""
    return (range_id + 1).bit_length() - 1




# Auto local_threshold sizing: target float64 cells per local-subtree
# task. Round-13 retune, 16M -> 4M cells (~32 MB working matrix, ~40k
# rows at 96 dims): the interleaved 10M x 96 grid probe
# (data/probes/local_phase_grid_r13.json) measured 226.7 s at 40k-row
# tasks vs 803.3 s at the old ~156k-row tasks IN THE SAME THROTTLED
# WINDOW — short tasks fit inside the host's sustained-compute burst
# budget (pool_throttle_diag_r12) and their working set lives in
# cache; the ~2 extra distributed levels are cheap under the route
# chain. A concurrency cap on top HURT slightly (277.1 s at the best
# anchors of the grid) — granularity, not concurrency, is the lever.
_AUTO_STATS_CELLS = 4_000_000

# Split tables larger than this route via a shuffle join instead of an
# explicit broadcast (beyond driver/broadcast memory comfort).
_BROADCAST_SPLIT_MAX = 1_000_000


def build_index(
    df: DataFrame,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    doc_col: str | None = None,
    local_threshold: int | None = 20_000,
    checkpoint_every: int = 8,
    max_levels: int = 60,
) -> DataFrame:
    """Build the BSP-tree index over ``df`` (one tree per document if
    ``doc_col`` given). Returns the index DataFrame
    ``(doc_id, range_id, dimension, mid, low_range_id, high_range_id, id)``.

    ``local_threshold=None`` auto-tunes from the vector width (see
    module docstring). ``checkpoint_every`` bounds the broadcast
    route-chain depth: the input is re-scanned once per level between
    collapses (cheap for parquet sources — page-cached / locality
    reads), and a full routed-point checkpoint is written only every
    that many levels (1 = write per level, the round-11 behavior).
    Callers whose input has EXPENSIVE lineage (not a scan/projection)
    should localCheckpoint it before calling. The returned DataFrame
    reads only cached / materialized pieces — the expensive work
    happens inside this call.
    """
    spark = df.sparkSession
    doc_expr = F.col(doc_col) if doc_col else F.lit(0).cast("long")
    pts = df.select(
        doc_expr.cast("long").alias("doc_id"),
        F.col(id_col).cast("long").alias("id"),
        F.col(vector_col).alias("vector"),
        F.lit(0).cast("long").alias("range_id"),
    )
    if local_threshold is None:
        first = df.select(F.size(vector_col).alias("d")).first()
        dims = int(first["d"]) if first and first["d"] is not None else 1
        n_rows = pts.count()
        par = max(1, spark.sparkContext.defaultParallelism)
        by_mem = _AUTO_STATS_CELLS // max(1, dims)
        # enough local-phase tasks to occupy the cluster, but no
        # smaller than needed (every halving adds a distributed level)
        target_tasks = min(max(1, par // 2), max(1, n_rows // 25_000))
        by_par = max(1, n_rows // target_tasks)
        local_threshold = max(4096, min(1_000_000, by_mem, by_par))

    import os

    debug = bool(os.environ.get("SPARK_GRAFT_BUILD_DEBUG"))

    # Lineage discipline: every per-level artifact is EAGERLY
    # local-checkpointed, never persist()/unpersist()-ed. Unpersisting
    # a parent invalidates the cache keys of every dependent cached
    # plan (their canonical form changes once the InMemoryRelation
    # disappears), silently turning later actions into full-lineage
    # recomputes — measured as a 2-3x blowup of the whole build.
    # Checkpointing severs lineage instead: decisions, local subtrees
    # and each level's routed points are self-contained blocks; parent
    # levels are freed by the ContextCleaner as soon as the loop drops
    # the last reference. Driver traffic stays O(1) per level (three
    # fate counters).
    from concurrent.futures import ThreadPoolExecutor

    index_parts: list[DataFrame] = []
    pool_futures: list = []
    # Local-subtree jobs OVERLAP the remaining distributed levels: a
    # level's pool is known the moment its decisions land, and its
    # applyInPandas build is independent of everything after it, so it
    # is submitted from a side thread (Spark schedules concurrent jobs
    # from one session FIFO across free cores) while the driver loop
    # continues with the next level's decisions. The executor pool is
    # small — each future is one Spark ACTION, the parallelism lives in
    # the cluster.
    pool_exec = ThreadPoolExecutor(max_workers=4)
    par = spark.sparkContext.defaultParallelism
    builder_schema = _INDEX_DDL

    def submit_pool(pool_df: DataFrame, n_ranges: int):
        # explicit partition count: one subtree build is one task, and
        # AQE must not coalesce the (large-by-bytes, small-by-count)
        # shuffle down to a couple of partitions and serialize the
        # builds. 8x ranges over-partitioning makes straggler-creating
        # hash collisions between range keys unlikely; empty partitions
        # cost only a no-op task.
        n_parts = max(1, min(8 * n_ranges, max(4 * par, 64)))
        sub = (
            pool_df.repartition(n_parts, "doc_id", "range_id")
            .groupBy("doc_id", "range_id")
            .applyInPandas(_make_subtree_builder(), schema=builder_schema)
        )
        return pool_exec.submit(
            lambda df: df.localCheckpoint(eager=True), sub
        )

    # L0 is NOT checkpointed: the root level is scanned exactly twice
    # (its decisions aggregate + the L0→L1 routing join), both straight
    # off the source — writing a 1:1 copy of the whole input to the
    # block store first costs a full extra data pass. Routed levels
    # (smaller, re-read by decisions + pools + next routing) are
    # checkpointed below.
    try:
        _build_levels(
            spark,
            pts,
            local_threshold,
            max_levels,
            index_parts,
            pool_futures,
            submit_pool,
            debug,
            checkpoint_every,
        )
        if pool_futures:
            t0 = time.time()
            for fut in pool_futures:
                index_parts.append(fut.result())
            if debug:
                print(
                    f"[build] local-phase drain {time.time()-t0:.2f}s "
                    f"({len(pool_futures)} pool jobs, overlapped with levels)"
                )
    except BaseException:
        # a failing level loop or pool job must not leak in-flight
        # futures / pool threads (round-2 advice): cancel what hasn't
        # started and surface the original error.
        pool_exec.shutdown(wait=False, cancel_futures=True)
        raise
    pool_exec.shutdown(wait=True)

    if not index_parts:
        return spark.createDataFrame([], _INDEX_DDL)
    out = index_parts[0]
    for extra in index_parts[1:]:
        out = out.unionByName(extra)
    return out


def _route_once(pts: DataFrame, splits: DataFrame) -> DataFrame:
    """Apply one level's split table: move every point in a split
    range to its child range (reference routing semantics —
    DDL.sql:161-167, IndexBuilder.cs:115). Points in non-split
    (leaf / local) ranges drop out via the inner join."""
    v = F.try_element_at(F.col("vector"), F.col("split_dim") + F.lit(1)).cast(
        "double"
    )
    go_low = F.when(
        F.col("split_dim").isNull(), F.col("id") <= F.col("mean_id")
    ).otherwise(
        (v < F.col("mid"))
        | ((v == F.col("mid")) & (F.col("id") <= F.col("mean_id")))
    )
    return (
        pts.join(splits, ["doc_id", "range_id"], "inner")
        .withColumn(
            "range_id",
            F.col("range_id") * 2 + F.when(go_low, F.lit(1)).otherwise(F.lit(2)),
        )
        .select("doc_id", "id", "vector", "range_id")
    )


def _build_levels(
    spark,
    pts: DataFrame,
    local_threshold: int,
    max_levels: int,
    index_parts: list,
    pool_futures: list,
    submit_pool,
    debug: bool,
    checkpoint_every: int = 8,
) -> None:
    """The distributed level loop of `build_index` (split out so the
    caller can wrap it and the drain in one try/finally).

    Route-chain design (round 12): the current point→range assignment
    is ``base`` (the source projection, or the last collapsed
    checkpoint) routed through ``chain`` — one TINY broadcast split
    table per level since the collapse. Each level's decisions job
    re-derives the assignment by scanning ``base`` through the
    broadcast-hash-join pipeline, so NO per-level point materialization
    happens (the round-11 write-per-level localCheckpoint was ~|data|
    bytes of block-store I/O per level — the single largest I/O of the
    10M×96 headline build). The chain collapses into a lazy
    localCheckpoint every ``checkpoint_every`` levels, or immediately
    when a level's split table exceeds the broadcast cap (those route
    via a shuffle join, which must not be re-executed per level).
    Broadcast joins preserve the scan's partition structure, so
    per-range Summarizer merge order — and hence every split decision
    — is bit-identical to the round-11 write-per-level path."""
    depth = 0
    ckpt_every = max(1, int(checkpoint_every))
    base = pts
    chain: list[DataFrame] = []  # broadcast split tables since collapse
    chain_rows = 0

    def view() -> DataFrame:
        cur = base
        for sp in chain:
            cur = _route_once(cur, sp)
        return cur

    while True:
        if depth > max_levels:
            raise RuntimeError(
                f"build_index exceeded {max_levels} distributed levels — "
                "pathological split sequence (range ids would overflow)"
            )
        # fail fast on background pool jobs instead of discovering the
        # error only at the final drain
        for fut in pool_futures:
            if fut.done() and fut.exception() is not None:
                raise fut.exception()
        t0 = time.time()
        pts_view = view()
        dec = _level_decisions(pts_view, local_threshold).localCheckpoint(eager=True)
        fates = {r["fate"]: r["count"] for r in dec.groupBy("fate").count().collect()}
        if debug:
            print(
                f"[build] L{depth} decisions {time.time()-t0:.2f}s "
                f"fates={fates} chain={len(chain)}"
            )

        if fates.get("leaf"):
            index_parts.append(
                dec.where(F.col("fate") == "leaf").select(
                    "doc_id",
                    "range_id",
                    F.lit(None).cast("int").alias("dimension"),
                    F.lit(None).cast("double").alias("mid"),
                    F.lit(None).cast("long").alias("low_range_id"),
                    F.lit(None).cast("long").alias("high_range_id"),
                    F.col("min_id").alias("id"),
                )
            )
        if fates.get("local"):
            if set(fates) == {"local"}:
                # whole level goes local (the common last level):
                # the pool is exactly this level's points, no
                # semi-join scan needed
                pool = pts_view
            else:
                keys = dec.where(F.col("fate") == "local").select(
                    "doc_id", "range_id"
                )
                pool = pts_view.join(
                    F.broadcast(keys), ["doc_id", "range_id"], "left_semi"
                )
            pool_futures.append(submit_pool(pool, int(fates["local"])))

        n_split = int(fates.get("split", 0))
        if n_split == 0:
            break

        index_parts.append(
            dec.where(F.col("fate") == "split").select(
                "doc_id",
                "range_id",
                F.col("split_dim").alias("dimension"),
                "mid",
                (F.col("range_id") * 2 + 1).alias("low_range_id"),
                (F.col("range_id") * 2 + 2).alias("high_range_id"),
                F.lit(None).cast("long").alias("id"),
            )
        )
        splits = dec.where(F.col("fate") == "split").select(
            "doc_id", "range_id", "split_dim", "mid", "mean_id"
        )
        big_split = n_split > _BROADCAST_SPLIT_MAX
        if not big_split:
            splits = F.broadcast(splits)
        chain.append(splits)
        chain_rows += n_split
        depth += 1
        if big_split or len(chain) >= ckpt_every or chain_rows > _BROADCAST_SPLIT_MAX:
            # Collapse: materialize the routed assignment ONCE. LAZY —
            # blocks are persisted the first time the next level's
            # decisions job scans them, folding route materialization
            # into that job (one fewer job than eager).
            base = view().localCheckpoint(eager=False)
            chain = []
            chain_rows = 0


def _level_decisions(pts: DataFrame, local_threshold: int) -> DataFrame:
    """One fused JVM job: per-(doc, range) fate + split choice.

    A single #ranges-keyed hash aggregate over the UN-exploded rows
    mixes declarative aggs (count, min id, exact-decimal id sum) with
    `pyspark.ml.stat.Summarizer` over `array_to_vector` — a typed
    imperative aggregate whose buffer is one mean/variance array pair
    per range, updated O(dims) per ROW with one hash probe per row.
    (The round-1 posexplode shape paid a hash probe per CELL — rows ×
    dims aggregate rows; measured 2× slower than the vector-typed agg
    at 200k×64. A numpy ``mapInPandas`` partial-moments kernel was
    worse still — the Arrow transfer of the vector column costs more
    than the JVM agg.) The shuffle carries #ranges stat rows (vector
    payload = dims doubles), never the data. Argmax/argmin over the
    tiny per-range arrays is `array_position(array_max(...))` — first
    match, i.e. lowest dimension index, on #ranges rows.

    Split semantics identical to the reference (DDL.sql:91-100,
    151-167): split dim = argmax of variance on even depths / argmin
    on odd (depth derived from the heap range id), ties to the lowest
    dimension; split point = mean; chosen variance == 0 (exactly ⇔
    all values equal — Summarizer's Welford merge accumulates zero
    deltas) → id-split (null dimension/mid). Summarizer reports
    SAMPLE variance; the argmax/argmin choice compares variances
    within one range (same n), so the (n-1)/n factor cancels and the
    zero test is unaffected. Mean id = truncated integer average of
    the exact decimal sum (T-SQL integer avg / C# Int128 division,
    DDL.sql:161-167; IndexBuilder.cs:115). Ragged / zero-width
    vectors are outside the contract (fixed-width per table, like the
    reference's float[dims]).
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    thr = int(local_threshold)
    agg = (
        pts.select(
            "doc_id",
            "range_id",
            "id",
            array_to_vector(F.col("vector").cast("array<double>")).alias("_v"),
        )
        .groupBy("doc_id", "range_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("id").alias("min_id"),
            F.sum(F.col("id").cast("decimal(38,0)")).alias("id_sum"),
            Summarizer.metrics("mean", "variance").summary(F.col("_v")).alias("_s"),
        )
    )
    base = agg.select(
        "doc_id",
        "range_id",
        "cnt",
        "min_id",
        "id_sum",
        vector_to_array(F.col("_s.mean")).alias("_means"),
        vector_to_array(F.col("_s.variance")).alias("_vars"),
    )
    # depth parity from the heap id: depth = bit_length(rid + 1) - 1.
    depth = F.length(F.conv(F.col("range_id") + 1, 10, 2)) - 1
    even = depth % 2 == F.lit(0)
    ext = F.when(even, F.array_max("_vars")).otherwise(F.array_min("_vars"))
    is_split = (F.col("cnt") > F.lit(1)) & (F.col("cnt") > F.lit(thr))
    # array_position: 1-based, FIRST occurrence — the C# MaxBy
    # first-extremum tie-break (IndexBuilder.cs:75-79). Interpreted
    # array exprs are fine here: #ranges rows, dims-length arrays.
    pos = F.array_position("_vars", ext).cast("int")
    choose = is_split & (ext != F.lit(0.0))
    return base.select(
        "doc_id",
        "range_id",
        F.when(F.col("cnt") == 1, F.lit("leaf"))
        .when(~is_split, F.lit("local"))
        .otherwise(F.lit("split"))
        .alias("fate"),
        "cnt",
        "min_id",
        F.when(choose, pos - F.lit(1)).cast("int").alias("split_dim"),
        F.when(choose, F.try_element_at("_means", pos)).alias("mid"),
        # floor(), NOT a decimal cast — decimal casts round half-up,
        # which can empty a child on an id-split of two consecutive ids.
        F.floor(F.col("id_sum") / F.col("cnt")).cast("long").alias("mean_id"),
    )


def _make_subtree_builder():
    """Return the per-range subtree builder for `applyInPandas`.

    Deliberately a *nested, self-contained* function: cloudpickle
    serializes closures by value, so executors never need this package
    on their PYTHONPATH (no --py-files required on a real cluster).

    Identical split semantics to the distributed phase; an explicit
    stack like the reference's out-of-core walker
    (IndexBuilder.cs:23-157) but over an in-memory numpy matrix.
    """
    max_range_id = _MAX_RANGE_ID
    cols = list(INDEX_COLS)

    def build_subtree(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        import pandas as _pd

        doc = int(pdf["doc_id"].iloc[0])
        root = int(pdf["range_id"].iloc[0])
        ids = pdf["id"].to_numpy(dtype=np.int64)
        _vo = pdf["vector"].to_numpy()
        if len(_vo):
            # vstack + widen beats a 100k-iteration python list
            # comprehension by ~5x; float32 -> float64 is exact
            mat = np.vstack(_vo).astype(np.float64, copy=False)
        else:
            mat = np.empty((0, 0), dtype=np.float64)
        if mat.ndim == 1:  # zero-width or single row edge cases
            mat = mat.reshape(len(ids), -1)
        n_total = len(ids)
        # int64-overflow guard for the segment id-sums: a segment can
        # hold up to n_total rows, so the exact bound is
        # max_id * n_total < 2^63 (a fixed 2^44 cutoff silently
        # wrapped for ~2^43-range ids in million-row pools — garbage
        # negative mean_id, one-sided id-splits)
        big_ids = bool(n_total) and int(ids.max()) > (2**63 - 1) // n_total

        # output accumulators: -1 / NaN encode null, masked at the end
        o_rid: list = []
        o_dim: list = []
        o_mid: list = []
        o_low: list = []
        o_high: list = []
        o_id: list = []

        def emit(rid, dim, mid, low, high, leaf):
            o_rid.append(rid)
            o_dim.append(dim)
            o_mid.append(mid)
            o_low.append(low)
            o_high.append(high)
            o_id.append(leaf)

        # Level-synchronous, fully VECTORIZED build with per-level
        # compaction: working arrays hold only ACTIVE (multi-point)
        # segments, contiguously tiled, so per level a handful of
        # numpy ops (reduceat moments, fancy-indexed split values, one
        # stable argsort to partition children) process EVERY node at
        # that level — no per-node Python (the round-1 per-node loop
        # cost ~100-200 µs × 2n nodes and dominated the build).
        # All segments in one wave share the same depth (children are
        # exactly one level below their parents), so the argmax/argmin
        # parity is a single scalar per wave. Same split semantics as
        # the distributed phase (IndexBuilder.cs:75-115).
        if n_total == 1:
            emit(
                np.array([root], np.int64),
                np.array([-1], np.int64),
                np.array([np.nan]),
                np.array([-1], np.int64),
                np.array([-1], np.int64),
                ids.astype(np.int64),
            )
        P = mat
        Ii = ids
        # Preallocated scratch: a fresh `P * P` / `P[order]` allocation
        # every level page-faults ~|P| bytes each — measured 20 s of
        # the 40 s build at 125k x 96 (sqs alone) vs ~3 s through warm
        # buffers. Values are bit-identical: same ops, same order,
        # only the destination memory is reused. `_sq_buf` holds ONLY
        # the per-level squares; gathers alternate between `mat`'s
        # buffer and `_alt` so source and destination never alias.
        _sq_buf = np.empty_like(mat)
        _alt = np.empty_like(mat)
        seg_rid = np.array([root], dtype=np.int64) if n_total > 1 else np.array([], np.int64)
        seg_cnt = np.array([n_total], dtype=np.int64) if n_total > 1 else np.array([], np.int64)
        depth = (root + 1).bit_length() - 1

        while seg_rid.size:
            nseg = seg_rid.size
            if int(2 * seg_rid.max() + 2) > max_range_id:
                raise RuntimeError("range id overflow in local subtree build")
            starts = np.zeros(nseg, dtype=np.int64)
            np.cumsum(seg_cnt[:-1], out=starts[1:])
            sums = np.add.reduceat(P, starts, axis=0)
            P2 = _sq_buf[: len(P)]
            np.multiply(P, P, out=P2)
            sqs = np.add.reduceat(P2, starts, axis=0)
            means = sums / seg_cnt[:, None]
            # E[x^2] - m^2 (clamped): cheap one-pass variance. Tiny
            # residues on (near-)constant data are handled by the
            # empty-side guard below, which degrades to the id-split.
            variances = np.maximum(sqs / seg_cnt[:, None] - means * means, 0.0)
            if big_ids:
                id_sums = np.add.reduceat(Ii.astype(object), starts)
                mean_ids = (id_sums // seg_cnt.astype(object)).astype(np.int64)
            else:
                mean_ids = np.add.reduceat(Ii, starts) // seg_cnt
            dim = (
                variances.argmax(axis=1)
                if depth % 2 == 0
                else variances.argmin(axis=1)
            ).astype(np.int64)
            seg_ix = np.arange(nseg)
            seg_var = variances[seg_ix, dim]
            mids = means[seg_ix, dim]

            seg_of = np.repeat(seg_ix, seg_cnt)  # per-row segment index
            vals = P[np.arange(len(Ii)), dim[seg_of]]
            row_mid = mids[seg_of]
            row_mean_id = mean_ids[seg_of]
            go_low = (vals < row_mid) | ((vals == row_mid) & (Ii <= row_mean_id))
            nlo = np.add.reduceat(go_low.astype(np.int64), starts)
            # id-split: zero variance, or a mean-split that left one
            # side empty (float mean an ulp off every value).
            idsplit = (seg_var == 0.0) | (nlo == 0) | (nlo == seg_cnt)
            if idsplit.any():
                rows_id = idsplit[seg_of]
                go_low = np.where(rows_id, Ii <= row_mean_id, go_low)
                nlo = np.add.reduceat(go_low.astype(np.int64), starts)
            nhi = seg_cnt - nlo

            emit(
                seg_rid,
                np.where(idsplit, -1, dim),
                np.where(idsplit, np.nan, mids),
                2 * seg_rid + 1,
                2 * seg_rid + 2,
                np.full(nseg, -1, np.int64),
            )

            # partition rows into (low child, high child) per segment
            # with ONE stable sort on a composite key
            order = np.argsort(
                seg_of * 2 + (~go_low).astype(np.int64), kind="stable"
            )
            Ii = Ii[order]
            child_rid = np.empty(nseg * 2, np.int64)
            child_rid[0::2] = 2 * seg_rid + 1
            child_rid[1::2] = 2 * seg_rid + 2
            child_cnt = np.empty(nseg * 2, np.int64)
            child_cnt[0::2] = nlo
            child_cnt[1::2] = nhi
            child_starts = np.zeros(nseg * 2, dtype=np.int64)
            np.cumsum(child_cnt[:-1], out=child_starts[1:])

            is_leaf = child_cnt == 1
            if is_leaf.any():
                k = int(is_leaf.sum())
                emit(
                    child_rid[is_leaf],
                    np.full(k, -1, np.int64),
                    np.full(k, np.nan),
                    np.full(k, -1, np.int64),
                    np.full(k, -1, np.int64),
                    Ii[child_starts[is_leaf]],
                )
            keep = child_cnt >= 2
            if keep.any():
                # fuse the partition reorder and the finished-leaf
                # compaction into ONE gather into the buffer P does
                # NOT currently live in (no src/dst aliasing)
                keep_rows = np.repeat(keep, child_cnt)
                idx = order[keep_rows]
                src_in_mat = P is mat or P.base is mat
                dst = (_alt if src_in_mat else mat)[: len(idx)]
                np.take(P, idx, axis=0, out=dst)
                P = dst
                Ii = Ii[keep_rows]
            seg_rid = child_rid[keep]
            seg_cnt = child_cnt[keep]
            depth += 1

        rid_a = np.concatenate(o_rid) if o_rid else np.array([], np.int64)
        dim_a = np.concatenate(o_dim).astype(np.int64) if o_rid else np.array([], np.int64)
        mid_a = np.concatenate(o_mid).astype(np.float64) if o_rid else np.array([])
        low_a = np.concatenate(o_low).astype(np.int64) if o_rid else np.array([], np.int64)
        high_a = np.concatenate(o_high).astype(np.int64) if o_rid else np.array([], np.int64)
        id_a = np.concatenate(o_id).astype(np.int64) if o_rid else np.array([], np.int64)
        res = _pd.DataFrame(
            {
                "doc_id": np.full(rid_a.size, doc, np.int64),
                "range_id": rid_a,
                "dimension": _pd.arrays.IntegerArray(
                    dim_a.astype(np.int32), mask=dim_a < 0
                ),
                "mid": _pd.arrays.FloatingArray(mid_a, mask=np.isnan(mid_a)),
                "low_range_id": _pd.arrays.IntegerArray(low_a, mask=low_a < 0),
                "high_range_id": _pd.arrays.IntegerArray(high_a, mask=high_a < 0),
                "id": _pd.arrays.IntegerArray(id_a, mask=id_a < 0),
            },
            columns=cols,
        )
        return res

    return build_subtree
