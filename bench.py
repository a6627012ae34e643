"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], default the
CPUs this process may run on.

Prints a compact JSON line first:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}
then a full line with the per-pass samples and evidence, including
the sha256 of this file (``harness_sha256``) and the core count
(``cpus``), so an artifact says which harness and host width made it.

Each query is forced end-to-end with a noop datasource write (full
evaluation, no driver collect overhead). The index build is timed as
its own entry since it is the reference's headline number
(BASELINE.md: ~3 min for 10M x 96 on one node).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vector_database_spark import get_spark
from vector_database_spark.session import default_cpus
from vector_database_spark import workload

BENCH_QUERIES = [
    "v01_search_exact",
    # d05 runs EARLY, before the shingle-family dedup block: its
    # single-task BLAS kernel is invisible to the 32-way scan anchor
    # but loses ~5x to d03's async checkpoint cleanup + session cache
    # pressure when adjacent (round-11 A/B: bench min 4.93 s vs idle
    # interleaved 0.512 s — mechanism measured, ROUND11.md). Verdict
    # r11 item 4: de-adjacency so committed numbers match idle truth.
    "d05_embedding_neardup",
    "v03_knn_l2",
    "v05_dim_stats",
    "d02_dedup_minhash_lsh",
    "d03_dedup_simhash",
    "t04_fingerprint",
    "r01_q1_agg",
    "r02_join_revenue",
    "r03_topk_per_group",
    "e02_sessionize",
    # round-6 retrieval surface (verdict item 6): regressions in the
    # ranking operators were invisible to the original 12-query suite
    "t16_bm25",
    "v20_maxsim",
    "v21_hybrid_rrf",
    "v23_mmr_rerank",
    # round-8 additions: the window-only event ops (as-of carry,
    # LTOB argmax) — single-shuffle shapes whose regressions a
    # join-based rewrite would hide
    "e20_ltob_downsample",
    "e21_attribution",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    spark = get_spark(
        app_name="vds-bench",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Three timed passes per query, keep the min — and run the passes
    # as FULL-SUITE sweeps (pass 1 over every query, then pass 2, then
    # pass 3) instead of back-to-back repeats: the rig's effective CPU
    # speed swings 2-4x with host-level throttling on a timescale of
    # seconds-to-minutes, so consecutive repeats of one query share
    # the same throttle phase and min-of-N buys nothing. Spreading a
    # query's passes ~30 s apart decorrelates them from any single
    # dip (round-5 measurement: the same suite read 9.6 s and 12.2 s
    # minutes apart with every query shifted uniformly). Each pass
    # runs the identical plan with identical cache state: d02 drops
    # the shared shingle pass before every one of ITS passes (it is
    # charged that cost; the queries after it legitimately ride the
    # one it leaves behind), and the index is dropped before every
    # build pass.
    qs = workload.queries()
    pre_hooks = {"d02_dedup_minhash_lsh": lambda: workload.drop_cached("shingles")}

    def _build():
        workload.drop_cached("index")
        workload.embeddings_index(spark, sf_dir)  # builds + materializes

    plan = [("index_build", _build)]
    for name in BENCH_QUERIES:
        def thunk(name=name):
            hook = pre_hooks.get(name)
            if hook:
                hook()
            _force(qs[name](spark, sf_dir))

        plan.append((name, thunk))

    # graph-ANN entries bench the SCALE paths (dgemm blocked build,
    # beam over a prebuilt graph) — the g07 gate deliberately runs the
    # interpreted expr twin, which is the oracle shape, not the one a
    # user ships
    from pyspark.sql import functions as F

    from vector_database_spark.operators.graph import (
        graph_beam_search,
        knn_graph_blocked,
    )

    def _g_vecs():
        return workload._embeddings(spark, sf_dir)

    def _blocked_build():
        _force(
            knn_graph_blocked(
                _g_vecs(), 8, n_cells=16, nprobe=4, method="dgemm"
            )
        )

    _beam_edges: list = []

    def _beam():
        if not _beam_edges:  # one prebuilt graph serves all passes:
            # the graph is the INPUT of the beam benchmark
            _beam_edges.append(
                knn_graph_blocked(
                    _g_vecs(), 8, n_cells=16, nprobe=4, method="dgemm"
                ).select("src", "dst").localCheckpoint()
            )
        vecs = _g_vecs()
        qdf = vecs.where(F.col("id") < 16).select(
            F.col("id").alias("qid"),
            F.col("vector").cast("array<double>").alias("qvec"),
        )
        _force(
            graph_beam_search(_beam_edges[0], vecs, qdf, ef=8, hops=4)
        )

    plan.append(("knn_graph_blocked", _blocked_build))
    plan.append(("beam_search", _beam))

    # ---- scale tier (round-13 verdict item 1) --------------------------
    # Every sf0.1 entry is job/AQE-overhead bound (r13 scaling block:
    # 8-core/32-core ratios 0.63-1.2 ~ 1), so shuffle-volume and
    # parallelism wins are invisible to the wall clock. These three
    # entries are sized so the WORK dominates scheduling (~5-25 s at 32
    # cores) and each exercises a different axis: map-side aggregation
    # throughput (rollup), shuffle+sort (sessionize window), and
    # vectorized per-task compute (dgemm kNN graph). Inputs are
    # deterministic spark.range / seeded generators built fresh inside
    # every pass — nothing persists across passes (the no-precompute
    # rule); the same host anchors bracket them as every other entry.
    from vector_database_spark.operators import timeseries as _ts

    def _scale_events(n: int):
        return spark.range(n).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000)
                + (
                    F.abs(F.hash(F.col("id"), F.lit(7)).cast("long"))
                    % (30 * 86_400)
                )
                * 1_000_000
            ).alias("ts"),
            F.concat(F.lit("k"), (F.col("id") % 32).cast("string")).alias(
                "event_type"
            ),
            (
                F.abs(F.hash(F.col("id"), F.lit(9)).cast("long")) % 100_000
                / 100.0
            ).alias("value"),
            (F.col("id") % 1000).alias("user_id"),
        )

    _SCALE_N_EVENTS = 20_000_000
    _SCALE_N_VECS, _SCALE_DIMS = 65_536, 64

    def _scale_rollup_df():
        return _ts.rollup_events(
            _scale_events(_SCALE_N_EVENTS), 60, first_last=False
        )

    def _scale_sessionize_df():
        from pyspark.sql.window import Window as _W

        ev2 = _scale_events(_SCALE_N_EVENTS)
        w2 = _W.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(
            F.lag("ts").over(w2)
        )
        new_sess = F.when(
            gap.isNull() | (gap > 1800), F.lit(1)
        ).otherwise(F.lit(0))
        sess = ev2.withColumn(
            "new_sess", new_sess
        ).withColumn(
            "session_id",
            F.sum("new_sess").over(
                w2.rowsBetween(_W.unboundedPreceding, 0)
            ),
        )
        return sess.groupBy("user_id", "session_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
        )

    def _scale_knn_df():
        from vector_database_spark.sources.generators import clusters as _cl

        return knn_graph_blocked(
            _cl(
                spark, n=_SCALE_N_VECS, dims=_SCALE_DIMS, n_clusters=64,
                seed=3,
            ).select("id", "vector"),
            4,
            n_cells=64,
            nprobe=2,
            method="dgemm",
        )

    _scale_dfs = {
        "scale_rollup_20m": _scale_rollup_df,
        "scale_sessionize_20m": _scale_sessionize_df,
        "scale_knn_dgemm_64k": _scale_knn_df,
    }
    for _sname, _sdf in _scale_dfs.items():
        plan.append((_sname, lambda _sdf=_sdf: _force(_sdf())))

    # sub-scan MIPS tier (round-8 verdict item 3): the norm-augmented
    # IVF dgemm path — the v26 gate deliberately runs the expr oracle
    # twin; this benches SERVING off a prebuilt layout (the store-once
    # rule: per-call rebuild measured 0.38x vs brute at 1M x 64)
    _mips_layout: list = []

    def _mips():
        from vector_database_spark.operators.ann import mips_build, mips_knn

        vecs = workload._embeddings(spark, sf_dir)
        if not _mips_layout:
            assigned, cents, m2 = mips_build(vecs, n_cells=16)
            _mips_layout.append((assigned.localCheckpoint(), cents, m2))
        assigned, cents, m2 = _mips_layout[0]
        panel = workload._panel(spark, sf_dir)
        qdf = spark.createDataFrame(panel, "qid long, qvec array<double>")
        _force(
            mips_knn(
                vecs, qdf, 10, nprobe=4,
                assigned=assigned, centroids=cents, m2=m2,
            )
        )

    plan.append(("mips_knn", _mips))

    # unified-facade serving entries (round-7 verdict item 8): one
    # search per backend over ONE prebuilt 100k x 16 store each (the
    # build is setup, like the beam graph — the benchmark times the
    # SERVING path users hit per query). tools/facade_probe.py pins
    # exactness at 200k; these entries make cross-round regressions
    # on the unified path visible with the same samples+anchor
    # discipline as every other entry.
    import shutil as _shutil
    import tempfile as _tempfile

    from vector_database_spark.api import VectorDatabase
    from vector_database_spark.sources.generators import clusters

    _FACADE_N, _FACADE_D = 100_000, 16
    _facades: dict = {}
    _facade_root = _tempfile.mkdtemp(prefix="bench_facade_")
    _fdata: list = []

    def _facade(t: str) -> "VectorDatabase":
        if t not in _facades:
            if not _fdata:
                _fdata.append(
                    clusters(
                        spark, n=_FACADE_N, dims=_FACADE_D, n_clusters=24,
                        seed=3,
                    )
                    .select(
                        (F.col("id") % 8).alias("doc_id"),
                        F.col("id").alias("text_id"),
                        "vector",
                    )
                    .localCheckpoint()
                )
                _fdata.append(
                    [
                        float(x)
                        for x in _fdata[0]
                        .where(F.col("text_id") == 7)
                        .first()["vector"]
                    ]
                )
            vdb = VectorDatabase(
                spark, f"{_facade_root}/{t}", index_type=t, n_cells=64,
                local_threshold=65_536, pq_m=4,
            )
            vdb.add_documents(_fdata[0])
            _facades[t] = vdb
        return _facades[t]

    for t in ("bsp", "ivf", "ivfadc", "bq", "mips"):
        # 'bq' (round-8 verdict item 5): the cell-probed Hamming
        # candidates + exact-rerank serving path — the facade's
        # approximate tier; 'mips' (round-9 item 5): exact ball via
        # augmented-radius pruning over the MIPS layout
        def _fsearch(t=t):
            _force(_facade(t).search(_fdata[1], 0.35))

        plan.append((f"facade_search_{t}", _fsearch))

    # the 'mips' backend's native serving surface: top-k by exact
    # inner product off the stored layout (+ exact tail merge)
    def _fknn_dot():
        _force(_facade("mips").knn_dot(_fdata[1], 10, nprobe=8))

    plan.append(("facade_knn_dot_mips", _fknn_dot))

    # Raw per-pass samples are recorded alongside the mins (round-5
    # verdict item 3): a min-only artifact sampled in a throttle
    # window is indistinguishable from a code regression. With the
    # samples, a reader normalizes any query's pass-i time by the
    # SAME pass's anchor (r01 — a fixed, cache-free relational scan)
    # and gets a throttle-immune ratio; uniform inflation across a
    # whole pass = host noise, a single query moving against the
    # anchor = a real change.
    # warm the facade stores BEFORE the timed passes: the build is
    # setup (like the beam graph), and a build-polluted pass-1 sample
    # would break the per-pass anchor-ratio discipline
    for t in ("bsp", "ivf", "ivfadc", "bq", "mips"):
        _facade(t)

    # round-11 verdict item 6: the scan+shuffle host anchor pair runs
    # BESIDE the bench (before pass 1 / after pass 3) so every
    # committed BENCH artifact carries the same throttle evidence as
    # the headline probe — r01 alone is blind to single-task load.
    # (host_anchor clearCache()s: safe here — workload caches are
    # rebuilt inside the passes, facade stores are localCheckpoint
    # blocks, not catalog cache.)
    from tools.host_anchor import host_anchor

    anchor_pre = host_anchor(spark)
    samples: dict[str, list[float]] = {name: [] for name, _ in plan}
    # per-entry Spark JOB counts (round-13 verdict item 1): at sf0.1
    # every entry is job/AQE-stage-overhead bound, so the job count is
    # the throttle-immune per-entry metric — a structural optimization
    # (shuffle removed, listing job gone) moves it even when the wall
    # clock can't see the win. Counted per pass via StatusTracker;
    # "jobs" below reports the LAST pass (warm — pass 1 includes
    # one-time setup like the beam graph build).
    job_samples: dict[str, list[int]] = {name: [] for name, _ in plan}
    tracker = spark.sparkContext.statusTracker()

    def _n_jobs() -> int:
        return len(tracker.getJobIdsForGroup(None) or [])

    for _pass in range(3):
        for name, thunk in plan:
            j0 = _n_jobs()
            t0 = time.time()
            thunk()
            samples[name].append(round(time.time() - t0, 3))
            job_samples[name].append(_n_jobs() - j0)
    anchor_post = host_anchor(spark)

    # per-entry shuffle-Exchange counts from the SAME DataFrames the
    # bench forces (untimed, after the passes — construction only).
    # BroadcastExchange is excluded: the number here is "how many
    # shuffles does this entry plan", the scale-cost proxy.
    import re as _re2

    def _n_exchanges(df) -> int:
        from tools.explain_audit import formatted_plan

        # formatted mode prints each operator twice (tree + details) —
        # count the details headers "(n) Exchange" only; Broadcast/
        # ReusedExchange headers spell differently and don't match
        p = formatted_plan(df)
        return len(_re2.findall(r"(?m)^\(\d+\) Exchange\b", p))

    exchange_counts: dict[str, int | None] = {}
    _plan_dfs: dict = {name: (lambda name=name: qs[name](spark, sf_dir))
                       for name in BENCH_QUERIES}
    _plan_dfs.update(_scale_dfs)
    for name, mk in _plan_dfs.items():
        try:
            exchange_counts[name] = _n_exchanges(mk())
        except Exception:
            exchange_counts[name] = None

    _shutil.rmtree(_facade_root, ignore_errors=True)
    timings = {name: min(s) for name, s in samples.items()}
    total = round(sum(timings.values()), 3)
    # round-10 verdict item 7: per-entry anchor-adjusted ratios vs
    # the latest committed round artifact, so movers are flagged by
    # the tool, not the judge. ratio = (t_now / anchor_now) /
    # (t_prev / anchor_prev) over the min-of-passes timings — the
    # same normalization a reader applies by hand; entries outside
    # 1.25x either way land in "movers".
    vs_prev: dict = {}
    movers: list = []
    prev_file = None
    try:
        import glob as _glob
        import re as _re

        cands = sorted(
            _glob.glob(os.path.join(os.path.dirname(
                os.path.abspath(__file__)), "BENCH_r*.json")),
            key=lambda p: int(
                _re.search(r"BENCH_r(\d+)", p).group(1)  # type: ignore
            ),
        )
        if cands:
            prev_file = os.path.basename(cands[-1])
            with open(cands[-1]) as fh:
                prev = json.load(fh)
            pq = prev.get("queries")
            if not pq:
                # the driver's BENCH_r{N}.json wraps this script's
                # stdout: the JSON line sits (head-truncated) in the
                # "tail" string — extract the queries dict by brace
                # matching; when truncation ate the queries dict
                # itself (r11's samples growth pushed it off the
                # head), fall back to the samples dict and take
                # min-of-passes per entry (the same statistic)
                tail = prev.get("tail", "") or ""
                for marker, reduce_min in (
                    ('"queries": {', False),
                    ('"samples": {', True),
                ):
                    i = tail.find(marker)
                    if i < 0:
                        continue
                    j = tail.index("{", i)
                    depth_, k = 0, j
                    for k in range(j, len(tail)):
                        depth_ += (tail[k] == "{") - (tail[k] == "}")
                        if depth_ == 0:
                            break
                    # a truncated brace-matched region fails to parse;
                    # fall through to the next marker (the samples
                    # dict may still be recoverable) instead of losing
                    # vs_prev entirely
                    try:
                        got = json.loads(tail[j : k + 1])
                    except Exception:
                        continue
                    pq = (
                        {n: min(v) for n, v in got.items() if v}
                        if reduce_min
                        else got
                    )
                    break
            if not pq:
                # last resort (r12's artifact): truncation ate BOTH
                # markers but per-entry sample arrays survive mid-tail
                # — regex them out and min-reduce. Names are validated
                # by intersection with the live timings below, so a
                # stray numeric-array field can never inject a mover.
                got = {
                    m.group(1): [float(x) for x in m.group(2).split(",")]
                    for m in _re.finditer(
                        r'"([A-Za-z0-9_]+)": \[([0-9eE+~.,\- ]+)\]', tail
                    )
                }
                pq = {n: min(v) for n, v in got.items() if v}
            if not pq:
                raise ValueError(
                    f"{prev_file}: no queries/samples recoverable "
                    "(tail head-truncated) — vs_prev unavailable"
                )
            a_now = timings.get("r01_q1_agg")
            a_prev = pq.get("r01_q1_agg")
            if a_now and a_prev:
                for name, t in timings.items():
                    if name == "r01_q1_agg" or name not in pq or not pq[name]:
                        continue
                    r = (t / a_now) / (pq[name] / a_prev)
                    vs_prev[name] = round(r, 3)
                    if r > 1.25 or r < 0.8:
                        movers.append(name)
    except Exception as e:
        # a swallowed parse failure here would be indistinguishable
        # from "no movers" — surface it in the committed artifact
        vs_prev_error = repr(e)
    else:
        vs_prev_error = None
    metric = (
        "headline-suite wall time, min of 3 spread passes "
        "(build + search + dedup + relational + scale tier)"
    )
    # COMPACT line FIRST (round-13 verdict item 2): the driver's
    # artifact wraps this script's stdout in a string a collector may
    # head-truncate — r12's truncation ate the queries dict and emptied
    # the whole PERF comparison. The per-query mins are ~1 KB; emitting
    # them first (full contract fields, nothing else) means a reader
    # parsing EITHER line gets the contract, and truncation from either
    # end leaves at least one copy intact. The full samples/evidence
    # line follows, unchanged in shape from r11+.
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        ),
        flush=True,
    )
    with open(os.path.abspath(__file__), "rb") as fh:
        harness_sha256 = hashlib.sha256(fh.read()).hexdigest()
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "queries": timings,
                "harness_sha256": harness_sha256,
                "cpus": cpus,
                "samples": samples,
                "jobs": {n: (s[-1] if s else None)
                         for n, s in job_samples.items()},
                "job_samples": job_samples,
                "exchanges": exchange_counts,
                "anchor": "r01_q1_agg",
                "host_anchor_pre": anchor_pre,
                "host_anchor_post": anchor_post,
                "vs_prev": vs_prev,
                "vs_prev_baseline": prev_file,
                "movers": sorted(movers),
                "vs_prev_error": vs_prev_error,
                "sf": sf,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
