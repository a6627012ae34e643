"""The three benchmark workloads: ``serve``, ``ingest`` and ``batch``.

Each workload is closed loop with one client: the next call starts when the
previous one has returned and its rows are collected. A workload has

* ``setup()``: generates its inputs from the seed and builds its stores
  (timed as part of ``setup_s``);
* ``warmup()``: untimed first calls, so one-time plan compilation is not a
  timed sample (``serve`` makes them in ``setup()``, beside its builds);
* ``round()``: one round of timed calls, each through ``Runner.measure``;
* ``finish()``: the end-of-run correctness checks, outside the timed region;
* ``layer_counters()``: the layer-specific counters of the traced run.

Every input comes from ``sources.generators.clusters`` or ``spark.range``
expressions keyed by the seed; the oracles are exact NumPy computations
over the same generated rows, independent of the engine.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

from vector_database_spark.api import VectorDatabase
from vector_database_spark.operators import catalog, dedup, graph, timeseries
from vector_database_spark.sources.generators import clusters

FULL = {
    "dims": 32,
    "docs": 8,
    "clusters": 24,
    # ivf/mips cells of the serve stores: ~375 rows each, and knn_dot
    # probes knn_nprobe / serve_cells = 1/8 of them
    "serve_cells": 16,
    "serve_rows": 6_000,
    "queries": 64,
    "selective_matches": 30,
    "broad_frac": 0.01,
    "knn_k": 10,
    "knn_nprobe": 2,
    "ingest_rows": 16_000,
    # every append sends `ingest_big` rows to one document (rotating), which
    # pushes that document over the compaction threshold, and
    # `ingest_small` rows to each other document, which stay in the tail
    "ingest_big": 800,
    "ingest_small": 25,
    "max_appends": 16,
    "build_rows": 20_000,
    "graph_rows": 8_192,
    "graph_dims": 64,
    "graph_k": 4,
    "graph_cells": 64,
    "graph_recall_sample": 256,
    "dedup_docs": 3_000,
    "dedup_planted": 200,
    "dedup_words": 30,
    "events": 4_000_000,
}

# the same workloads at a size the smoke test can run in seconds
TINY = dict(
    FULL,
    serve_rows=2_000,
    queries=8,
    ingest_rows=2_000,
    ingest_big=100,
    ingest_small=3,
    max_appends=8,
    build_rows=2_000,
    graph_rows=1_024,
    graph_recall_sample=64,
    dedup_docs=400,
    dedup_planted=20,
    events=100_000,
)

# sampled recall of knn_graph_blocked(k=4, n_cells=64, nprobe=2) against
# exact kNN on the clustered generator; measured 0.997-1.0 on 8k x 64
GRAPH_RECALL_FLOOR = 0.85
TOL = 1e-9


def du(path: str) -> int:
    """Bytes of all regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def to_numpy(df, id_col: str = "text_id") -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 vectors) of a small generated frame, ordered by id."""
    pdf = df.select(id_col, "vector").orderBy(id_col).toPandas()
    return (
        pdf[id_col].to_numpy(np.int64),
        np.array(pdf["vector"].tolist(), dtype=np.float32).astype(np.float64),
    )


def ball(ids, X, q, r) -> dict[int, float]:
    """Exact oracle for ``search``: text_id -> distance for every row within
    ``r`` of ``q``."""
    d = np.sqrt(((X - q) ** 2).sum(axis=1))
    hit = d <= r
    return dict(zip(ids[hit].tolist(), d[hit].tolist()))


def radius_for(X, q, k: int) -> float:
    """A radius that matches exactly the ``k`` nearest rows of ``q``: the
    midpoint between the k-th and (k+1)-th distance, so no row sits on the
    boundary."""
    d = np.sort(np.sqrt(((X - q) ** 2).sum(axis=1)))
    return float((d[k - 1] + d[k]) / 2.0)


def same_ball(rows, want: dict[int, float]) -> bool:
    got = {int(r["text_id"]): float(r["dist"]) for r in rows}
    return got.keys() == want.keys() and all(
        abs(got[i] - want[i]) <= TOL for i in want
    )


def exact_top_ip(ids, X, q, k: int) -> list[tuple[int, float]]:
    """Exact inner-product top-k ordered by (ip desc, text_id)."""
    ip = X @ q
    order = np.lexsort((ids, -ip))[:k]
    return [(int(ids[i]), float(ip[i])) for i in order]


class Workload:
    name = ""

    def __init__(self, runner, sizes: dict):
        self.r = runner
        self.spark = runner.spark
        self.s = sizes
        self.rng = np.random.default_rng(runner.seed)
        self.root = runner.root
        self.seed = runner.seed
        self.info: dict = {}

    def _jitter(self, v):
        return v + self.rng.normal(0.0, 0.01, v.shape[0])

    def warmup(self):
        pass

    def store_bytes_per_user_byte(self) -> float:
        raise NotImplementedError

    def layer_counters(self) -> dict:
        return {}


class Serve(Workload):
    """Read-only serving off three warmed stores holding the same rows."""

    name = "serve"
    ops = ("search_bsp", "search_ivf", "knn_dot")

    def setup(self):
        s = self.s
        self.data = (
            clusters(
                self.spark, n=s["serve_rows"], dims=s["dims"],
                n_clusters=s["clusters"], seed=self.seed,
            )
            .select(
                (F.col("id") % s["docs"]).alias("doc_id"),
                F.col("id").alias("text_id"),
                "vector",
            )
            .localCheckpoint()
        )
        self.ids, self.X = to_numpy(self.data)
        self.pos = {int(t): j for j, t in enumerate(self.ids)}
        # stored vectors plus seeded jitter; radii alternate between a
        # selective one (`selective_matches` rows) and a broad one (~1%)
        picks = self.rng.choice(len(self.ids), s["queries"], replace=False)
        broad = max(int(s["broad_frac"] * len(self.ids)), s["selective_matches"] + 1)
        self.queries = []
        for i, p in enumerate(picks):
            q = self._jitter(self.X[p])
            k = s["selective_matches"] if i % 2 == 0 else broad
            r = radius_for(self.X, q, k)
            self.queries.append((q, r, ball(self.ids, self.X, q, r)))
        self.i = 0
        self.info["matches"] = {"selective": s["selective_matches"], "broad": broad}
        # each store is built and makes its untimed first call in a thread
        # of its own: the builds are many small Spark jobs that overlap
        # well, and no timed call runs until all threads are done
        types = ("bsp", "ivf", "mips")
        with ThreadPoolExecutor(len(types)) as pool:
            built = dict(zip(types, pool.map(self._build_and_check, types)))
        self.stores = {t: vdb for t, (vdb, _) in built.items()}
        self.first_ok = built["bsp"][1] and built["ivf"][1]
        self.exhaustive_ok = built["mips"][1]

    def _build_and_check(self, t):
        """Build store ``t`` and make its first call, checked: a search on
        bsp and ivf, and on mips a ``knn_dot`` probing every cell, where
        the layout is exhaustive and the result must equal the exact
        inner-product top-k."""
        s = self.s
        vdb = VectorDatabase(self.spark, f"{self.root}/{t}", index_type=t, n_cells=s["serve_cells"])
        vdb.add_documents(self.data)
        q, r, want = self.queries[-1]
        if t != "mips":
            return vdb, same_ball(vdb.search(q.tolist(), r).collect(), want)
        k = s["knn_k"]
        rows = vdb.knn_dot(q.tolist(), k, nprobe=s["serve_cells"]).collect()
        got = sorted((int(x["rank"]), int(x["text_id"]), float(x["ip"])) for x in rows)
        want_ip = exact_top_ip(self.ids, self.X, q, k)
        return vdb, [g[1] for g in got] == [w[0] for w in want_ip] and all(
            abs(g[2] - w[1]) <= TOL for g, w in zip(got, want_ip)
        )

    def _search(self, op, store, q, r, want):
        self.r.measure(
            op,
            lambda: self.stores[store].search(q.tolist(), r),
            items=1,
            check=lambda rows: same_ball(rows, want),
        )

    def _knn_dot(self, q):
        k = self.s["knn_k"]
        pos = self.pos

        def check(rows):
            # probed top-k: exact scores, ranks 1..k, (ip desc, text_id) order
            got = [(int(x["text_id"]), float(x["ip"]), int(x["rank"])) for x in rows]
            got.sort(key=lambda g: g[2])
            exact = [float(self.X[pos[t]] @ q) for t, _, _ in got]
            return (
                len(got) == k
                and [g[2] for g in got] == list(range(1, k + 1))
                and all(abs(a[1] - b) <= TOL for a, b in zip(got, exact))
                and all(
                    (a[1], -a[0]) >= (b[1], -b[0]) for a, b in zip(got, got[1:])
                )
            )

        self.r.measure(
            "knn_dot",
            lambda: self.stores["mips"].knn_dot(
                q.tolist(), k, nprobe=self.s["knn_nprobe"]
            ),
            items=1,
            check=check,
        )

    def round(self):
        q, r, want = self.queries[self.i % len(self.queries)]
        self.i += 1
        self._search("search_bsp", "bsp", q, r, want)
        self._search("search_ivf", "ivf", q, r, want)
        self._knn_dot(q)

    def finish(self):
        self.r.check("first_searches_equal_exact", self.first_ok, ops=("search_bsp", "search_ivf"))
        self.r.check("knn_dot_exhaustive_equals_exact", self.exhaustive_ok, ops=("knn_dot",))

    def store_bytes_per_user_byte(self):
        user = len(self.ids) * self.s["dims"] * 4
        return sum(du(v.root) for v in self.stores.values()) / (user * len(self.stores))

    def layer_counters(self):
        # the first two queries: one selective radius, one broad
        def stats(layer, t):
            st = [self.stores[t].search_stats(q.tolist(), r).first() for q, r, _ in self.queries[:2]]
            return {
                f"{layer}.candidate_frac": float(np.mean([x["candidate_frac"] or 0.0 for x in st])),
                f"{layer}.selectivity": float(np.mean([x["selectivity"] or 0.0 for x in st])),
            }

        # untimed; the three lookups overlap like the builds in set-up
        with ThreadPoolExecutor(3) as pool:
            parts = [
                pool.submit(stats, "search", "bsp"),
                pool.submit(stats, "ann", "ivf"),
                pool.submit(store_counters, self.stores["bsp"]),
            ]
            return {k: v for f in parts for k, v in f.result().items()}


def tree_counters(index_df, text_path: str, index_path: str) -> dict:
    """Catalog and index_build counters of one BSP text + index table."""
    st = catalog.index_stats(index_df).agg(F.max("max_depth").alias("d")).first()
    leaf = (
        index_df.where(F.col("text_id").isNotNull())
        .groupBy("doc_id", "range_id")
        .count()
        .agg(F.max("count").alias("m"))
        .first()
    )
    return {
        "catalog.text_bytes": float(du(text_path)),
        "catalog.index_bytes": float(du(index_path)),
        "index_build.depth": float(st["d"] or 0),
        "index_build.max_leaf_rows": float(leaf["m"] or 0),
    }


def store_counters(vdb) -> dict:
    return tree_counters(vdb.index(), vdb.text_path, vdb.index_path)


class Ingest(Workload):
    """Writes beside reads on one BSP store with ``reindex='auto'``."""

    name = "ingest"
    # the first search after an append reads the new epoch (caches miss);
    # the second finds the readers cached but the tail still non-empty
    ops = ("append", "search_ingest", "search_ingest_warm")

    def setup(self):
        s = self.s
        n, big, small, docs = s["ingest_rows"], s["ingest_big"], s["ingest_small"], s["docs"]
        self.batch_rows = big + small * (docs - 1)
        pool = clusters(
            self.spark, n=n + s["max_appends"] * self.batch_rows, dims=s["dims"],
            n_clusters=s["clusters"], seed=self.seed,
        )
        # batch i: the first `big` rows go to document i % docs, then
        # `small` rows to each following document in turn
        i = F.floor((F.col("id") - n) / self.batch_rows)
        o = F.col("id") - n - i * self.batch_rows
        doc = F.when(F.col("id") < n, F.col("id") % docs).otherwise(
            F.when(o < big, i % docs).otherwise(
                (i + 1 + F.floor((o - big) / small)) % docs
            )
        )
        self.pool = pool.select(
            doc.cast("long").alias("doc_id"), F.col("id").alias("text_id"), "vector"
        ).localCheckpoint()
        base = self.pool.where(F.col("text_id") < n)
        self.ids, self.X = to_numpy(base)
        self.vdb = VectorDatabase(self.spark, f"{self.root}/bsp", index_type="bsp")
        self.vdb.add_documents(base)
        self.appends = 0
        self.tail_rows: list[int] = []
        self.compactions = 0

    def _batch(self):
        n, b = self.s["ingest_rows"], self.batch_rows
        lo = n + self.appends * b
        self.appends += 1
        if self.appends > self.s["max_appends"]:
            raise RuntimeError("ingest ran out of generated batches")
        return self.pool.where(F.col("text_id").between(lo, lo + b - 1))

    def _index_files(self) -> dict[str, frozenset]:
        p = self.vdb.index_path
        return {
            d: frozenset(os.listdir(os.path.join(p, d)))
            for d in os.listdir(p)
            if d.startswith("doc_id=")
        }

    def _append(self, timed: bool):
        batch = self._batch()
        ids, X = to_numpy(batch)
        before = self._index_files() if self.r.tracer and timed else None
        if timed:
            self.r.measure(
                "append",
                lambda: self.vdb.add_documents(batch, reindex="auto"),
                items=len(ids),
            )
        else:
            self.vdb.add_documents(batch, reindex="auto")
        self.ids = np.concatenate([self.ids, ids])
        self.X = np.concatenate([self.X, X])
        if before is not None:
            after = self._index_files()
            self.compactions += sum(after[d] != before.get(d) for d in after)
            self.tail_rows.append(self.vdb.tail().count())
        return X

    def _queries(self, new_X, n=2):
        """``n`` queries near freshly appended rows, each with a radius
        matching its `selective_matches` nearest rows of the current store."""
        out = []
        for p in self.rng.choice(len(new_X), n, replace=False):
            q = self._jitter(new_X[p])
            r = radius_for(self.X, q, self.s["selective_matches"])
            out.append((q, r, ball(self.ids, self.X, q, r)))
        return out

    def warmup(self):
        new_X = self._append(timed=False)
        for q, r, _ in self._queries(new_X):
            self.vdb.search(q.tolist(), r).collect()

    def round(self):
        new_X = self._append(timed=True)
        for op, (q, r, want) in zip(self.ops[1:], self._queries(new_X)):
            self.r.measure(
                op,
                lambda q=q, r=r: self.vdb.search(q.tolist(), r),
                items=1,
                check=lambda rows, want=want: same_ball(rows, want),
            )

    def finish(self):
        n = self.vdb.text().count()
        self.r.check("row_count_equals_appended", n == len(self.ids), ops=("append",))
        ok = all(
            same_ball(self.vdb.search(q.tolist(), r).collect(), want)
            for q, r, want in self._queries(self.X[-self.batch_rows:])
        )
        self.r.check("final_search_equals_exact", ok, ops=self.ops[1:])
        self.info["appends"] = self.appends
        self.info["rows_final"] = int(n)

    def store_bytes_per_user_byte(self):
        return du(self.vdb.root) / (len(self.ids) * self.s["dims"] * 4)

    def layer_counters(self):
        out = {
            "catalog.tail_rows_p50": float(np.median(self.tail_rows)) if self.tail_rows else 0.0,
            "catalog.compactions": float(self.compactions),
        }
        q, r, _ = self._queries(self.X[-self.batch_rows:], n=1)[0]
        st = self.vdb.search_stats(q.tolist(), r).first()
        out["search.candidate_frac"] = float(st["candidate_frac"] or 0.0)
        out["search.selectivity"] = float(st["selectivity"] or 0.0)
        out.update(store_counters(self.vdb))
        return out


def events(spark, n: int, seed: int):
    """Seeded synthetic events over a 4-hour span: 32 event types."""
    h = lambda salt: F.abs(F.hash(F.col("id"), F.lit(seed), F.lit(salt)).cast("long"))
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + (h(7) % (4 * 3600)) * 1_000_000
        ).alias("ts"),
        F.concat(F.lit("k"), (F.col("id") % 32).cast("string")).alias("event_type"),
        (h(9) % 100_000 / 100.0).alias("value"),
    )


def corpus(spark, n: int, planted: int, words: int, seed: int):
    """``n`` docs of ``words`` random words; doc 2j+1 (j < planted) is a
    near-duplicate of doc 2j: the same words in upper case with doubled
    spaces, which the shingler's lower-casing and whitespace split undo."""
    dup = (F.col("id") % 2 == 1) & (F.col("id") < 2 * planted)
    base = F.when(dup, F.col("id") - 1).otherwise(F.col("id"))
    toks = [
        F.concat(
            F.lit("w"),
            (F.abs(F.hash(base, F.lit(i), F.lit(seed))) % 5000).cast("string"),
        )
        for i in range(words)
    ]
    text = F.concat_ws(" ", *toks)
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(dup, F.upper(F.concat_ws("  ", *toks))).otherwise(text).alias("text"),
    )


class Batch(Workload):
    """Offline bulk operators, each timed per call and repeated."""

    name = "batch"
    ops = ("build", "knn_graph", "dedup", "rollup")

    def setup(self):
        s = self.s
        text = clusters(
            self.spark, n=s["build_rows"], dims=s["dims"],
            n_clusters=s["clusters"], seed=self.seed,
        ).select(
            (F.col("id") % s["docs"]).alias("doc_id"),
            F.col("id").alias("text_id"),
            "vector",
        )
        self.text_path = f"{self.root}/text"
        text.write.partitionBy("doc_id").parquet(self.text_path)
        self.gvecs = clusters(
            self.spark, n=s["graph_rows"], dims=s["graph_dims"], n_clusters=64,
            seed=self.seed,
        ).select("id", "vector").localCheckpoint()
        self.gids, self.GX = to_numpy(self.gvecs, "id")
        self.docs = corpus(
            self.spark, s["dedup_docs"], s["dedup_planted"], s["dedup_words"], self.seed
        ).localCheckpoint()
        self.n_rounds = 0
        self.last_index = None
        self.recall: list[float] = []

    def round(self):
        s = self.s
        self.spark.catalog.clearCache()
        idx = f"{self.root}/index_{self.n_rounds}"
        self.n_rounds += 1
        text = self.spark.read.parquet(self.text_path)
        self.r.measure(
            "build",
            lambda: catalog.index_documents(text, idx),
            items=s["build_rows"],
            check=lambda _: self._check_leaves(idx),
        )
        if self.last_index:
            shutil.rmtree(self.last_index, ignore_errors=True)
        self.last_index = idx
        self.spark.catalog.clearCache()
        self.r.measure(
            "knn_graph",
            lambda: graph.knn_graph_blocked(
                self.gvecs, s["graph_k"], n_cells=s["graph_cells"], nprobe=2, method="dgemm"
            ),
            items=s["graph_rows"],
            check=self._check_graph,
        )
        self.spark.catalog.clearCache()
        self.r.measure(
            "dedup",
            lambda: dedup.minhash_dedup_pairs(self.docs),
            items=s["dedup_docs"],
            check=self._check_dedup,
        )
        self.spark.catalog.clearCache()
        self.r.measure(
            "rollup",
            lambda: timeseries.rollup_events(
                events(self.spark, s["events"], self.seed), 60, first_last=False
            ),
            items=s["events"],
            check=lambda rows: sum(int(x["n"]) for x in rows) == s["events"],
        )

    def _check_leaves(self, idx: str) -> bool:
        """Every vector sits in exactly one BSP leaf."""
        row = (
            self.spark.read.parquet(idx)
            .where(F.col("text_id").isNotNull())
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("text_id").alias("d"))
            .first()
        )
        return row["n"] == row["d"] == self.s["build_rows"]

    def _check_graph(self, rows) -> bool:
        k = self.s["graph_k"]
        out: dict[int, set] = {}
        for x in rows:
            out.setdefault(int(x["src"]), set()).add(int(x["dst"]))
        if len(out) != len(self.gids) or any(len(v) != k for v in out.values()):
            return False
        sample = self.rng.choice(len(self.gids), self.s["graph_recall_sample"], replace=False)
        sq = (self.GX**2).sum(axis=1)
        d = sq[sample, None] + sq[None, :] - 2.0 * self.GX[sample] @ self.GX.T
        d[np.arange(len(sample)), sample] = np.inf  # no self edge
        nearest = np.argsort(d, axis=1, kind="stable")[:, :k]
        hits = sum(
            len(out[int(self.gids[p])] & set(self.gids[nn].tolist()))
            for p, nn in zip(sample, nearest)
        )
        recall = hits / (k * len(sample))
        self.recall.append(recall)
        return recall >= GRAPH_RECALL_FLOOR

    def _check_dedup(self, rows) -> bool:
        got = {(int(x["a_id"]), int(x["b_id"])) for x in rows}
        self.pairs_out = len(got)
        return all((2 * j, 2 * j + 1) in got for j in range(self.s["dedup_planted"]))

    def finish(self):
        self.info["rounds"] = self.n_rounds
        self.info["graph_recall"] = self.recall

    def store_bytes_per_user_byte(self):
        user = self.s["build_rows"] * self.s["dims"] * 4
        return (du(self.text_path) + du(self.last_index)) / user

    def layer_counters(self):
        out = tree_counters(
            self.spark.read.parquet(self.last_index), self.text_path, self.last_index
        )
        cand = dedup.lsh_candidate_pairs(dedup.minhash_signatures(self.docs)).count()
        return out | {
            "dedup.candidate_pairs": float(cand),
            "dedup.pairs_out": float(self.pairs_out),
            "dedup.lsh_precision": self.pairs_out / cand if cand else 0.0,
        }


WORKLOADS = {w.name: w for w in (Serve, Ingest, Batch)}
