"""Profile the facade serving paths: per-call wall time split into
(plan construction driver-side) vs (execution), plus what each call
ran on the cluster, read from the Spark status store under a job group
per call: jobs, tasks, and executor run time beside executor CPU time.

Job count alone does not set the serving floor. A stage of tasks that
wait on Python workers (run time far above CPU time) costs as much as
a job; removing the one-row query panel's Python-worker stage halved
per-call latency at equal job counts.

Usage: python tools/serve_profile.py [n] [dims] [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from perfbench.tracing import Tracer
from vector_database_spark import get_spark


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    dims = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark(app_name="serve-profile")
    spark.sparkContext.setLogLevel("ERROR")

    import tempfile

    from vector_database_spark.api import VectorDatabase
    from vector_database_spark.sources.generators import clusters

    # instrument the freshness protocol (round-14 verdict item 4):
    # count epoch-marker stats (_epoch_token) per serving call — the
    # done-when is ONE marker stat per public search/knn_dot call
    stat_ctr = {"epoch": 0}
    _orig_tok = VectorDatabase._epoch_token

    def _counting_tok(self):
        stat_ctr["epoch"] += 1
        return _orig_tok(self)

    VectorDatabase._epoch_token = _counting_tok

    root = tempfile.mkdtemp(prefix="serve_profile_")
    data = (
        clusters(spark, n=n, dims=dims, n_clusters=24, seed=3)
        .select(
            (F.col("id") % 8).alias("doc_id"),
            F.col("id").alias("text_id"),
            "vector",
        )
        .localCheckpoint()
    )
    q = [float(x) for x in data.where(F.col("text_id") == 7).first()["vector"]]

    # ungrouped jobs submitted inside a traced call (the BSP build's
    # pool threads, the engine's warm-up thread) count as its side jobs
    tracer = Tracer(spark)

    def profile(op, call):
        rows = []
        for _ in range(passes):
            s0 = stat_ctr["epoch"]
            with tracer.span(op) as rec:
                t0 = time.monotonic()
                df = call()
                t1 = time.monotonic()
                _force(df)
                t2 = time.monotonic()
            tracer.collect(rec)
            rows.append(
                {
                    "construct_s": round(t1 - t0, 3),
                    "exec_s": round(t2 - t1, 3),
                    "jobs": rec["jobs"] + rec["side_jobs"],
                    "tasks": int(rec["tasks"]),
                    "executor_run_ms": int(rec["executor_run_ms"]),
                    "executor_cpu_ms": int(rec["executor_cpu_ms"]),
                    "epoch_stats": stat_ctr["epoch"] - s0,
                }
            )
        return rows

    out = {}
    for t in ("bsp", "ivf", "ivfadc", "bq", "mips"):
        vdb = VectorDatabase(
            spark, f"{root}/{t}", index_type=t, n_cells=64,
            local_threshold=65_536, pq_m=4,
        )
        vdb.add_documents(data)
        out[f"search_{t}"] = profile(f"search_{t}", lambda: vdb.search(q, 0.35))
        if t == "mips":
            out["knn_dot_mips"] = profile(
                "knn_dot_mips", lambda: vdb.knn_dot(q, 10, nprobe=8)
            )
    print(json.dumps(out, indent=1))
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
