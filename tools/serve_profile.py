"""Profile the facade serving paths: per warm call, the wall time split
into plan construction (driver side) and execution, the py4j calls of
each phase, and what the call ran on the cluster, read from the Spark
status store under a job group per call: jobs, tasks, and executor run
time beside executor CPU time.

Job and py4j counts are the host-immune signal: a Spark job costs its
scheduling round trip whatever the host, and each py4j call is one
driver-to-JVM round trip of plan building (object releases, sent
whenever Python's garbage collector runs, are not counted). Wall times are only
comparable on one host, so the output records the core count.

The default shape is the benchmark's serve workload: 6000 x 32 rows in
8 documents, ``n_cells=16``, ``knn_dot(k=10, nprobe=2)``, one query at a
ball radius holding 30 rows, on ``bsp``/``ivf`` ``search`` and ``mips``
``knn_dot``.

Usage: python tools/serve_profile.py [--n N] [--dims D] [--calls C]
       [--json OUT]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from perfbench.tracing import Tracer
from vector_database_spark import get_spark
from vector_database_spark.api import VectorDatabase
from vector_database_spark.session import default_cpus
from vector_database_spark.sources.generators import clusters

# py4j round trips of the calling process, counted by the one method
# every driver-to-JVM command goes through. Object-release commands
# ("m\nd\n...") are left out: Python's garbage collector sends them
# for objects of earlier calls whenever it runs, so they would make
# the count vary from run to run.
_PY4J = {"calls": 0}
_send = ClientServerConnection.send_command


def _counting_send(self, command):
    if not command.startswith("m\nd\n"):
        _PY4J["calls"] += 1
    return _send(self, command)


ClientServerConnection.send_command = _counting_send


def _force(df):
    df.collect()  # as the benchmark's serve workload does


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, default=6_000)
    ap.add_argument("--dims", type=int, default=32)
    ap.add_argument("--cells", type=int, default=16)
    ap.add_argument("--nprobe", type=int, default=2)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--calls", type=int, default=20, help="warm calls per op")
    ap.add_argument("--json", help="also write the summary to this file")
    a = ap.parse_args()

    spark = get_spark(
        app_name="serve-profile", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    data = (
        clusters(spark, n=a.n, dims=a.dims, n_clusters=24, seed=3)
        .select(
            (F.col("id") % 8).alias("doc_id"),
            F.col("id").alias("text_id"),
            "vector",
        )
        .localCheckpoint()
    )
    rows = data.select("vector").collect()
    X = np.array([r.vector for r in rows], dtype=np.float64)
    q = X[7] + 0.01
    domain = float(np.sort(np.linalg.norm(X - q, axis=1))[29]) + 1e-9
    q = q.tolist()

    tracer = Tracer(spark)

    def profile(op, call):
        call()  # warm: caches, codegen
        recs = []
        for _ in range(a.calls):
            with tracer.span(op) as rec:
                p0 = _PY4J["calls"]
                t0 = time.perf_counter()
                df = call()
                t1 = time.perf_counter()
                p1 = _PY4J["calls"]
                _force(df)
                t2 = time.perf_counter()
                p2 = _PY4J["calls"]
            tracer.collect(rec)
            recs.append(
                {
                    "construct_ms": (t1 - t0) * 1e3,
                    "exec_ms": (t2 - t1) * 1e3,
                    "py4j_construct": p1 - p0,
                    "py4j_exec": p2 - p1,
                    "jobs": rec["jobs"] + rec["side_jobs"],
                    "tasks": rec["tasks"],
                    "executor_run_ms": rec["executor_run_ms"],
                    "executor_cpu_ms": rec["executor_cpu_ms"],
                }
            )
        return {
            f: round(statistics.median(r[f] for r in recs), 1)
            for f in recs[0]
        }

    root = tempfile.mkdtemp(prefix="serve_profile_")
    stores = {}
    for t in ("bsp", "ivf", "mips"):
        stores[t] = VectorDatabase(
            spark, f"{root}/{t}", index_type=t, n_cells=a.cells
        )
        stores[t].add_documents(data)
    ops = {
        "search_bsp": lambda: stores["bsp"].search(q, domain),
        "search_ivf": lambda: stores["ivf"].search(q, domain),
        "knn_dot": lambda: stores["mips"].knn_dot(q, a.k, nprobe=a.nprobe),
    }
    out = {
        "shape": {
            "n": a.n, "dims": a.dims, "n_cells": a.cells,
            "knn_dot_nprobe": a.nprobe, "k": a.k, "calls": a.calls,
        },
        "cores": {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_master": spark.sparkContext.master,
            "default_cpus": default_cpus(),
        },
        "medians": {op: profile(op, call) for op, call in ops.items()},
    }
    text = json.dumps(out, indent=1)
    print(text)
    if a.json:
        with open(a.json, "w") as f:
            f.write(text + "\n")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
