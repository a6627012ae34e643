"""SparkSession factory with scale-oriented defaults.

Defaults target the test rig (local[32], 128 GiB) but every knob is the
one you'd set on a real cluster: AQE on (runtime join re-planning, skew
splitting, partition coalescing), Arrow on (pandas UDF transfer),
sensible shuffle parallelism, dynamic partition overwrite (per-document
index upsert without clobbering sibling partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # Runtime re-planning: join strategy switch, skew-join splitting and
    # post-shuffle coalescing all matter at 100 TB and cost nothing locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for pandas UDFs / applyInPandas (local subtree builds,
    # multimodal decode) — 10-100x over row-at-a-time Python.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Per-document index refresh = overwrite only the doc_id partitions
    # present in the written DataFrame (reference: IndexDocument's
    # delete+insert swap, DDL.sql:397-418).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Broadcast generously: per-level split tables and per-doc indexes are
    # small; shuffling the big points table instead would dominate cost.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    # PySpark caches this flag at the process's first API call, which
    # races `_warm_engine`'s thread: set, call-site capture is off in
    # every process instead of on or off at random.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "vector-database-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    `master` defaults to ``local[default_cpus()]``.
    `shuffle_partitions` defaults to the core count — at cluster scale
    you'd size this to ~2-3x total cores or rely on AQE coalescing.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Make this package importable by executor-side Python workers even
    # when the driver script runs from another directory (local mode
    # workers inherit PYTHONPATH, not the driver's sys.path).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONF.items():
        builder = builder.config(k, v)
    # local mode: driver JVM == the only executor; the 1g default heap
    # cannot hold per-level build caches + shuffle at probe scale. Only
    # effective at JVM launch (ignored on session reuse), overridable.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    )
    builder = builder.config("spark.driver.maxResultSize", "4g")
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warm_engine(spark)
    return spark


def _warm_engine(spark: SparkSession) -> None:
    """Warm the engine's hot paths in a background thread at session
    bring-up: a 64-row index build exercises the level-decisions and
    routing plan shapes (whole-stage codegen compiles once per plan
    shape and is cached), the applyInPandas subtree path, and — the
    big one — forks the per-core Python worker pool and imports
    pandas+numpy in each (measured ~2-3 s for 32 workers; workers are
    reused afterwards, `spark.python.worker.reuse` default). The first
    *real* build/search then runs on a hot engine instead of paying
    compilation + worker bring-up inside its own wall time. Runs once
    per session; best-effort — a failure only forfeits the overlap."""
    if getattr(spark, "_vds_engine_warm", False):
        return
    spark._vds_engine_warm = True
    import threading

    def _run():
        try:
            from pyspark.sql import functions as F

            from vector_database_spark.operators.index_build import build_index

            df = spark.range(64).select(
                "id",
                F.array(
                    *[
                        ((F.col("id") * (i + 3)) % 17).cast("double")
                        for i in range(8)
                    ]
                ).alias("vector"),
            )
            build_index(df, local_threshold=8).count()
        except Exception:
            pass

    threading.Thread(target=_run, daemon=True).start()
