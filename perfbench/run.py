"""Benchmark of the vector engine: one workload per run.

    python3 perfbench/run.py --workload serve|ingest|batch --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The run starts Spark on ``local[nproc]``
through the engine's own ``get_spark``, generates its inputs from the seed,
builds its stores (on serve and ingest with an untimed first call of each
operation), waits for the engine's background warm-up jobs, then runs
closed-loop rounds for ``--seconds`` seconds and checks every result
against an exact oracle. BENCHMARK.json lists serve and batch; ingest runs
on request.

Standard output: report lines (``{"report": ...}``, ``{"trace_overhead":
...}``), then, as the last line, the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")

# name -> unit; every workload reports all of them (see README.md)
END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "mean_ms": "ms",
    "items_per_s": "1/s",
    "store_bytes_per_user_byte": "ratio",
}

PER_LAYER = {
    "api.call_ms": "ms",
    "api.collect_ms": "ms",
    "spark.jobs": "count",
    "spark.side_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_self_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "py.run_ms": "ms",
    "py.init_ms": "ms",
    "py.bytes_sent": "bytes",
    "search.candidate_frac": "ratio",
    "search.selectivity": "ratio",
    "ann.candidate_frac": "ratio",
    "ann.selectivity": "ratio",
    "catalog.tail_rows_p50": "rows",
    "catalog.compactions": "count",
    "catalog.text_bytes": "bytes",
    "catalog.index_bytes": "bytes",
    "index_build.depth": "count",
    "index_build.max_leaf_rows": "rows",
    "dedup.candidate_pairs": "count",
    "dedup.pairs_out": "count",
    "dedup.lsh_precision": "ratio",
}

# per-call span field -> per-layer metric (mean per timed call)
SPAN_LAYER = {
    "call_ms": "api.call_ms",
    "collect_ms": "api.collect_ms",
    "jobs": "spark.jobs",
    "side_jobs": "spark.side_jobs",
    "stages": "spark.stages",
    "tasks": "spark.tasks",
    "driver_self_ms": "spark.driver_self_ms",
    "executor_run_ms": "spark.executor_run_ms",
    "executor_cpu_ms": "spark.executor_cpu_ms",
    "shuffle_write_bytes": "spark.shuffle_write_bytes",
    "spill_bytes": "spark.spill_bytes",
    "py_run_ms": "py.run_ms",
    "py_init_ms": "py.init_ms",
    "py_bytes_sent": "py.bytes_sent",
}

# operation -> throughput name in the per-op report
THROUGHPUT = {
    "build": "build_vectors_per_s",
    "knn_graph": "knn_graph_vectors_per_s",
    "dedup": "dedup_docs_per_s",
    "rollup": "rollup_events_per_s",
}


class Runner:
    """Times calls, records their spans and counts failures."""

    def __init__(self, spark, seed: int, root: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.root = root
        self.tracer = tracer
        self.samples: dict[str, list[dict]] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}

    def measure(self, op: str, call, items: int, check=None) -> None:
        """Time ``call()`` plus the collect of the DataFrame it returns.

        ``check(rows)`` runs after the clock stops; a call that raises or
        fails its check counts as failed."""
        self.attempted += 1
        span = self.tracer.span(op) if self.tracer else nullcontext()
        try:
            with span as rec:
                t0 = time.perf_counter()
                df = call()
                t1 = time.perf_counter()
                rows = df.collect() if df is not None else None
                t2 = time.perf_counter()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return
        sample = {
            "ms": (t2 - t0) * 1e3,
            "call_ms": (t1 - t0) * 1e3,
            "collect_ms": (t2 - t1) * 1e3,
            "items": items,
        }
        if rec is not None:
            sample.update(self.tracer.collect(rec))
        ok = bool(check(rows)) if check else True
        if not ok:
            print(f"perfbench: {op} returned a wrong result", file=sys.stderr)
            self.failed += 1
        self.checks[f"{op}_results"] = self.checks.get(f"{op}_results", True) and ok
        self.samples.setdefault(op, []).append(sample)

    def check(self, name: str, ok: bool, ops: tuple[str, ...]) -> None:
        """An end-of-run check; failing it fails every call of ``ops``."""
        self.checks[name] = bool(ok)
        if not ok:
            print(f"perfbench: check {name} failed", file=sys.stderr)
            self.failed += sum(len(self.samples.get(op, [])) for op in ops)


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs and min(xs) > 0 else 0.0


def tail(ms: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least 10 samples beyond it, and which
    percentile that is; (None, None) below 11 samples."""
    n = len(ms)
    if n < 11:
        return None, None
    return sorted(ms)[n - 11], 100.0 * (n - 10) / n


def op_report(samples: dict[str, list[dict]]) -> dict:
    """The per-operation figures: latency, tail and throughput by name."""
    out = {}
    for op, ss in samples.items():
        ms = [s["ms"] for s in ss]
        t, pct = tail(ms)
        rec = {
            "n": len(ms),
            "samples_ms": ms,
            f"{op}_p50_ms": statistics.median(ms),
            f"{op}_tail_ms": t,
            "tail_percentile": pct,
            "mean_ms": statistics.fmean(ms),
            "items_per_s": sum(s["items"] for s in ss) / (sum(ms) / 1e3),
        }
        if op in THROUGHPUT:
            rec[THROUGHPUT[op]] = rec["items_per_s"]
        out[op] = rec
    return out


def end_to_end(wl, samples, setup_s: float) -> dict[str, float]:
    per_op = [samples.get(op, []) for op in wl.ops]
    if not all(per_op):
        return dict.fromkeys(END_TO_END, 0.0) | {"setup_s": setup_s}
    ms = [[s["ms"] for s in ss] for ss in per_op]
    return {
        "setup_s": setup_s,
        "p50_ms": geomean([statistics.median(m) for m in ms]),
        "mean_ms": geomean([statistics.fmean(m) for m in ms]),
        "items_per_s": geomean(
            [sum(s["items"] for s in ss) / (sum(m) / 1e3) for ss, m in zip(per_op, ms)]
        ),
        "store_bytes_per_user_byte": wl.store_bytes_per_user_byte(),
    }


def per_layer(samples, counters: dict) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer metrics (mean per timed call, plus the workload's layer
    counters; 0 where the workload does not reach the layer) and the same
    span fields per operation, named ``<layer>.<op>.<metric>`` (medians)."""
    calls = [s for ss in samples.values() for s in ss]
    out = dict.fromkeys(PER_LAYER, 0.0)
    for field, name in SPAN_LAYER.items():
        if calls:
            out[name] = statistics.fmean(s.get(field, 0.0) for s in calls)
    out.update(counters)
    by_op = {}
    for op, ss in samples.items():
        for field, name in SPAN_LAYER.items():
            layer, metric = name.split(".", 1)
            by_op[f"{layer}.{op}.{metric}"] = statistics.median(s.get(field, 0.0) for s in ss)
    return out, by_op


def wait_for_engine_warmup(spark, timeout_s: float = 120.0) -> None:
    """Let the warm-up thread ``get_spark`` starts finish, then wait until no
    Spark job is active, so its jobs never overlap a timed call."""
    deadline = time.monotonic() + timeout_s
    for t in threading.enumerate():
        target = getattr(t, "_target", None)
        if getattr(target, "__module__", "") == "vector_database_spark.session":
            t.join(max(0.0, deadline - time.monotonic()))
    tracker = spark.sparkContext.statusTracker()
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)


def cpu_ticks() -> tuple[int, int] | None:
    """(all, steal) CPU ticks of the host from /proc/stat, or None where
    there is no such file."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(f), f[7] if len(f) > 7 else 0


def steal_frac(a, b) -> float | None:
    """Share of CPU time the hypervisor took from this machine between two
    ``cpu_ticks`` readings: a shared host's load, which slows every call."""
    if a is None or b is None or b[0] <= a[0]:
        return None
    return (b[1] - a[1]) / (b[0] - a[0])


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 root: str, sizes: dict, t0: float) -> dict:
    """Set up, time and check one workload in an existing session.

    ``t0`` is the ``perf_counter`` reading at which set-up began."""
    import workloads
    from tracing import Tracer

    tracer = Tracer(spark) if trace else None
    runner = Runner(spark, seed, root, tracer)
    wl = workloads.WORKLOADS[name](runner, sizes)
    phases = {"session_s": time.perf_counter() - t0}
    # set-up and the untimed first calls overlap the engine's own warm-up
    # thread; no timed call starts before that thread's jobs are done
    for phase, fn in (
        ("stores_s", wl.setup),
        ("first_calls_s", wl.warmup),
        ("engine_warmup_wait_s", lambda: wait_for_engine_warmup(spark)),
    ):
        p0 = time.perf_counter()
        fn()
        phases[phase] = time.perf_counter() - p0
    start = time.perf_counter()
    setup_s = start - t0
    ticks = cpu_ticks()
    rounds = 0
    while True:
        wl.round()
        rounds += 1
        if time.perf_counter() - start >= seconds:
            break
    measured_s = time.perf_counter() - start
    steal = steal_frac(ticks, cpu_ticks())
    p0 = time.perf_counter()
    wl.finish()
    phases["checks_s"] = time.perf_counter() - p0
    e2e = end_to_end(wl, runner.samples, setup_s)
    layers, by_op = per_layer(runner.samples, wl.layer_counters() if trace else {})
    return {
        "workload": name,
        "correct": runner.failed == 0 and all(runner.checks.values()),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "checks": runner.checks,
        "rounds": rounds,
        "measured_s": measured_s,
        "host_steal_frac": steal,
        "e2e": e2e,
        "per_layer": layers,
        "per_layer_by_op": by_op if trace else {},
        "ops": op_report(runner.samples),
        "info": wl.info,
        "setup_phases": phases,
    }


def bench_hash() -> str:
    """SHA-256 over the benchmark's own source files."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(HERE):
        dirs[:] = sorted(x for x in dirs if x not in ("results", ".work", "__pycache__"))
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, HERE).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def provenance(master: str, seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "seed": seed,
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS"),
        "OPENBLAS_NUM_THREADS": os.environ.get("OPENBLAS_NUM_THREADS"),
        "bench_sha256": bench_hash(),
    }


def start_spark(work: str, nproc: int):
    """The engine's session on ``local[nproc]``, with every scratch file of
    Spark, the JVM and the Python workers kept under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the Spark launcher and driver): temp files here, and no
    # performance-data file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"))
    )
    from vector_database_spark import get_spark

    spark = get_spark(
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it ran in to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def overhead(name: str, seed: int, traced: dict) -> dict | None:
    """Traced/untraced ratio of each end-to-end metric, against the latest
    untraced run of this workload and seed in this checkout."""
    path = os.path.join(RESULTS, f"{name}-trace0-seed{seed}.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)["e2e"]
    return {
        m: traced[m] / base[m] if base.get(m) else None for m in END_TO_END
    }


def result_line(res: dict, trace: bool) -> str:
    """The result line: end-to-end metrics untraced, per-layer traced."""
    names, values = (PER_LAYER, res["per_layer"]) if trace else (END_TO_END, res["e2e"])
    return json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m: {"value": values[m], "unit": u} for m, u in names.items()},
    })


def main(argv=None) -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "vector_database_spark")):
        print(
            "perfbench: no vector_database_spark package next to perfbench/; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, REPO)
    import workloads

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        spark = start_spark(work, nproc)
        try:
            res = run_workload(
                spark, args.workload, args.seed, args.seconds, bool(args.trace),
                os.path.join(work, "stores"), workloads.FULL, t0,
            )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    res["provenance"] = provenance(f"local[{nproc}]", args.seed)
    res["wall_s"] = time.perf_counter() - t0
    os.makedirs(RESULTS, exist_ok=True)
    with open(
        os.path.join(RESULTS, f"{args.workload}-trace{args.trace}-seed{args.seed}.json"), "w"
    ) as fh:
        json.dump(res, fh, indent=1)
    report = {k: res[k] for k in ("workload", "provenance", "wall_s", "setup_phases", "checks", "rounds", "measured_s", "host_steal_frac", "info", "ops")}
    report["e2e"] = res["e2e"]
    if args.trace:
        report["per_layer_by_op"] = res["per_layer_by_op"]
    print(json.dumps({"report": report}))
    if args.trace:
        print(json.dumps({"trace_overhead": overhead(args.workload, args.seed, res["e2e"])}))
    print(result_line(res, bool(args.trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
