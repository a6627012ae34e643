"""Smoke test of the benchmark itself: every workload at a tiny size, in one
Spark session, plus the tracing and checkout guards.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer, parse_sql_metric, union_ms  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = run.start_spark(
        str(tmp_path_factory.mktemp("spark")), min(4, len(os.sched_getaffinity(0)))
    )
    run.wait_for_engine_warmup(session)
    yield session
    run.stop_spark(session)


def test_declared_metrics_match_the_harness():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    # `ingest` runs on request only; it does not fit the benchmark's time budget
    assert [w["name"] for w in bench["workloads"]] == ["serve", "batch"]
    assert set(workloads.WORKLOADS) == {"serve", "ingest", "batch"}


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_workload_emits_every_metric_and_passes_its_checks(spark, tmp_path, name):
    res = run.run_workload(
        spark, name, seed=3, seconds=0.1, trace=True, root=str(tmp_path),
        sizes=workloads.TINY, t0=time.perf_counter(),
    )
    assert res["correct"] and res["failed"] == 0, res["checks"]
    assert res["attempted"] >= len(workloads.WORKLOADS[name].ops)
    assert all(res["checks"].values()) and res["checks"]
    for trace, names in ((False, run.END_TO_END), (True, run.PER_LAYER)):
        line = json.loads(run.result_line(res, trace))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(names)
        for m, v in line["metrics"].items():
            assert v["unit"] == names[m]
            assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
    assert all(res["e2e"][m] > 0 for m in run.END_TO_END)
    # every timed call ran at least one Spark job of its own group
    assert res["per_layer"]["spark.jobs"] >= 1


def test_concurrent_background_jobs_stay_out_of_a_span(spark):
    tracer = Tracer(spark)

    def probe():
        with tracer.span("probe") as rec:
            spark.range(1000).selectExpr("sum(id)").collect()
            spark.range(1000).selectExpr("max(id)").collect()
        return tracer.collect(rec)

    alone = probe()
    stop = threading.Event()

    def background():
        spark.sparkContext.setJobGroup("background", "background", False)
        while not stop.is_set():
            spark.range(100_000).selectExpr("sum(id)").collect()

    t = threading.Thread(target=background)
    t.start()
    try:
        time.sleep(1.0)
        busy = probe()
        time.sleep(0.5)
    finally:
        stop.set()
        t.join(60)
    assert not t.is_alive()
    mine = set(tracer.job_ids(busy["group"]))
    bg = set(tracer.job_ids("background"))
    # the background thread ran jobs before and after the span's first job
    assert min(bg) < min(mine) < max(bg)
    assert not bg & mine
    assert busy["jobs"] == alone["jobs"] >= 2
    assert busy["stages"] == alone["stages"]
    assert busy["side_jobs"] == alone["side_jobs"] == 0


def test_jobs_of_a_thread_started_inside_a_span_are_side_jobs(spark):
    tracer = Tracer(spark)
    with tracer.span("side") as rec:
        t = threading.Thread(
            target=lambda: spark.range(1000).selectExpr("sum(id)").collect()
        )
        t.start()
        t.join(60)
    tracer.collect(rec)
    assert not t.is_alive()
    assert rec["jobs"] == 0 and rec["side_jobs"] >= 1 and rec["stages"] >= 1


def test_sql_metric_parsing_and_interval_union():
    assert parse_sql_metric("0 ms") == 0.0
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n2.1 s (469 ms, 546 ms, 551 ms (stage 57.0: task 210))"
    ) == pytest.approx(2100.0)
    assert parse_sql_metric("total (min, med, max)\n1.5 KiB (1 B, 2 B, 3 B)") == 1536.0
    assert union_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 18 + 5


def test_refuses_a_checkout_without_the_engine(tmp_path):
    shutil.copytree(
        HERE, tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("results", ".work", "__pycache__"),
    )
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
