"""Per-call attribution of Spark work, read from outside the engine.

Every traced call runs under its own Spark job group, set on the calling
thread. After the call, the group's jobs are mapped to their stages in the
Spark status store (scheduler layer: jobs, stages, tasks, executor time,
shuffle and spill) and to the SQL executions that ran them, whose
Python-worker node metrics give the kernel layer. Jobs that other threads
start meanwhile (e.g. the engine's warm-up thread) carry no or another
group and are never counted as the call's jobs.

A thread the engine starts inside a call does not inherit the group: the
BSP build submits its local-subtree jobs from a thread pool. Such jobs are
the call's *side jobs*: jobs without any group submitted while the call
ran. Their stages and Python-worker metrics count toward the call. This is
sound only while nothing else submits ungrouped jobs, so the benchmark
starts timed calls after the engine's warm-up thread has finished.

Nothing here imports or patches the engine; it only reads what Spark
records for every application.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

_TIME_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_SIZE_UNITS = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}

# SQL metric name on MapInPandas / FlatMapGroupsInPandas / ArrowEvalPython
# nodes -> field name in a span's record
PY_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_bytes_sent",
}

# fields every collected span carries (all additive across calls)
SPAN_FIELDS = (
    "jobs",
    "side_jobs",
    "stages",
    "tasks",
    "driver_self_ms",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    *PY_METRICS.values(),
)


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric value in ms (timings) or bytes (sizes).

    Spark renders either a bare total (``"0 ms"``) or a header line plus
    ``"<total> <unit> (<min>, <med>, <max> ...)"``; the total is read.
    """
    line = text.strip().splitlines()[-1]
    num, unit = line.replace(",", "").split()[:2]
    scale = _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit))
    if scale is None:
        raise ValueError(f"unknown SQL metric unit in {text!r}")
    return float(num) * scale


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Opens one job group per traced call and reads back what it ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._stages = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        self._n = 0
        self._ungrouped_seen = set(self._ungrouped())
        # executions up to the newest one so far can hold no traced job
        execs = self._sql.executionsList()
        n = execs.size()
        self._last_exec = int(execs.apply(n - 1).executionId()) if n else -1

    @contextmanager
    def span(self, op: str):
        """Run the body under a fresh job group; yields the span record."""
        self._n += 1
        rec = {"op": op, "group": f"perfbench-{op}-{self._n}"}
        self.sc.setJobGroup(rec["group"], f"perfbench {op}", False)
        t0 = time.time()
        try:
            yield rec
        finally:
            rec["wall_ms"] = (t0 * 1e3, time.time() * 1e3)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> list[int]:
        return sorted(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group))

    def _ungrouped(self) -> list[int]:
        return [int(j) for j in self.sc.statusTracker().getJobIdsForGroup(None)]

    def side_jobs(self, lo_ms: float, hi_ms: float) -> list[int]:
        """Jobs without a group submitted inside ``[lo_ms, hi_ms]``."""
        new = [j for j in self._ungrouped() if j not in self._ungrouped_seen]
        self._ungrouped_seen.update(new)
        out = []
        for j in new:
            t = self._stages.job(j).submissionTime()
            if t.isDefined() and lo_ms <= t.get().getTime() <= hi_ms:
                out.append(j)
        return sorted(out)

    def collect(self, rec: dict) -> dict:
        """Fill ``rec`` with the scheduler and Python-worker fields of its
        group (see `SPAN_FIELDS`) and return it."""
        # the status stores are fed by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        lo, hi = rec["wall_ms"]
        own = self.job_ids(rec["group"])
        side = self.side_jobs(lo, hi)
        jobs = own + side
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(SPAN_FIELDS, 0.0)
        out["jobs"] = len(own)
        out["side_jobs"] = len(side)
        intervals = []
        for sid in sorted(stage_ids):
            attempts = self._stages.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["executor_run_ms"] += s.executorRunTime()
                out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                sub, done = s.submissionTime(), s.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (float(sub.get().getTime()), float(done.get().getTime()))
                    )
        out["driver_self_ms"] = (hi - lo) - union_ms(intervals, lo, hi)
        out.update(self._python_metrics(set(jobs)))
        rec.update(out)
        return rec

    def _python_metrics(self, jobs: set[int]) -> dict:
        """Python-worker node metrics of the SQL executions that ran ``jobs``."""
        out = dict.fromkeys(PY_METRICS.values(), 0.0)
        execs = self._sql.executionsList()
        newest = self._last_exec
        # executions are listed by id; only those newer than the previous
        # collect can hold this call's jobs
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            eid = int(e.executionId())
            if eid <= self._last_exec:
                break
            newest = max(newest, eid)
            if not any(e.jobs().contains(j) for j in jobs):
                continue
            values = self._sql.executionMetrics(eid)
            seen: set[int] = set()
            # one round trip for all of the plan's metric descriptors:
            # "SQLPlanMetric(<name>,<accumulatorId>,<type>)"
            for desc in e.metrics().mkString("\u0001").split("\u0001"):
                name, acc, _ = desc[len("SQLPlanMetric(") : -1].rsplit(",", 2)
                field = PY_METRICS.get(name)
                if field is None or int(acc) in seen:
                    continue
                seen.add(int(acc))
                v = values.get(int(acc))
                if v.isDefined():
                    out[field] += parse_sql_metric(v.get())
        self._last_exec = newest
        return out
