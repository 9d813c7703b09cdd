"""Spans around the benchmark's calls into each engine layer, with the
Spark cost of each span read from outside the engine.

Attribution reads Spark's status store through py4j
(``sc._jsc.sc().statusStore()``): after a span ends, the listener bus is
drained and every job submitted since the last read is attributed to the
span whose time window holds its submission. Job groups cannot do this,
because the engine's commit pool threads do not inherit local
properties. The store keeps only the last 1000 jobs, so it is read after
every span. A lazy call gets its build time only; the cost of the action
that runs it stays with the action's span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


class Tracer:
    """Collects ``{span name: [per-call measures]}``. Disabled, ``span``
    only yields, so the untraced run pays nothing."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.calls: dict[str, list[dict]] = {}
        self.overhead_s = 0.0  # spent draining the listener bus and reading the store
        if enabled:
            self._bind(spark)

    def _bind(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._empty = sc._jvm.java.util.ArrayList()
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self._drain_new_jobs()  # everything before the first span is set-up

    def _drain_new_jobs(self) -> list:
        """Jobs not read before, newest first (the store's order)."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(self._empty)
        new = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self._seen_jobs:
                break
            self._seen_jobs.add(jid)
            new.append(j)
        return new

    def _job_cost(self, job) -> tuple[float, float, float, float]:
        """(start s, end s, executor cpu s, shuffle write bytes)."""
        sub, done = job.submissionTime(), job.completionTime()
        t0 = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
        t1 = done.get().getTime() / 1000.0 if done.isDefined() else t0
        cpu = shuffle = 0.0
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage the store never recorded
                continue
            cpu += st.executorCpuTime() / 1e9
            shuffle += st.shuffleWriteBytes()
        return t0, t1, cpu, shuffle

    def add(self, name: str, **values: float) -> None:
        """Attach counts measured by the benchmark to the last call of ``name``."""
        if self.enabled:
            self.calls[name][-1].update(values)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        yield
        t1 = time.time()
        busy, cpu, shuffle, n = [], 0.0, 0.0, 0
        t_read = time.perf_counter()
        for job in self._drain_new_jobs():
            j0, j1, c, s = self._job_cost(job)
            if j0 < t0 - 0.005:  # submitted before the span: not its cost
                continue
            n += 1
            busy.append((max(j0, t0), min(j1, t1)))
            cpu += c
            shuffle += s
        job_busy = _union_length(busy)
        self.overhead_s += time.perf_counter() - t_read
        self.calls.setdefault(name, []).append(
            {
                "wall_s": t1 - t0,
                "jobs": n,
                "job_busy_s": job_busy,
                "driver_only_s": (t1 - t0) - job_busy,
                "executor_cpu_s": cpu,
                "shuffle_write_mb": shuffle / 2**20,
            }
        )

    def means(self) -> dict[str, float]:
        """``<span>.<measure>`` -> mean per call."""
        out = {}
        for name, calls in self.calls.items():
            for measure in calls[0]:
                vals = [c[measure] for c in calls if measure in c]
                out[f"{name}.{measure}"] = sum(vals) / len(vals)
        return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    rank = max(1, -(-len(s) * q // 100))
    return s[int(rank) - 1]


def tail(values: list[float]) -> tuple[float, str]:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it, and its label. Below 20 samples no percentile at or above the
    median qualifies, and the maximum (``p100``) is reported instead."""
    n = len(values)
    fits = [q for q in (50, 75, 90, 95, 99) if n * (100 - q) >= 1000]
    if not fits:
        return max(values), "p100"
    return percentile(values, fits[-1]), f"p{fits[-1]}"
