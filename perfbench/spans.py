"""Spans and Spark counters, read from outside the engine.

A span is one call the benchmark makes into the package (or one Spark
job or streaming micro-batch under it): name, start, end, parent span
and op id.  Spans stay in memory and are written out when the run ends.

Spark counters come from the driver's status store
(``SparkContext.statusStore``), which works with the UI disabled.  Jobs
are attributed to a call by job-id range: the scheduler numbers jobs in
submission order, so the jobs a call launched - from any thread, under
any job group - are exactly the ids handed out while it ran.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

import numpy as np

#: stage counters summed per call; names as in the status store's StageData
STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "inputBytes",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Tracer:
    """Collects spans always and reads Spark's counters when ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.read_s = 0.0  # wall time spent reading counters

    def attach(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        if self.enabled:
            jvm = sc._jvm
            scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def next_job_id(self) -> int:
        """Id the scheduler gives the next submitted job."""
        return int(self._jsc.dagScheduler().nextJobId())

    def add(self, name: str, start: float, end: float, parent: int | None = None, op: str | None = None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent, "op": op})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, op: str | None = None):
        """Time a block as a span; yields a one-item list that receives the span id."""
        out: list[int] = []
        start = time.time()
        try:
            yield out
        finally:
            out.append(self.add(name, start, time.time(), parent, op))

    def jobs(self, first: int, stop: int, parent: int, op: str) -> dict:
        """Counters of jobs ``first .. stop-1``, each added as a child span of ``parent``."""
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        tot.update(jobs=0, stages=0, intervals=[])
        for jid in range(first, stop):
            job = json.loads(self._mapper.writeValueAsString(store.job(jid)))
            start, end = job.get("submissionTime"), job.get("completionTime")
            if start is not None and end is not None:
                self.add(f"job:{jid}", start / 1000.0, end / 1000.0, parent, op)
                tot["intervals"].append((start / 1000.0, end / 1000.0))
            tot["jobs"] += 1
            for sid in job["stageIds"]:
                stage = json.loads(self._mapper.writeValueAsString(store.lastStageAttempt(sid)))
                if stage["status"] == "SKIPPED":
                    continue
                tot["stages"] += 1
                for f in STAGE_FIELDS:
                    tot[f] += stage.get(f) or 0
        self.read_s += time.perf_counter() - t0
        return tot

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) at the highest percentile with >= 10 samples beyond it.

    Below 100 samples that percentile is under the 90th, so the maximum
    is reported instead and the percentile reads 100."""
    xs = sorted(values)
    n = len(xs)
    if n < 100:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fit_cost(samples: list[dict], cores: int) -> dict:
    """Least squares ``wall ~ a*jobs + b*(task_run_s / cores) + c`` over traced samples."""
    if len(samples) < 3:
        return {"s_per_job": 0.0, "task_core_coef": 0.0, "intercept_s": 0.0, "n": len(samples)}
    x = np.array([[s["jobs"], s["task_run_s"] / cores, 1.0] for s in samples])
    y = np.array([s["wall_s"] for s in samples])
    (a, b, c), *_ = np.linalg.lstsq(x, y, rcond=None)
    return {"s_per_job": float(a), "task_core_coef": float(b), "intercept_s": float(c), "n": len(samples)}
