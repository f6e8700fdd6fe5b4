"""Per-layer spans read from Spark's status store.

A span wraps one layer call from the benchmark: it sets a named Spark
job group (visible in logs and event logs), times the call, and then
reads the metrics of every job the call submitted from the driver's
``AppStatusStore`` over py4j. This works with ``spark.ui.enabled=false``.

Jobs are attributed by job-id range, not by job group.
``materialize.write_graph`` submits its table writes from a Python
``ThreadPoolExecutor``, and those threads do not inherit the caller's
job group. Layers run one at a time from one client thread, so the jobs
that start between a span's entry and exit belong to that span.

Readout recipe (Spark 4.1):

- ``sc._jsc.sc().listenerBus().waitUntilEmpty()`` so the status
  listener has processed every job and stage end event;
- ``store.jobsList(None)`` lists jobs newest first, so its head gives
  the last job id before and after the call;
- ``store.job(j).stageIds()`` gives the stage ids of each job;
- ``store.lastStageAttempt(s)`` gives ``executorRunTime`` (ms),
  ``shuffleReadBytes``, ``shuffleWriteBytes``, ``numFailedTasks``.
  Stages a job skipped (shuffle output reused) were never attempted and
  raise, so they are left out.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


class Tracer:
    """Collects one record per layer name; repeated spans of the same
    layer (e.g. one per search query) add up."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.cores = cores
        self.layers: dict[str, dict[str, float]] = {}
        self.readout_s = 0.0

    def _settle(self):
        self.jsc.listenerBus().waitUntilEmpty()
        return self.jsc.statusStore()

    def _last_job(self, store) -> int:
        jobs = store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    @contextmanager
    def span(self, layer: str):
        t_read = time.perf_counter()
        before = self._last_job(self._settle())
        self.readout_s += time.perf_counter() - t_read
        self.sc.setJobGroup(layer, layer)
        out: dict[str, int] = {}
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            wall = time.perf_counter() - t0
            self.sc._jsc.clearJobGroup()
            t_read = time.perf_counter()
            self._record(layer, wall, before, out.get("rows_out"))
            self.readout_s += time.perf_counter() - t_read

    def _record(self, layer: str, wall: float, before: int,
                rows_out: int | None) -> None:
        store = self._settle()
        jobs = range(before + 1, self._last_job(store) + 1)
        stages: set[int] = set()
        for j in jobs:
            ids = store.job(j).stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        task_ms = rd = wr = failed = 0
        ran = 0
        for s in stages:
            try:
                st = store.lastStageAttempt(s)
            except Py4JJavaError:  # a skipped stage was never attempted
                continue
            ran += 1
            task_ms += st.executorRunTime()
            rd += st.shuffleReadBytes()
            wr += st.shuffleWriteBytes()
            failed += st.numFailedTasks()
        rec = self.layers.setdefault(layer, {
            "wall_s": 0.0, "task_s": 0.0, "jobs": 0, "stages": 0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "failed_tasks": 0})
        rec["wall_s"] += wall
        rec["task_s"] += task_ms / 1000.0
        rec["jobs"] += len(jobs)
        rec["stages"] += ran
        rec["shuffle_read_mb"] += rd / MB
        rec["shuffle_write_mb"] += wr / MB
        rec["failed_tasks"] += failed
        if rows_out is not None:
            rec["rows_out"] = rec.get("rows_out", 0) + rows_out

    def metrics(self) -> dict[str, float]:
        """Flat ``<layer>.<metric>`` map, with busy_share derived."""
        out: dict[str, float] = {}
        for layer, rec in self.layers.items():
            rec = dict(rec)
            rec["busy_share"] = (rec["task_s"] / (rec["wall_s"] * self.cores)
                                 if rec["wall_s"] > 0 else 0.0)
            for k, v in rec.items():
                out[f"{layer}.{k}"] = v
        return out
