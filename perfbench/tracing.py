"""Tracing for the per-layer run: in-memory spans and Spark's status store.

Spans are recorded by the benchmark around its calls into each layer's
public functions; each layer runs under its own Spark job group, and the
job group's jobs and stages are read back from Spark's status store.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Spans:
    """Span records (name, start, end, parent) kept in memory until
    ``write``; start/end are seconds on the monotonic clock."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.records.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh, indent=1)


class SparkStatus:
    """Per-job-group totals read from the Spark application's status store.

    A stage counts once, in the first group that ran it: a later job
    that reuses a shuffle lists the stage again but skips it."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen_stages: set[int] = set()
        gw = self._sc._gateway
        self._max_q = gw.new_array(gw.jvm.double, 1)
        self._max_q[0] = 1.0

    @contextmanager
    def group(self, name: str):
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def totals(self, name: str) -> dict[str, float]:
        """Jobs, stages, tasks, executor time and bytes of job group
        ``name`` (waits for the listener bus to deliver its events)."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        out = dict.fromkeys(
            (
                "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                "input_bytes", "output_bytes", "shuffle_write_bytes",
                "spill_bytes", "max_task_s",
            ),
            0.0,
        )
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or group.get() != name:
                continue
            out["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                self._add_stage(int(ids.apply(k)), out)
        return out

    def _add_stage(self, sid: int, out: dict[str, float]) -> None:
        if sid in self._seen_stages:
            return
        stage = self._store.lastStageAttempt(sid)
        if stage.status().toString() == "SKIPPED":
            return
        self._seen_stages.add(sid)
        out["stages"] += 1
        out["tasks"] += stage.numTasks()
        out["run_s"] += stage.executorRunTime() / 1e3
        out["cpu_s"] += stage.executorCpuTime() / 1e9
        out["gc_s"] += stage.jvmGcTime() / 1e3
        out["input_bytes"] += stage.inputBytes()
        out["output_bytes"] += stage.outputBytes()
        out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
        out["spill_bytes"] += stage.diskBytesSpilled()
        summary = self._store.taskSummary(sid, stage.attemptId(), self._max_q)
        if summary.isDefined():
            longest = summary.get().executorRunTime().apply(0) / 1e3
            out["max_task_s"] = max(out["max_task_s"], longest)
