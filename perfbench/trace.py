"""Spans around the benchmark's calls into each layer, and Spark's own
per-stage statistics read from its status store.

Nothing here is active in an end-to-end run: workloads only create a
:class:`Tracer` and a :class:`StageDeltas` when ``--trace 1`` is given.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

MB = 1 << 20


class Tracer:
    """In-memory spans ``(id, name, start, end, parent, op)``; written once
    by the caller at exit."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per layer: a span's duration minus the part of
        it its children cover (children run sequentially, so their
        durations add).  The layer is the span name's first component."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


class StageDeltas:
    """Stages and jobs that finished since the previous call, summed.

    Reads ``AppStatusStore.stageList`` / ``jobsList`` (the store behind the
    Spark UI, live even with ``spark.ui.enabled=false``) and serializes the
    whole list to JSON in one JVM call, after draining the listener bus so
    every finished stage is visible."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._default4 = getattr(self._store, "stageList$default$4")()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self.cores = sc.defaultParallelism
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.delta(0.0, 0.0)  # everything before now is history

    def _fetch(self):
        self._sc.listenerBus().waitUntilEmpty()
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._default4, None)
            )
        )
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        return stages, jobs

    def delta(self, t0: float, t1: float) -> dict[str, float]:
        """Sums over stages that completed or failed since the last call,
        plus ``idle_s``: the part of the wall-clock window ``[t0, t1]``
        (``time.time()`` seconds) in which none of them was running."""
        stages, jobs = self._fetch()
        new = []
        for s in stages:
            key = (s["stageId"], s["attemptId"])
            if s["status"] in ("COMPLETE", "FAILED") and key not in self._seen_stages:
                self._seen_stages.add(key)
                new.append(s)
        n_jobs = 0
        for j in jobs:
            if j["status"] in ("SUCCEEDED", "FAILED") and j["jobId"] not in self._seen_jobs:
                self._seen_jobs.add(j["jobId"])
                n_jobs += 1
        out = {
            "jobs": n_jobs,
            "stages": len(new),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in new),
            "failed_tasks": sum(s["numFailedTasks"] for s in new),
            "executor_run_s": sum(s["executorRunTime"] for s in new) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in new) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in new) / 1e3,
            "input_mb": sum(s["inputBytes"] for s in new) / MB,
            "output_mb": sum(s["outputBytes"] for s in new) / MB,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in new) / MB,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in new) / MB,
            "spill_mb": sum(s["diskBytesSpilled"] for s in new) / MB,
        }
        wall = max(0.0, t1 - t0)
        busy = _covered(
            [
                (s["submissionTime"] / 1e3, s["completionTime"] / 1e3)
                for s in new
                if s.get("submissionTime") and s.get("completionTime")
            ],
            t0,
            t1,
        )
        out["idle_s"] = wall - busy
        out["core_util"] = out["executor_cpu_s"] / (wall * self.cores) if wall else 0.0
        return out


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
