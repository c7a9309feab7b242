"""Spans and counters recorded from the benchmark's side of each layer
call, plus Spark's own status-store counts at the same boundaries.

A disabled tracer records nothing and costs one attribute check per
call, so the untraced end-to-end run pays no tracing work. Everything
is kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent inside tracing bookkeeping
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent, "run": self.run_id, **attrs}
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += time.time() - end

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children run on their parent's thread, so they never
        overlap one another)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(),
                       "overhead_s": self.overhead_s, **extra}, f)


class StatusStore:
    """Reads finished jobs and their stages from Spark's status store.

    Job ids are sequential per SparkContext, so each harvest walks the
    ids it has not seen yet. Jobs of a streaming query carry the query's
    run id as their job group, which is how ingest work is told apart
    from the closed-loop client's."""

    def __init__(self, spark, tracer: Tracer) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._tracer = tracer
        self._next = 0

    def harvest(self, exclude_groups: set[str]) -> dict[str, float]:
        """Totals over jobs finished since the last harvest, skipping jobs
        whose group is in ``exclude_groups``."""
        t0 = time.time()
        self._bus.waitUntilEmpty()
        tot = defaultdict(float)
        while True:
            try:
                job = self._store.job(self._next)
            except Py4JJavaError:
                break  # not submitted yet
            group = job.jobGroup().get() if job.jobGroup().isDefined() else None
            if group in exclude_groups:
                self._next += 1
                continue
            if str(job.status()) not in ("SUCCEEDED", "FAILED"):
                break  # a running job holds the cursor until it ends
            self._next += 1
            tot["jobs"] += 1
            tot["tasks"] += job.numCompletedTasks()
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:
                    continue  # skipped stage: never attempted
                tot["exec_s"] += st.executorRunTime() / 1e3
                tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                tot["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        self._tracer.overhead_s += time.time() - t0
        return dict(tot)
