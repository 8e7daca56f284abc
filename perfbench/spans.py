"""Spans and counters recorded from outside the engine.

Every call the benchmark makes into an engine module can be wrapped in
``Tracer.span(name)``. A span holds name, start, end, parent span and op
id; spans stay in memory and are written out once, when the run ends.
With tracing off every method is a no-op, so the timed code is the same
in both modes.

Per query op (``Tracer.op``) the tracer also counts:

* JVM round-trips, by wrapping py4j's ``send_command`` for the op's thread;
* Spark jobs, stages and tasks, by tagging the op with a job group and
  reading ``SparkContext.statusTracker()`` afterwards.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_stats: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._op_thread: int | None = None
        self._py4j_calls = 0
        self._restore: list[tuple[object, str, object]] = []
        if enabled:
            self._patch_py4j()

    def patch(self, owner, name: str, new) -> None:
        """Replace owner.name for this run; close() puts the original back."""
        self._restore.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    # -- py4j round-trips ---------------------------------------------------
    def _patch_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command, *a, **kw):
            if tracer._op_thread == threading.get_ident():
                tracer._py4j_calls += 1
            return orig(conn, command, *a, **kw)

        self.patch(ClientServerConnection, "send_command", send_command)

    def close(self) -> None:
        while self._restore:
            owner, name, orig = self._restore.pop()
            setattr(owner, name, orig)

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def paused(self):
        """Record nothing inside (untimed warm-up work)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextmanager
    def op(self, op_id: str, kind: str):
        """One query op: a root span plus py4j/job/stage/task counts."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._op, self._op_thread, self._py4j_calls = op_id, threading.get_ident(), 0
        sc.setJobGroup(op_id, kind)
        try:
            with self.span("op." + kind):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            calls = self._py4j_calls
            self._op, self._op_thread = None, None
            self.op_stats.append({"op": op_id, "kind": kind, "py4j_calls": calls,
                                  **self._job_counts(op_id)})

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages, tasks = 0, 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo is not None else 0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    # -- summaries -------------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
