"""Spans and Spark job counts for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
around the calls it makes, and around HiveEngine methods it wraps on
the one engine instance it drives (``instrument_engine``). Nothing in
the program changes. A span is (id, name, layer, start, end, parent,
op id); the layer is the name's prefix before the first dot. Spans
stay in memory and are written out when the run ends.

``NullTracer`` has the same interface and records nothing; untraced
runs use it, so both runs execute the same code path.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def op(self, name: str):
        yield None

    @contextmanager
    def span(self, name: str):
        yield None

    def job_count(self) -> int:
        return 0


class Tracer:
    enabled = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: dict | None = None
        # innermost open span of the op's own thread: spans opened on
        # other threads (the streaming foreachBatch callback) hang here
        self._op_stack: list[int] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _record(self, name: str, start: float, end: float, parent) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid,
                "name": name,
                "layer": name.split(".", 1)[0],
                "start": start,
                "end": end,
                "parent": parent,
                "op": self._op["id"] if self._op else None,
            })
            return sid

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self._op_stack:
            parent = self._op_stack[-1]
        else:
            parent = None
        sid = self._record(name, time.perf_counter(), float("nan"), parent)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    @contextmanager
    def op(self, name: str):
        """One client operation: a root span plus a Spark job group, so
        the jobs, stages and tasks it launches can be counted."""
        op_id = f"op{len(self.ops)}"
        self._op = {"id": op_id, "name": name}
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, name)
        self._op_stack = self._stack()
        try:
            with self.span(f"client.{name}") as sid:
                yield self._op
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            span = self.spans[sid]
            self._op.update(start=span["start"], end=span["end"], root=sid)
            self._op.update(self.jobs(op_id))
            self.ops.append(self._op)
            self._op = None
            self._op_stack = []

    def jobs(self, group: str) -> dict:
        """Jobs, stages and completed tasks Spark ran under a job group."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def job_count(self) -> int:
        """Jobs launched so far under the open op's job group."""
        if self._op is None:
            return 0
        tracker = self.spark.sparkContext.statusTracker()
        return len(tracker.getJobIdsForGroup(self._op["id"]))

    def add_jobs(self, group: str) -> None:
        """Count another job group (a streaming run's) into the open op."""
        if self._op is None:
            return
        extra = self.jobs(group)
        for k, v in extra.items():
            self._op[f"extra_{k}"] = self._op.get(f"extra_{k}", 0) + v

    # ------------------------------------------------------------ analysis

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[int, float] = {}
        for s in self.spans:
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh)


# Engine methods wrapped on the instance, by layer. Methods that only
# build a lazy DataFrame show up as short spans; the work they describe
# is timed where the caller executes it.
_ENGINE_LAYERS = {
    "ingest_batch": "engine.ingest_batch",
    "read_table": "storage.read_table",
    "_append": "storage.append",
    "_replace": "storage.replace",
    "_upsert": "storage.upsert",
    "_next_id": "storage.next_id",
    "_audit": "audit.append",
    "search": "search.plan",
    "chat": "chat.plan",
    "_persist_chat": "chat.persist",
    "evaluate_rules": "rules.evaluate",
    "contradiction_candidates": "graph.plan",
    "timeline": "views.timeline",
    "stats": "views.stats",
}


def instrument_engine(engine, tracer) -> None:
    """Wrap the engine instance's methods in spans (traced runs only)."""
    if not tracer.enabled:
        return
    for attr, span_name in _ENGINE_LAYERS.items():
        fn = getattr(engine, attr)

        def wrapped(*args, _fn=fn, _name=span_name, **kwargs):
            with tracer.span(_name):
                return _fn(*args, **kwargs)

        functools.update_wrapper(wrapped, fn)
        setattr(engine, attr, wrapped)
