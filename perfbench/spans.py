"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end, parent span and the operation it
belongs to. Spans stay in memory while the workload runs and are
written out once at the end, so recording costs a list append. Self
time is a span's duration minus the part of it its children cover.
A disabled tracer records nothing; the untraced run uses one.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": parent,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self time of each span with that name."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]].append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        origin = self.spans[0]["start"] if self.spans else 0.0
        selfs = {}
        for name, vals in self.self_times().items():
            selfs[name] = {"n": len(vals), "total_s": sum(vals)}
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        dict(s, start=s["start"] - origin, end=s["end"] - origin)
                        for s in self.spans
                    ],
                    "self_time": selfs,
                },
                fh,
            )


class JobCounter:
    """Jobs, stages and tasks per operation from Spark's public status
    tracker: each operation runs under its own job group."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.per_op: list[dict] = []

    @contextmanager
    def group(self, op_id: str):
        self.sc.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.per_op.append(dict(self._count(op_id), op=op_id))

    def _count(self, op_id: str) -> dict:
        jobs = stages = tasks = failed = 0
        for jid in self.tracker.getJobIdsForGroup(op_id):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                # a stage whose shuffle output was reused runs no task
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed": failed}
