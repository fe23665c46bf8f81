"""Per-layer spans and Spark job counts for the traced run.

A span records (id, name, start, end, parent, op) around one call into a
layer, where ``op`` numbers the unit of work (a day or a request) the
call belongs to. Spans are kept in memory and written once when
the run ends. Each span owns a Spark job group (``setJobGroup``), so the
jobs, stages and tasks it launched are read back from ``statusTracker()``
when its top-level span closes, while the tracker still holds them.
With tracing off, ``span`` does nothing and nothing is patched.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.op = 0
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._count(rec["id"])

    def _count(self, top: int) -> None:
        tracker = self.sc.statusTracker()
        for rec in self.spans[top:]:
            jobs = stages = tasks = 0
            for job_id in tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                jobs += 1
                for stage_id in info.stageIds:
                    st = tracker.getStageInfo(stage_id)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks)

    def wrap(self, module, attr: str, name, note=None) -> None:
        """Replace ``module.attr`` by a spanned wrapper. ``name`` maps the
        call's arguments to the span name; ``note`` maps its result to
        extra span fields."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs)) as rec:
                out = fn(*args, **kwargs)
                if note:
                    rec.update(note(out))
                return out

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unpatch(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- reading spans back ------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def per_op(self, key: str, ops) -> list[float]:
        """Sum over each op in ``ops`` of ``key`` over its spans: a
        count (jobs/stages/tasks), or "top_s", the time of its top-level
        spans."""
        totals = dict.fromkeys(ops, 0.0)
        for s in self.spans:
            if s["op"] not in totals:
                continue
            if key == "top_s":
                totals[s["op"]] += dur(s) if s["parent"] is None else 0.0
            else:
                totals[s["op"]] += s.get(key, 0)
        return list(totals.values())

    def dump(self, path: str) -> None:
        keep = ("id", "name", "parent", "op", "start", "end", "jobs", "stages", "tasks")
        with open(path, "w") as f:
            json.dump([{k: s[k] for k in keep if k in s} for s in self.spans], f)


def dur(span: dict) -> float:
    return span["end"] - span["start"]
