"""In-memory spans and counters for the traced benchmark run.

A span records name, start, end, parent span and operation id; spans of
one operation (one micro-batch, one read) share the operation id. Spans
that ask for Spark counts run their jobs under a job group of their own,
and the status tracker gives the jobs, stages and tasks each one started.
Nothing here edits the package: the benchmark wraps the calls it makes,
subclasses the classes it constructs, and swaps module attributes that the
package resolves at call time (restored by :meth:`Tracer.restore`).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import threading
import time


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        # counters and the tracer's own time, keyed by phase (per_op)
        self.counters: dict[str, dict[str, float]] = {}
        self.overhead_s: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        # the run's phase when a span opens; "warm-up" spans stay in the
        # trace file but out of the per-layer figures
        self.phase = "setup"

    # -- spans and counters --------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, spark_counts: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "thread": threading.get_ident(),
            "phase": self.phase,
        }
        prev_group = None
        if spark_counts and self.sc is not None:
            t = time.perf_counter()
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"bench-span-{rec['id']}", name)
            self._charge(time.perf_counter() - t)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if spark_counts and self.sc is not None:
                t = time.perf_counter()
                rec.update(self._spark_counts(f"bench-span-{rec['id']}"))
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                self._charge(time.perf_counter() - t)
            with self._lock:
                self.spans.append(rec)

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s[self.phase] = self.overhead_s.get(self.phase, 0.0) + seconds

    def _spark_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                stages += 1
                stage = tracker.getStageInfo(stage_id)
                tasks += stage.numTasks if stage is not None else 0
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    @contextlib.contextmanager
    def own(self):
        """The tracer's own work (extra counts) inside the current spans:
        its time is subtracted from theirs and its Spark jobs run outside
        their job groups."""
        t = time.perf_counter()
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup("bench-tracer", "tracer")
        try:
            yield
        finally:
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            d = time.perf_counter() - t
            for rec in self._stack():
                rec["own_s"] = rec.get("own_s", 0.0) + d
            self._charge(d)

    def add(self, name: str, value: float = 1) -> None:
        with self._lock:
            bucket = self.counters.setdefault(self.phase, {})
            bucket[name] = bucket.get(name, 0) + value

    def wrap(self, fn, name: str, spark_counts: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, spark_counts=spark_counts):
                return fn(*args, **kwargs)

        return traced

    def replace(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` to ``value`` until restore()."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def patch(self, owner, attr: str, name: str, spark_counts: bool = False) -> None:
        """Replace ``owner.attr`` with a traced wrapper until restore()."""
        self.replace(owner, attr, self.wrap(getattr(owner, attr), name, spark_counts))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- aggregation ---------------------------------------------------------

    def measured(self) -> list[dict]:
        return [s for s in self.spans if s.get("phase") != "warm-up"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.measured() if s["name"] == name]

    def spans_in(self, phase: str, name: str | None = None) -> list[dict]:
        return [s for s in self.spans
                if s.get("phase") == phase and name in (None, s["name"])]

    def count(self, name: str) -> float:
        """A counter's total outside warm-up."""
        return sum(v.get(name, 0) for ph, v in self.counters.items() if ph != "warm-up")

    @staticmethod
    def per_op(of, ops: int) -> float:
        """``of(phase)`` for the set-up once plus the measured part per
        operation: a figure that does not grow with how many operations
        fit in the measured window."""
        return of("setup") + of("measure") / max(1, ops)

    @staticmethod
    def duration(s: dict) -> float:
        """A span's wall time less the tracer's own work inside it."""
        return s["end"] - s["start"] - s.get("own_s", 0.0)

    def median_ms(self, name: str) -> float:
        d = [1000 * self.duration(s) for s in self.named(name)]
        return statistics.median(d) if d else 0.0

    def inclusive_counts(self) -> dict[int, dict]:
        """Spark jobs/stages/tasks per span including its child spans
        (a child span's jobs run under the child's own job group)."""
        own = {s["id"]: s for s in self.spans}
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s["id"])

        def total(sid: int) -> dict:
            s = own[sid]
            out = {k: s.get(k, 0) for k in ("jobs", "stages", "tasks")}
            for c in children.get(sid, []):
                for k, v in total(c).items():
                    out[k] += v
            return out

        return {sid: total(sid) for sid in own}

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")
            fh.write(json.dumps({"counters": self.counters,
                                 "overhead_s": self.overhead_s}) + "\n")
