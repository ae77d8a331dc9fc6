"""Span tracing installed from outside the package.

``Tracer.wrap`` replaces a function at the site the package looks it up
(for example ``catalog.infer_schema_df``, the name ``infer_and_register``
calls), so no file under the package is edited. Each span sets its own
Spark job group, so Spark's status tracker attributes every job to the
innermost span whose thread launched it.

Spark is lazy: a span is charged for the jobs its own call forces. A call
that only builds a plan (``split_valid``, ``minhash_lsh_pairs``) gets a
near-zero span, and the scan it describes is charged to whichever span
runs the action (a count, a collect, a cache fill).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

LAZY_NOTE = (
    "lazy Spark work is charged to the span of the call that forces it; "
    "plan-building calls (split_valid, minhash_lsh_pairs) show near-zero spans"
)


class Tracer:
    """Keeps spans in memory; ``spans`` is written out when the run ends."""

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.run_id = run_id
        self.spans: list[dict] = []
        self.op: int | None = None  # index of the op being traced
        # the open-span stack of the thread that opened the op span; a span
        # opened on another thread (a foreachBatch callback) nests under its
        # innermost entry
        self._root_stack: list[int] | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        if stack:
            parent = stack[-1]
        else:
            parent = self._root_stack[-1] if self._root_stack else None
        if parent is None:
            self._root_stack = stack
        group = f"{self.run_id}-{sid}"
        prev = (
            self._sc.getLocalProperty("spark.jobGroup.id"),
            self._sc.getLocalProperty("spark.job.description"),
        )
        self._sc.setJobGroup(group, name)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self._sc.setLocalProperty("spark.job.description", prev[1])
            if parent is None:
                self._root_stack = None
            with self._lock:
                self.spans.append({
                    "id": sid, "parent": parent, "run_id": self.run_id,
                    "op": self.op, "name": name, "group": group,
                    "start_s": start - self._t0, "end_s": end - self._t0,
                })

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def attach_spark_counts(self) -> None:
        """Job, stage and task counts plus shuffle-write bytes for every
        span still missing them (stages and tasks that ran; skipped stages
        are not counted), read from the status tracker once the
        listener bus has delivered all events. Call after each op: the
        status store keeps only the most recent jobs."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        task_status = getattr(store, "stageData$default$3")()
        quantiles = getattr(store, "stageData$default$5")()
        for s in self.spans:
            if "jobs" in s:
                continue
            jobs = tracker.getJobIdsForGroup(s["group"])
            stages = [
                sid for j in jobs if (info := tracker.getJobInfo(j))
                for sid in info.stageIds
            ]
            ran = tasks = shuffle = 0
            for sid in stages:
                attempts = store.stageData(sid, False, task_status, False, quantiles)
                for i in range(attempts.size()):
                    attempt = attempts.apply(i)
                    if attempt.status().toString() == "SKIPPED":
                        continue
                    ran += 1
                    tasks += attempt.numCompleteTasks()
                    shuffle += attempt.shuffleWriteBytes()
            s.update(jobs=len(jobs), stages=ran, tasks=tasks,
                     shuffle_write_bytes=shuffle)


def rollup(spans: list[dict]) -> list[dict]:
    """Adds ``self_s`` (duration minus the part covered by child spans) and
    inclusive Spark counts (``total_*``) to every span."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}

    def visit(s):
        kids = children.get(s["id"], [])
        for k in kids:
            visit(k)
        dur = s["end_s"] - s["start_s"]
        s["dur_s"] = dur
        s["self_s"] = dur - sum(k["dur_s"] for k in kids)
        for key in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
            s["total_" + key] = s.get(key, 0) + sum(k["total_" + key] for k in kids)

    for s in spans:
        if s["parent"] not in by_id:
            visit(s)
    return spans
