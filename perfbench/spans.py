"""In-memory spans and engine-side counters for the traced run.

Spans are recorded by the benchmark around its calls into the engine
(``engine.run_stage``, ``sources.*``, ``warehouse.*``, the registry
callables); nothing inside the engine is edited. Every span carries the
id of the operation it belongs to and the span that caused it, so self
time can be computed per layer.

Counts come from outside the program:

- Spark jobs / tasks / failed tasks of a span: the span sets a unique
  job group (``sc.setJobGroup``, thread-local under pinned threads) and
  reads ``statusTracker()`` for that group when it ends;
- GC time and heap use: the JVM's ``GarbageCollectorMXBean`` and
  ``MemoryMXBean`` over py4j;
- persisted relations: ``SparkContext.getRDDStorageInfo``.

With tracing off every hook is a no-op apart from the wall clock, so
the untraced run measures the engine alone. The tracer also times its
own bookkeeping, which is reported as the tracing overhead.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # ---- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str, count_jobs: bool = False):
        """Record ``name`` around the body. A span opened outside any
        other starts an operation, whose id its descendants share.
        ``count_jobs`` tags the Spark jobs the body launches with a job
        group so their job, task and failed-task counts are attached to
        the span."""
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        op = parent["op"] if parent else sid
        rec = {"id": sid, "name": name, "op": op, "parent": parent["id"] if parent else None,
               "thread": threading.get_ident()}
        group = None
        if count_jobs:
            # job groups are per thread and do not nest, so spans that
            # count jobs must not contain one another
            group = f"perfbench-{sid}"
            self.spark.sparkContext.setJobGroup(group, name, False)
        stack.append(rec)
        opening = time.perf_counter() - t0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group is not None:
                rec.update(self._job_counts(group))
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += opening + time.perf_counter() - rec["end"]

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _job_counts(self, group: str) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numTasks
                    failed += stage.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}

    # ---- JVM probes ----------------------------------------------------
    def jvm_gc_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def jvm_heap_used_mb(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def persisted(self) -> tuple[int, float]:
        """(cached RDD count, cached MB in memory and on disk)."""
        infos = [i for i in self.spark._jsc.sc().getRDDStorageInfo() if i.isCached()]
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    # ---- reporting -------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per layer (the span name up to its first ':'), the sum over
        spans of duration minus the time covered by child spans."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cursor = s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            layer = s["name"].split(":", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s}, f)
