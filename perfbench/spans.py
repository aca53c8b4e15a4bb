"""Layer spans measured from outside the library.

Each span runs its calls under a Spark job group of its own. On exit it
drains the listener bus, then folds that group's completed stages from
Spark's status store (executor run time, JVM GC time, shuffle bytes
written, bytes spilled to disk) into the span. Nothing inside nametag_spark
is instrumented, so the numbers hold across library refactors.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

IDLE_GROUP = "perfbench-idle"
SUMMED = ("s", "jobs", "stages", "executor_s", "shuffle_mb", "spill_mb", "gc_s")


class Tracer:
    """Collects spans for one SparkSession.

    A span is either on the build path (`path=True`: a call the traced build
    itself makes) or a probe (a standalone call that the build does not make,
    or that repeats part of one). A layer's totals sum its path spans only.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.spans: list[dict] = []
        self._n = 0
        self.sc.setJobGroup(IDLE_GROUP, "outside any span")

    @contextmanager
    def span(self, layer: str, key: str, path: bool = True):
        self._n += 1
        group = f"perfbench-{self._n}-{layer}.{key}"
        self.sc.setJobGroup(group, f"{layer}.{key}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setJobGroup(IDLE_GROUP, "outside any span")
        self.record(layer, key, wall, group, path)

    def record(self, layer: str, key: str, wall: float, group: str | None, path: bool = True):
        """Add a span of `wall` seconds whose jobs ran under `group` (None:
        jobs started before any group was set, i.e. session set-up)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        m = dict.fromkeys(SUMMED, 0.0)
        m.update(s=wall, jobs=len(jobs), stages=0)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JError:
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            m["stages"] += 1
            m["executor_s"] += sd.executorRunTime() / 1e3
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
            m["spill_mb"] += sd.diskBytesSpilled() / 1e6
        self.spans.append({"layer": layer, "key": key, "path": path, **m})

    def totals(self, layer: str) -> dict:
        """Summed path-span metrics of a layer, plus busy_share: executor
        time over (wall time x cores); low means stage latency, not compute,
        bounds the layer."""
        spans = [s for s in self.spans if s["layer"] == layer and s["path"]]
        t = {k: sum(s[k] for s in spans) for k in SUMMED}
        t["busy_share"] = t["executor_s"] / (t["s"] * self.cores) if t["s"] else 0.0
        return t

    def get(self, layer: str, key: str, field: str = "s") -> float:
        return sum(s[field] for s in self.spans if s["layer"] == layer and s["key"] == key)
