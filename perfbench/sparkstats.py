"""Spark runtime numbers read from outside the engine.

A measured call runs under its own job group; afterwards the group's jobs
and stages are read from ``statusTracker`` and the application status
store (which is kept with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import itertools

_groups = itertools.count()


class JobGroup:
    """``with JobGroup(sc, "build") as g: ...`` then ``g.stats()``."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.gid = f"perfbench-{prefix}-{next(_groups)}"

    def __enter__(self):
        self.sc.setJobGroup(self.gid, self.gid)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return False

    def stats(self) -> dict:
        """Executor run time and JVM GC time summed over the group's stages."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict(executor_run_ms=0.0, gc_ms=0.0)
        for j in tracker.getJobIdsForGroup(self.gid):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for st in info.stageIds:
                seq = store.stageData(st, False, None, False, None)
                if seq.isEmpty():
                    continue
                sd = seq.last()
                out["executor_run_ms"] += sd.executorRunTime()
                out["gc_ms"] += sd.jvmGcTime()
        return out
