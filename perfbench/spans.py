"""In-memory spans and Spark job attribution for the traced run.

A span is (id, parent, name, start, end). Spans that launch Spark jobs
get their own job group, so the jobs they run are found afterwards
through ``statusTracker().getJobIdsForGroup``; stage metrics come from
the Spark driver's status store, kept even with the UI off. With
tracing off every call here is a cheap no-op and no job group is set.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# a schema job is a build job whose only stage is a parquet footer read
_SCHEMA_STAGE_PREFIX = "parquet at "


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        """Time the body as a child of the innermost open span. With
        ``jobs=True`` the body runs under a job group of its own."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": None, **attrs}
        self.spans.append(rec)
        if jobs:
            rec["group"] = f"perfbench-{rec['id']}"
            sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            outer = next((s["group"] for s in reversed(self._stack)
                          if s["group"]), None)
            if jobs:
                if outer:
                    sc.setJobGroup(outer, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def collect_jobs(self) -> None:
        """Attach job and stage counters to every span that owns a job
        group. Runs outside the timed spans, after the listener bus has
        delivered every event to the status store."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for rec in self.spans:
            if not rec["group"] or "jobs" in rec:
                continue
            c = {"jobs": 0, "schema_jobs": 0, "stages": 0, "tasks": 0,
                 "task_s": 0.0, "gc_s": 0.0, "input_mb": 0.0,
                 "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                 "failed_tasks": 0}
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                names = []
                for sid in info.stageIds:
                    sd = store.lastStageAttempt(sid)
                    names.append(sd.name())
                    if str(sd.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["task_s"] += sd.executorRunTime() / 1e3
                    c["gc_s"] += sd.jvmGcTime() / 1e3
                    c["input_mb"] += sd.inputBytes() / 1e6
                    c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                    c["spill_mb"] += (sd.memoryBytesSpilled()
                                      + sd.diskBytesSpilled()) / 1e6
                if (len(names) == 1
                        and names[0].startswith(_SCHEMA_STAGE_PREFIX)):
                    c["schema_jobs"] += 1
            rec.update(c)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part covered by its direct children."""
    own = {s["id"]: s["t1"] - s["t0"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["t1"] - s["t0"]
    return own
