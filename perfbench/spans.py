"""In-memory span recorder and Spark engine counters for the traced run.

Spans are recorded around calls into the engine's public functions from
the benchmark's own code (the engine itself is not instrumented).  Each
span keeps its name, start, end, parent span, the run id, and the Spark
job-group id that ties the engine's job/stage/task counts to it.  Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records nested spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def finish(self) -> list[dict]:
        """Fill in each span's duration and self time (duration minus the
        union of its children's intervals) and return the spans."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["duration_s"] = s["end"] - s["start"]
            s["self_s"] = s["duration_s"] - _covered(
                s["start"], s["end"], children.get(s["id"], [])
            )
        return self.spans

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "summary": summary,
                       "spans": self.finish()}, f, indent=1)


def _covered(start: float, end: float, kids: list[dict]) -> float:
    """Length of [start, end] covered by the union of the kids' intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for k in sorted(kids, key=lambda k: k["start"]):
        s, e = max(start, k["start"]), min(end, k["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def engine_counts(spark, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks Spark ran under one job group,
    read from ``SparkContext.statusTracker()``.

    The status store is fed asynchronously by the listener bus, so an action
    can return before its last task-end and stage-completed events are
    applied.  The bus is drained first; only then is a stage with no
    finished task known to be skipped rather than not yet reported."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    counts = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job_id in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job_id)
        counts["jobs"] += 1
        for stage_id in info.stageIds if info else ():
            stage = st.getStageInfo(stage_id)
            if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            counts["stages"] += 1
            counts["tasks"] += stage.numCompletedTasks
            counts["failed_tasks"] += stage.numFailedTasks
    return counts
