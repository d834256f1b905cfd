"""Spans around calls into the program's layers, timed from outside.

Each span records (name, start, end, parent, run id) and runs its Spark
jobs under a job group of its own, so the tasks it launched (and how many
failed) come from ``SparkContext.statusTracker``. Spans stay in memory
until ``write`` is called at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}/{len(self.spans)}/{name}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Span time minus the time its direct children cover."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            total += (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in kids)
        return total

    def tasks(self, name: str) -> tuple[int, int]:
        """(tasks launched, tasks failed) by the jobs of every span named
        ``name``, children excluded."""
        counts = [group_tasks(self._sc, s["group"]) for s in self.spans if s["name"] == name]
        return sum(c[0] for c in counts), sum(c[1] for c in counts)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def group_tasks(sc, group: str) -> tuple[int, int]:
    """(tasks launched, tasks failed) by the jobs of one job group. The
    engine runs each streaming micro-batch under the query's run id."""
    tracker = sc.statusTracker()
    launched = failed = 0
    for job_id in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else ():
            stage = tracker.getStageInfo(stage_id)
            if stage:
                launched += stage.numCompletedTasks + stage.numFailedTasks
                failed += stage.numFailedTasks
    return launched, failed
