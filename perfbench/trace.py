"""Spans and Spark job accounting, recorded from outside the package.

A span names one call into a layer of the package. While a span is
open its name is the Spark job group of the calling thread; when it
closes, the span collects its jobs from ``statusTracker()``: the jobs
of its group, plus any job without a group that started while it was
the innermost open span (the package runs some work on pool threads,
which do not inherit the caller's group). Spans are kept in memory.
Shuffle-write bytes come from the local event log, which Spark only
finishes writing when the context stops, so ``shuffle_write_mb`` is
filled in by ``add_shuffle_bytes`` after the session has ended.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op,
    so the same workload code runs traced and untraced."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._stack: list[dict] = []
        self._claimed: set[int] = set(self._tracker.getJobIdsForGroup(None))
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.monotonic()
        rec = {
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "jobs": [],
        }
        self._sweep()
        self.spans.append(rec)
        group = f"{name}#{rec['id']}"
        self._sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.monotonic()
        rec["overhead_s"] = rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._sweep()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self._sc.setJobGroup(f"{outer['name']}#{outer['id']}",
                                     outer["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            rec["jobs"] = sorted(
                set(rec["jobs"]) | set(self._tracker.getJobIdsForGroup(group)))
            self._count(rec)
            rec["overhead_s"] += time.monotonic() - rec["end"]

    def _sweep(self) -> None:
        """Give the jobs without a group that appeared since the last
        sweep to the innermost open span; outside any span, drop them."""
        new = set(self._tracker.getJobIdsForGroup(None)) - self._claimed
        self._claimed |= new
        if self._stack:
            self._stack[-1]["jobs"].extend(new)

    def _count(self, rec: dict) -> None:
        stages, tasks, failed = [], 0, 0
        for job_id in rec["jobs"]:
            job = self._tracker.getJobInfo(job_id)
            if job is None:
                continue
            for sid in job.stageIds:
                st = self._tracker.getStageInfo(sid)
                # stages skipped because their shuffle output already
                # existed never ran a task
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue
                stages.append(sid)
                tasks += st.numTasks
                failed += st.numFailedTasks
        rec["stages"] = stages
        rec["tasks"] = tasks
        rec["failed_tasks"] = failed

    def layer(self, prefix: str, since: int = 0) -> dict:
        """Sums over the spans named ``prefix`` or ``prefix.*`` among
        those opened at or after span number ``since``."""
        picked = [s for s in self.spans[since:]
                  if s["name"] == prefix or s["name"].startswith(prefix + ".")]
        return {
            "wall_s": sum(s["end"] - s["start"] for s in picked),
            "jobs": sum(len(s["jobs"]) for s in picked),
            "stages": sum(len(s["stages"]) for s in picked),
            "tasks": sum(s["tasks"] for s in picked),
            "failed_tasks": sum(s["failed_tasks"] for s in picked),
            "shuffle_write_mb": sum(s.get("shuffle_write_mb", 0.0)
                                    for s in picked),
        }

    def overhead_s(self, since: int = 0) -> float:
        """Wall time the spans opened at or after ``since`` spent in the
        tracer's own calls into Spark, outside the traced work."""
        return sum(s["overhead_s"] for s in self.spans[since:])

    def add_shuffle_bytes(self, event_log_dir: str) -> None:
        """Attribute the event log's per-task shuffle-write bytes to the
        spans that own each stage."""
        owner = {sid: s for s in self.spans for sid in s.get("stages", [])}
        for s in self.spans:
            s["shuffle_write_mb"] = 0.0
        # Spark 4 writes a rolling log: a directory of events_* files
        for path in sorted(glob.glob(
                os.path.join(event_log_dir, "**", "events_*"),
                recursive=True)):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    ev = json.loads(line)
                    span = owner.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    written = (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    if span is not None:
                        span["shuffle_write_mb"] += written / 2**20

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f, indent=1)

