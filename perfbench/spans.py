"""Span recording for the benchmark's traced runs.

Every span is timed, traced or not, because the end-to-end metrics are
built from the same span durations. With tracing on, the tracer also keeps
each span in memory (name, start, end, parent, run id), attaches the Spark
jobs and tasks that ran inside it, and writes them all out at the end.
The time spent recording is accumulated so the run can report it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, run_id: str, spark=None):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.record_s = 0.0  # time spent inside the tracer itself
        self._stack: list[dict] = []
        self._status = spark.sparkContext.statusTracker() if (enabled and spark) else None
        self._seen_jobs = 0
        self._next_id = 0
        self._t0 = time.perf_counter()

    def _spark_counts(self) -> tuple[int, int]:
        """(jobs, tasks) finished since the previous call. Job ids are
        sequential, so the next id equals the number of jobs submitted."""
        ids = self._status.getJobIdsForGroup(None)
        top = max(ids, default=-1) + 1
        tasks = 0
        for job in range(self._seen_jobs, top):
            info = self._status.getJobInfo(job)
            for stage in info.stageIds if info else ():
                st = self._status.getStageInfo(stage)
                tasks += st.numCompletedTasks if st else 0
        jobs = top - self._seen_jobs
        self._seen_jobs = top
        return jobs, tasks

    @contextmanager
    def span(self, name: str, count_spark: bool = False):
        """Time the body; yields the span dict, whose ``seconds`` is set on
        exit. A traced span opened with ``count_spark`` also carries the
        Spark ``jobs``/``tasks`` that finished inside it (such spans must
        not nest)."""
        rec = {"name": name}
        if self.enabled:
            r0 = time.perf_counter()
            rec["id"] = self._next_id
            self._next_id += 1
            rec["parent"] = self._stack[-1]["id"] if self._stack else None
            rec["run"] = self.run_id
            count_spark = count_spark and self._status is not None
            if count_spark:
                self._spark_counts()
            self._stack.append(rec)
            self.record_s += time.perf_counter() - r0
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["seconds"] = end - start
            if self.enabled:
                r0 = time.perf_counter()
                self._stack.pop()
                rec["start"] = start - self._t0
                rec["end"] = end - self._t0
                if count_spark:
                    rec["jobs"], rec["tasks"] = self._spark_counts()
                self.spans.append(rec)
                self.record_s += time.perf_counter() - r0

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": sorted(self.spans, key=lambda s: s["id"])}, f)
