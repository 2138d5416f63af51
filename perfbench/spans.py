"""Spans recorded from outside the program.

Each span wraps one public call and forces it; Spark's own per-stage
metrics for the jobs the span ran come from the status REST API of the
driver UI, which only the traced run enables. Spans stay in memory until
the run ends."""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

STAGE_FIELDS = {
    "spark.run_s": ("executorRunTime", 1e-3),
    "spark.cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.tasks": ("numCompleteTasks", 1),
    "spark.failed_tasks": ("numFailedTasks", 1),
}


class Tracer:
    def __init__(self, spark, port: int):
        self.spark = spark
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{spark.sparkContext.applicationId}"
        self.spans: list[dict] = []
        self._open: list[str] = []

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def _settled_jobs(self) -> list[dict]:
        """Jobs as the status store sees them once its listener has caught up
        with every job the span started."""
        tracker = self.spark.sparkContext.statusTracker()
        last = None
        for _ in range(200):
            jobs = self._get("/jobs")
            running = any(j["status"] == "RUNNING" for j in jobs)
            if not running and not tracker.getActiveJobsIds() and last == len(jobs):
                return jobs
            last = len(jobs)
            time.sleep(0.05)
        return jobs

    def _stage_totals(self, jobs: list[dict]) -> dict:
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = {k: 0.0 for k in STAGE_FIELDS}
        if stage_ids:
            for st in self._get("/stages"):
                if st["stageId"] in stage_ids:
                    for name, (field, scale) in STAGE_FIELDS.items():
                        out[name] += st.get(field, 0) * scale
        return out

    def cache_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self._get("/storage/rdd"))

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._open[-1] if self._open else None, **attrs}
        before = {j["jobId"] for j in self._settled_jobs()}
        self._open.append(name)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            self._open.pop()
            new = [j for j in self._settled_jobs() if j["jobId"] not in before]
            rec["jobs"] = len(new)
            rec.update(self._stage_totals(new))
            self.spans.append(rec)
