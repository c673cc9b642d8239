"""Spans for traced runs, and per-span Spark metrics from the UI REST API.

A span wraps one public engine call. It records its name, start, end,
parent span and request id, and sets its own Spark job group, so the
jobs and stages it launches are attributed to it. Spans are kept in
memory and written out when the run ends. With tracing off, ``span``
still times the call but sets no job group.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import time

from common import Rest, parse_size

_BATCH_RE = re.compile(r"batch = (\d+)")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.rest = Rest(spark) if enabled else None

    @contextlib.contextmanager
    def span(self, name: str, request_id: str | None = None):
        up = self._stack[-1] if self._stack else None
        rec = {
            "id": f"s{next(self._ids)}",
            "name": name,
            "parent": up["id"] if up else None,
            # spans of one request share its id
            "request_id": request_id or (up["request_id"] if up else None),
        }
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(rec["id"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                if up:
                    sc.setJobGroup(up["id"], up["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    # --- REST aggregation -------------------------------------------------

    def jobs(self) -> list[dict]:
        return self.rest.get("/jobs")

    def stage(self, stage_id: int) -> dict | None:
        attempts = self.rest.get(f"/stages/{stage_id}")
        return attempts[-1] if attempts else None

    def task_skew(self, st: dict) -> float:
        """max ÷ median task run time of one stage."""
        q = self.rest.get(
            f"/stages/{st['stageId']}/{st['attemptId']}/taskSummary"
            "?quantiles=0.5,1.0"
        )
        med, mx = q.get("executorRunTime", [0, 0])
        return mx / med if med else 1.0

    def sql_python_bytes(self, job_ids: set[int]) -> tuple[float, float]:
        """Bytes sent to and received from Python workers by the
        MapInPandas / Arrow nodes of the SQL executions behind ``job_ids``."""
        to_py = from_py = 0.0
        for ex in self.rest.get("/sql?details=true&planDescription=false&length=100000"):
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ids & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        to_py += parse_size(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        from_py += parse_size(m["value"])
        return to_py, from_py


def rest_time(ts: str) -> float:
    """Seconds from a REST timestamp like 2026-01-01T00:00:00.123GMT."""
    import datetime as dt

    return dt.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def union_seconds(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def group_metrics(tracer: Tracer, jobs: list[dict], group_ids: set[str]) -> dict:
    """Jobs, stages, tasks, shuffle, spill, skew and job-time union for
    the jobs whose job group is in ``group_ids``."""
    mine = [j for j in jobs if j.get("jobGroup") in group_ids]
    return jobs_metrics(tracer, mine)


def jobs_metrics(tracer: Tracer, mine: list[dict]) -> dict:
    stage_ids = sorted({s for j in mine for s in j.get("stageIds", [])})
    stages = []
    for sid in stage_ids:
        st = tracer.stage(sid)
        if st and st.get("status") == "COMPLETE":
            stages.append(st)
    intervals = [
        (rest_time(j["submissionTime"]), rest_time(j["completionTime"]))
        for j in mine
        if j.get("submissionTime") and j.get("completionTime")
    ]
    skews = [tracer.task_skew(st) for st in stages if st.get("numTasks", 0) > 1]
    return {
        "jobs": len(mine),
        "stages": len(stages),
        "tasks": sum(st.get("numCompleteTasks", 0) for st in stages),
        "job_s": union_seconds(intervals),
        "shuffle_write_mb": sum(st.get("shuffleWriteBytes", 0) for st in stages) / 2**20,
        "shuffle_read_mb": sum(st.get("shuffleReadBytes", 0) for st in stages) / 2**20,
        "spill_mb": sum(
            st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            for st in stages
        ) / 2**20,
        "max_task_skew": max(skews, default=1.0),
        "stage_records": stages,
        "job_ids": {j["jobId"] for j in mine},
    }


def stream_batch_jobs(jobs: list[dict], run_id: str) -> dict[int, list[dict]]:
    """A streaming query's jobs by micro-batch id. The engine sets the
    query's run id as the job group and 'batch = N' in the description."""
    out: dict[int, list[dict]] = {}
    for j in jobs:
        if j.get("jobGroup") != run_id:
            continue
        m = _BATCH_RE.search(j.get("description", "") or "")
        if m:
            out.setdefault(int(m.group(1)), []).append(j)
    return out

