"""Spark jobs and stages from the UI's REST API (traced runs only).

The live UI serves ``/api/v1/applications/<app>/{jobs,stages}`` on
localhost. Jobs carry the job group the tracer set around each call,
so every job and stage can be attributed to the span that caused it
without adding a single Spark job.
"""

from __future__ import annotations

import json
import urllib.request
from datetime import datetime, timezone


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _ts(s: str | None) -> float | None:
    """UI timestamp ('2026-10-17T03:01:39.123GMT') → epoch seconds."""
    if not s:
        return None
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Job:
    __slots__ = ("group", "start", "end", "stage_ids")

    def __init__(self, d: dict):
        self.group = d.get("jobGroup") or ""
        self.start = _ts(d.get("submissionTime"))
        self.end = _ts(d.get("completionTime"))
        self.stage_ids = list(d.get("stageIds") or [])


# stage fields summed per job group (all attempts of a stage count)
_STAGE_SUMS = {
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_b": "shuffleWriteBytes",
    "spill_b": "diskBytesSpilled",
    "failed_tasks": "numFailedTasks",
    "tasks": "numTasks",
}


class UiRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def snapshot(self) -> tuple[list[Job], dict[int, dict[str, float]]]:
        """Every job, and per stage id the summed metrics of its attempts."""
        jobs = [Job(d) for d in _get(f"{self.base}/jobs")]
        stages: dict[int, dict[str, float]] = {}
        for s in _get(f"{self.base}/stages"):
            acc = stages.setdefault(s["stageId"], dict.fromkeys(_STAGE_SUMS, 0.0))
            for key, field in _STAGE_SUMS.items():
                acc[key] += float(s.get(field, 0) or 0)
        return jobs, stages


def stage_totals(
    jobs: list[Job], stages: dict[int, dict[str, float]]
) -> dict[str, float]:
    """Summed stage metrics over ``jobs`` (a stage shared by two jobs,
    e.g. a reused exchange, counts once)."""
    ids = {sid for j in jobs for sid in j.stage_ids}
    out = dict.fromkeys(_STAGE_SUMS, 0.0)
    for sid in ids:
        for k, v in stages.get(sid, {}).items():
            out[k] += v
    return out


def active_seconds(jobs: list[Job], t0: float, t1: float) -> float:
    """Length of the union of job intervals clipped to [t0, t1]: the
    time at least one Spark job was running. ``(t1 - t0)`` minus this
    is driver-serial time."""
    spans = sorted(
        (max(j.start, t0), min(j.end, t1))
        for j in jobs
        if j.start is not None and j.end is not None and j.end > t0 and j.start < t1
    )
    active, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                active += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        active += cur_e - cur_s
    return active
