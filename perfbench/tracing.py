"""In-memory spans and per-call Spark job attribution for the traced run.

Spans are recorded at the benchmark's own layer boundaries (pass, query
call, build, plan, action or sink, pin build, table open), kept in memory
and written once when the run ends. Spark work is attributed through job
groups: every call phase sets its own group, and ``JobStats`` reads the
jobs and stages of each group back from the status REST API after the
last pass.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    """Spans with name, start, end, parent and run id. Disabled tracers
    record nothing and cost one attribute check per boundary."""

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
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(ts: str | None) -> float | None:
    # the REST API formats times as 2026-01-01T00:00:00.000GMT
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class JobStats:
    """Executor counters per job group, read once from the REST API."""

    def __init__(self, ui_url: str):
        app = _get(f"{ui_url}/api/v1/applications")[0]["id"]
        self.base = f"{ui_url}/api/v1/applications/{app}"
        self.jobs = _get(f"{self.base}/jobs")
        self.stages = {
            (s["stageId"], s["attemptId"]): s for s in _get(f"{self.base}/stages")
        }

    def groups(self, group_ids) -> dict[str, float]:
        """Counters summed over the jobs of ``group_ids``; ``job_s`` is the
        wall time covered by at least one of those jobs."""
        wanted = set(group_ids)
        jobs = [j for j in self.jobs if j.get("jobGroup") in wanted]
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        stages = [s for (sid, _), s in self.stages.items() if sid in stage_ids]
        ran = [s for s in stages if s.get("status") == "COMPLETE" or s.get("numCompleteTasks")]
        spans = [
            (_epoch(j.get("submissionTime")), _epoch(j.get("completionTime")))
            for j in jobs
        ]
        out = {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in ran),
            "job_s": _covered([(a, b) for a, b in spans if a is not None and b is not None]),
            "run_s": sum(s.get("executorRunTime", 0) for s in ran) / 1e3,
            "cpu_s": sum(s.get("executorCpuTime", 0) for s in ran) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in ran) / 1e3,
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in ran),
            "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in ran),
            "shuffle_records": sum(s.get("shuffleWriteRecords", 0) for s in ran),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in ran
            ),
            "failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
            "task_skew": 0.0,
        }
        if ran:
            longest = max(ran, key=lambda s: s.get("executorRunTime", 0))
            out["task_skew"] = self._skew(longest)
        return out

    def _skew(self, stage: dict) -> float:
        """Longest task / median task duration of one stage."""
        try:
            q = _get(
                f"{self.base}/stages/{stage['stageId']}/{stage['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )
            med, top = q["duration"]
        except (urllib.error.URLError, KeyError, ValueError):
            return 0.0  # no task summary for this stage
        return top / med if med > 0 else 1.0

