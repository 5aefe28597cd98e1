"""In-memory span recorder for the traced run.

One span per benchmark-side call (name, start, end, parent); Spark jobs and
stages read from the REST API become child spans of the call that ran
them. Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid

from .spark_rest import parse_time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _add(self, name: str, start: float, end: float, parent: int | None,
             attrs: dict | None = None) -> int:
        span_id = len(self.spans)
        self.spans.append({
            "trace_id": self.trace_id, "span_id": span_id, "parent": parent,
            "name": name, "start": start, "end": end, "attrs": attrs or {},
        })
        return span_id

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a call; nested ``span`` blocks become its children."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span_id = self._add(name, time.time(), 0.0, parent, attrs)
        self._stack.append(span_id)
        try:
            yield span_id
        finally:
            self._stack.pop()
            self.spans[span_id]["end"] = time.time()

    def add_spark_children(self, parent: int | None, window: dict) -> None:
        """Attach a REST window's jobs, and their stages, under ``parent``."""
        if not self.enabled or parent is None:
            return
        stages = {s["stageId"]: s for s in window["stages"]}
        for job in sorted(window["jobs"], key=lambda j: j["jobId"]):
            if "completionTime" not in job:
                continue
            job_span = self._add(
                f"spark.job.{job['jobId']}", parse_time(job["submissionTime"]),
                parse_time(job["completionTime"]), parent,
                {"stages": job.get("stageIds", []), "status": job["status"]})
            for sid in job.get("stageIds", []):
                st = stages.get(sid)
                if st is None or "completionTime" not in st:
                    continue
                self._add(f"spark.stage.{sid}",
                          parse_time(st["submissionTime"]),
                          parse_time(st["completionTime"]), job_span,
                          {"tasks": st["numTasks"]})

    def write(self, path) -> None:
        with open(path, "w") as fh:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, fh)
