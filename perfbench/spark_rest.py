"""Read Spark's own instruments from the local UI's REST API.

Only ``localhost`` is contacted: the UI address of a session that
was started with ``spark.ui.enabled=true``. The parsers are pure functions
over the JSON payloads, so they can be tested against a recorded payload
without a live session.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from datetime import datetime, timezone

# Python-boundary SQL nodes and the metric names Spark 4.1 gives them.
PYTHON_NODE_NAMES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
)
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "to_py_mb",
    "data returned from Python workers": "from_py_mb",
    "number of output rows": "rows",
}

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
               "EiB": 2**60, "PiB": 2**50}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_MAX_STAGE_RE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)\)\s*$")


def parse_metric_value(text: str) -> float:
    """Total of one SQL metric string, in seconds, bytes or a plain count.

    Handles the single-value form (``"2,973"``, ``"45 ms"``, ``"3.3 KiB"``)
    and the per-task form whose second line starts with the total
    (``"total (min, med, max ...)\\n14.8 s (277 ms, ...)"``)."""
    lines = text.strip().splitlines()
    body = lines[-1] if lines[0].startswith("total") else lines[0]
    m = _VALUE_RE.match(body)
    if not m:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    if unit:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return number


def max_task_stage(text: str) -> tuple[int, int] | None:
    """(stageId, attempt) of the task that holds a per-task metric's max."""
    m = _MAX_STAGE_RE.search(text.strip())
    return (int(m.group(1)), int(m.group(2))) if m else None


def python_node_totals(executions: list[dict]) -> dict:
    """Sum the Python-boundary node metrics over SQL executions.

    Returns seconds for the three times, MB for the two byte counts, a row
    count, the node count, and ``stages``: (stageId, attempt) of the
    slowest task of each node, with the node's run time, so a caller can
    look at the stage that holds the Python work."""
    out = {v: 0.0 for v in PY_METRICS.values()}
    out["nodes"] = 0
    out["stages"] = []
    for ex in executions:
        for node in ex.get("nodes", []):
            if node.get("nodeName") not in PYTHON_NODE_NAMES:
                continue
            out["nodes"] += 1
            for metric in node.get("metrics", []):
                key = PY_METRICS.get(metric["name"])
                if key is None:
                    continue
                value = parse_metric_value(metric["value"])
                if key.endswith("_mb"):
                    value /= 2**20
                out[key] += value
                stage = max_task_stage(metric["value"])
                if key == "py_run_s" and stage is not None:
                    out["stages"].append((stage, value))
    return out


def stage_totals(stages: list[dict]) -> dict:
    """Shuffle, spill, output and executor time summed over stage records."""
    mb = 1 / 2**20
    total = {
        "shuffle_write_mb": 0.0, "shuffle_records": 0.0,
        "shuffle_write_s": 0.0, "fetch_wait_s": 0.0, "spill_mb": 0.0,
        "output_mb": 0.0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
    }
    for s in stages:
        total["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) * mb
        total["shuffle_records"] += s.get("shuffleWriteRecords", 0)
        total["shuffle_write_s"] += s.get("shuffleWriteTime", 0) / 1e9
        total["fetch_wait_s"] += s.get("shuffleFetchWaitTime", 0) / 1e3
        total["spill_mb"] += (s.get("memoryBytesSpilled", 0)
                              + s.get("diskBytesSpilled", 0)) * mb
        total["output_mb"] += s.get("outputBytes", 0) * mb
        total["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        total["run_s"] += s.get("executorRunTime", 0) / 1e3
        total["gc_s"] += s.get("jvmGcTime", 0) / 1e3
    return total


def task_skew(tasks: list[dict]) -> float:
    """Max over median task run time of one stage (1.0 = perfectly even)."""
    times = [t["taskMetrics"]["executorRunTime"] for t in tasks
             if t.get("status") == "SUCCESS" and "taskMetrics" in t]
    if not times:
        return 0.0
    med = statistics.median(times)
    return max(times) / med if med > 0 else float(max(times) > 0)


def jvm_heap_peak_mb(executors: list[dict]) -> float:
    """Peak used JVM heap of the driver, in MB, from the ``executors``
    payload. Spark samples it at each executor heartbeat, so it is the
    largest sampled value since the application started."""
    driver = next(e for e in executors if e["id"] == "driver")
    return driver["peakMemoryMetrics"]["JVMHeapMemory"] / 2**20


def parse_time(stamp: str) -> float:
    """Epoch seconds of a REST timestamp such as 2026-10-17T03:09:08.336GMT."""
    return datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
                             ).replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Client for one application's REST endpoints on the local UI."""

    def __init__(self, ui_url: str, app_id: str, timeout: float = 10.0):
        if not ui_url.startswith(("http://localhost", "http://127.0.0.1")):
            # UI bound to a hostname: keep the port, talk to the loopback
            port = ui_url.rsplit(":", 1)[1]
            ui_url = f"http://localhost:{port}"
        self.base = f"{ui_url}/api/v1/applications/{app_id}"
        self.timeout = timeout

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}",
                                    timeout=self.timeout) as resp:
            return json.load(resp)

    def jobs(self) -> list[dict]:
        return self.get("jobs")

    def executions(self) -> list[dict]:
        return self.get("sql?details=true&planDescription=false"
                        "&offset=0&length=100000")

    def executors(self) -> list[dict]:
        return self.get("executors")

    def stages(self) -> list[dict]:
        return self.get("stages")

    def tasks(self, stage_id: int, attempt: int) -> list[dict]:
        return self.get(f"stages/{stage_id}/{attempt}/taskList"
                        "?offset=0&length=100000")

    def high_water(self) -> tuple[int, int]:
        """Largest job id and SQL execution id seen so far (-1 if none)."""
        jobs = self.jobs()
        execs = self.get("sql?details=false&offset=0&length=100000")
        return (max((j["jobId"] for j in jobs), default=-1),
                max((e["id"] for e in execs), default=-1))

    def window(self, mark: tuple[int, int], settle_s: float = 10.0) -> dict:
        """Jobs, stages and SQL executions started after ``mark``.

        The status store is fed asynchronously by the listener bus, so
        poll until every job and execution in the window has finished."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = [j for j in self.jobs() if j["jobId"] > mark[0]]
            execs = [e for e in self.executions() if e["id"] > mark[1]]
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                e["status"] == "RUNNING" for e in execs)
            if not busy or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        stages = [s for s in self.stages() if s["stageId"] in stage_ids
                  and s.get("status") == "COMPLETE"]
        return {"jobs": jobs, "stages": stages, "executions": execs}
