"""Host facts read from /proc: process-tree memory, load, fingerprint."""

from __future__ import annotations

import os
import platform
import threading
from pathlib import Path


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # exited while we looked
            continue
        # the command name may hold spaces and ')' : ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (not ``pid`` itself)."""
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(pid: int) -> dict:
    """Memory of ``pid`` and all its descendants, in bytes: the total, the
    JVM's, the Python workers', and the worker count.

    Each process counts its proportional set size (resident pages, shared
    ones split among the processes sharing them). Plain RSS would count
    twice the pages that forked Python workers share with their daemon,
    and the whole JVM again while it spawns a child."""
    out = {"total": 0, "jvm": 0, "workers": 0, "worker_procs": 0}
    for p in [pid, *descendants(pid)]:
        try:
            rss = _pss_bytes(p)
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        out["total"] += rss
        if comm == "java":
            out["jvm"] += rss
        elif p != pid and comm.startswith("python"):
            out["workers"] += rss
            out["worker_procs"] += 1
    return out


class PeakRss:
    """Samples the process tree's memory on a thread; keeps the peak of
    each of ``tree_rss_bytes``'s fields on its own."""

    def __init__(self, pid: int | None = None, interval_s: float = 0.1):
        self.pid = pid or os.getpid()
        self.interval_s = interval_s
        self.peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for key, value in tree_rss_bytes(self.pid).items():
            self.peak[key] = max(self.peak.get(key, 0), value)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_head(root: Path) -> str | None:
    """Commit of a git checkout, read from .git without running git."""
    head = root / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    name = ref[5:]
    loose = root / ".git" / name
    if loose.is_file():
        return loose.read_text().strip()
    packed = root / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    return None


def host_fingerprint(root: Path) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_head": git_head(root),
    }
