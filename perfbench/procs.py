"""Process-tree helpers read from ``/proc`` (``psutil`` is not available).

The driver's tree is the Python driver itself, the JVM it launches and the
Python worker daemon plus the workers the JVM forks.
"""

from __future__ import annotations

import os
import time


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(pid: int | None = None) -> dict[str, float]:
    """``VmHWM`` (peak resident set) in MB of ``pid`` and each descendant,
    keyed ``<command>:<pid>``."""
    root = os.getpid() if pid is None else pid
    out = {}
    for p in [root] + descendants(root):
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[f"{name}:{p}"] = _status_kb(p, "VmHWM") / 1024.0
    return out


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"
